"""search_subnetwork against a pure-Python ego oracle: hub seeds, edge
inputs (neighbours of different seeds, isolated seeds, mixed range and
name terms, NULL names), the "{}" sentinel, pinned vs unpinned seed
probes, and identical output at any shuffle partitioning."""

import json
import re
import tempfile
from collections import Counter

import pytest

from garden_net_backend_spark.plans.search import (
    build_token_index,
    pin_serving_adjacency,
    search_subnetwork,
)
from garden_net_backend_spark.plans.serving import ResultCache, serve_search

NODE_SCHEMA = (
    "fragment string, chr string, start long, end long, gene_names string,"
    " alias string, type string, degree long"
)
_RANGE = re.compile(r"^([0-9XY]+):(\d+)-(\d+)$")


def _ego_oracle(nodes, edges, search):
    """The reference semantics over Python rows: each name/fragment
    seed contributes its own ego graph, all range seeds together the
    induced subgraph over the union of their ego sets. Range terms here
    always overlap a node (no nearest fallback)."""
    kinds: dict[str, set] = {}
    for term in (t for t in re.split(r"[,\s\t]+", search.strip()) if t):
        m = _RANGE.match(term)
        for n in nodes:
            if m:
                hit = (n["chr"] == m.group(1) and n["start"] <= int(m.group(3))
                       and n["end"] >= int(m.group(2)))
                kind = "range"
            elif "_" in term:
                hit, kind = n["fragment"] == term.upper(), "name"
            else:
                blob = f"{n['gene_names'] or ''} {n['alias'] or ''}".lower()
                hit, kind = term.lower() in re.split(r"[^a-z0-9_]+", blob), "name"
            if hit:
                kinds.setdefault(n["fragment"], set()).add(kind)
    adj: dict[str, set] = {}
    for s, d, _t in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    ego = {s: {s} | adj.get(s, set()) for s in kinds}
    groups = [ego[s] for s, k in kinds.items() if "name" in k]
    groups.append(set().union(*(ego[s] for s, k in kinds.items() if "range" in k)))
    hood = set().union(*groups)
    sub_edges = sorted(
        e for e in edges if any(e[0] in g and e[1] in g for g in groups)
    )
    deg = Counter(x for s, d, _t in sub_edges for x in (s, d))
    sub_nodes = {
        n["fragment"]: ("true" if n["fragment"] in kinds else "false", deg[n["fragment"]])
        for n in nodes
        if n["fragment"] in hood
    }
    return sub_nodes, sub_edges


def _frames(spark, nodes, edges):
    """Persisted frames, as a serving session holds its tables."""
    out = (
        spark.createDataFrame([tuple(n.values()) for n in nodes], NODE_SCHEMA),
        spark.createDataFrame(edges, "src string, dst string, type string"),
    )
    for df in out:
        df.persist().count()
    return out


def _got(sub_nodes, sub_edges):
    assert sub_nodes.columns[-2:] == ["searched", "degree"]
    return (
        {r["fragment"]: (r["searched"], r["degree"]) for r in sub_nodes.collect()},
        sorted(tuple(r) for r in sub_edges.select("src", "dst", "type").collect()),
    )


def _node(frag, genes=None, alias=None):
    chrom, start, end = frag.split("_")
    return {"fragment": frag, "chr": chrom, "start": int(start), "end": int(end),
            "gene_names": genes, "alias": alias, "type": "P", "degree": 0}


# A and B are name seeds whose neighbours a1 and b1 are joined by an
# edge: it belongs to no single seed's ego graph, but to the induced
# subgraph when a range covers both. I has no edges. N matches only by
# alias (NULL gene_names); n1 has NULL names and alias.
EDGE_NODES = [
    _node("1_100_200", "GA"), _node("1_300_400", ""), _node("1_500_600", "GA;GX"),
    _node("1_700_800", "GB"), _node("1_900_1000", None), _node("1_1100_1200", "FAR"),
    _node("2_100_200", "GI"), _node("2_300_400", None, "ALN"), _node("2_500_600"),
]
EDGE_EDGES = [
    ("1_100_200", "1_300_400", "P-O"), ("1_100_200", "1_500_600", "P-P"),
    ("1_300_400", "1_500_600", "O-P"), ("1_700_800", "1_900_1000", "P-O"),
    ("1_300_400", "1_900_1000", "O-O"), ("1_1100_1200", "1_900_1000", "P-O"),
    ("2_300_400", "2_500_600", "P-O"),
]
EDGE_TERMS = [
    "GA GB",            # a1-b1 joins neighbours of different seeds: excluded
    "1:100-800",        # the same seeds by range: a1-b1 induced, included
    "gi",               # isolated seed
    "GI, 1:850-950",    # mixed: isolated name seed + range seed b1
    "1:150-350, GB",    # mixed: range over A, a1 and name seed B
    "ALN",              # alias-only match, NULL gene_names
    "2_300_400, GA",    # fragment term + gene term
    "NoSuchGene",       # "{}" sentinel
]


@pytest.mark.parametrize("partitions", [1, 7])
def test_search_edge_inputs_match_ego_oracle(spark, partitions):
    nodes, edges = _frames(spark, EDGE_NODES, EDGE_EDGES)
    tok = build_token_index(nodes)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        for term in EDGE_TERMS:
            want = _ego_oracle(EDGE_NODES, EDGE_EDGES, term)
            got = _got(*search_subnetwork(nodes, edges, term, token_index=tok))
            assert got == want, term
            # without the token index: the regex-scan seed path
            out, hit = serve_search(ResultCache(tempfile.mkdtemp()), nodes, edges, term)
            assert not hit
            if not want[0]:
                assert out == "{}"
                continue
            els = json.loads(out)["elements"]
            node_data = [e["data"] for e in els if e["group"] == "nodes"]
            assert {d["id"]: (d["searched"], d["degree"]) for d in node_data} == want[0]
            assert all(list(d)[-1] == "searched" for d in node_data)
            edge_data = [e["data"] for e in els if e["group"] == "edges"]
            assert sorted((d["source"], d["target"], d["type"]) for d in edge_data) == want[1]
            groups = [e["group"] for e in els]
            assert groups == sorted(groups, key=lambda g: g != "nodes")
            for block in (node_data, edge_data):
                assert [d["id"] for d in block] == sorted(d["id"] for d in block)
        assert _ego_oracle(EDGE_NODES, EDGE_EDGES, "GA GB")[1] != _ego_oracle(
            EDGE_NODES, EDGE_EDGES, "1:100-800")[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _hub_graph(n=2500):
    hub = "1_0_99"
    leaves = [f"1_{1000 * (i + 1)}_{1000 * (i + 1) + 99}" for i in range(n)]
    far = [f"2_{1000 * (i + 1)}_{1000 * (i + 1) + 99}" for i in range(50)]
    nodes = ([_node(hub, "HUBGENE")] + [_node(x, f"L{i}") for i, x in enumerate(leaves)]
             + [_node(x) for x in far])
    edges = [(hub, x, "P-O") for x in leaves]
    edges += [(leaves[i], leaves[i + 1], "O-O") for i in range(0, n - 1, 2)]
    edges += [(leaves[i], far[i % len(far)], "O-O") for i in range(0, n, 7)]
    edges += [(far[i], far[i + 1], "O-O") for i in range(len(far) - 1)]
    return nodes, edges


def test_search_hub_seed_matches_ego_oracle(spark):
    """A hub seed with 2.5k neighbours: its ego graph (and a second seed
    among the leaves) matches the oracle, with and without the token
    index."""
    hub_nodes, hub_edges = _hub_graph()
    nodes, edges = _frames(spark, hub_nodes, hub_edges)
    tok = build_token_index(nodes)
    for term in ("HUBGENE", "HUBGENE, L7"):
        want = _ego_oracle(hub_nodes, hub_edges, term)
        assert len(want[0]) > 2500
        for idx in (None, tok):
            assert _got(*search_subnetwork(nodes, edges, term, token_index=idx)) == want


def test_search_pinned_matches_unpinned(spark):
    """A pinned adjacency (pin_serving_adjacency) only changes where the
    seed probe reads from: every output row is the same."""
    for graph_nodes, graph_edges, terms in (
        (EDGE_NODES, EDGE_EDGES, ["GA GB", "1:150-350, GB", "NoSuchGene"]),
        (*_hub_graph(), ["HUBGENE, L7"]),
    ):
        nodes, edges = _frames(spark, graph_nodes, graph_edges)
        sym = pin_serving_adjacency(edges)
        try:
            for term in terms:
                base = _got(*search_subnetwork(nodes, edges, term))
                assert _got(*search_subnetwork(nodes, edges, term, pinned_sym=sym)) == base
        finally:
            sym.unpersist()
