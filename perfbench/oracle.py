"""Independent pandas / numpy oracles for the benchmark's output checks.

Nothing here calls the engine. The network oracle recomputes node and
edge counts from the generated PCHiC TSV; the search oracle re-derives
the reference's name-search semantics over the served node and edge
tables read with pyarrow; the ANN oracle is exact cosine top-k in numpy.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

THRESHOLD = 5.0

_RANGE_RE = re.compile(r"^(([12]?[0-9])|([XYxy])):(\d+)(-(\d+))?$")
_FRAGMENT_RE = re.compile(r"^(([12]?[0-9])|([XYxy]))_\d+_\d+$", re.IGNORECASE)
_NONWORD = re.compile(r"[^a-z0-9_]+")


# --- network build ------------------------------------------------------

def network_counts(pchic_path: str) -> dict:
    """Nodes, promoters and simplified edges of the thresholded table."""
    d = pd.read_csv(pchic_path, sep="\t", dtype={"baitChr": str, "oeChr": str},
                    usecols=["baitChr", "baitStart", "baitEnd", "oeChr", "oeStart", "oeEnd", "Mon"])
    d = d[d["Mon"] > THRESHOLD]
    b = d["baitChr"] + "_" + d["baitStart"].astype(str) + "_" + d["baitEnd"].astype(str)
    o = d["oeChr"] + "_" + d["oeStart"].astype(str) + "_" + d["oeEnd"].astype(str)
    baits = set(b)
    lo = np.where(b < o, b, o)
    hi = np.where(b < o, o, b)
    keep = lo != hi
    edges = set(zip(lo[keep], hi[keep]))
    return {"nodes": len(baits | set(o)), "promoters": len(baits), "edges": len(edges)}


def read_table(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """A hive-partitioned parquet directory as pandas. Files are listed
    by hand: partition directories such as ``_cell=3`` start with the
    underscore pyarrow would skip."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and not f.startswith(".")
    )
    data = ds.dataset(files, format="parquet", partitioning="hive", partition_base_dir=path)
    return data.to_table(columns=columns).to_pandas()


# --- search -------------------------------------------------------------

class SearchOracle:
    """The reference's name search (network_generator_lib.R:86-129):
    word-boundary token match on gene names and aliases, fragment ids by
    exact match, multi-term strings split on ``[, \\t]`` and unioned,
    result = union of per-seed ego graphs with per-subnetwork degree."""

    def __init__(self, nodes: pd.DataFrame, edges: pd.DataFrame) -> None:
        self.nodes = nodes.assign(chr=nodes["chr"].astype(str)).set_index("fragment", drop=False)
        alias_col = nodes["alias"].fillna("") if "alias" in nodes else ""
        blob = (nodes["gene_names"].fillna("") + " " + alias_col).str.lower()
        self.tokens: dict[str, set[str]] = {}
        for frag, text in zip(nodes["fragment"], blob):
            for t in _NONWORD.split(text):
                if t:
                    self.tokens.setdefault(t, set()).add(frag)
        self.adj: dict[str, set[str]] = {}
        for s, t in zip(edges["src"], edges["dst"]):
            self.adj.setdefault(s, set()).add(t)
            self.adj.setdefault(t, set()).add(s)

    def _seeds(self, term: str) -> set[str]:
        if _FRAGMENT_RE.match(term):
            t = term.upper()
            return {t} if t in self.nodes.index else set()
        if _RANGE_RE.match(term):
            raise ValueError(f"range terms are not modelled by this oracle: {term!r}")
        return set(self.tokens.get(term.lower(), set()))

    def search(self, search: str):
        """Name and fragment terms -> (node ids, edges as (src, dst),
        seeds, degree per node): the union of per-seed ego graphs."""
        seeds: set[str] = set()
        for term in (t for t in re.split(r"[,\s\t]+", search.strip()) if t):
            seeds |= self._seeds(term)
        nodes: set[str] = set()
        edges: set[tuple[str, str]] = set()
        for s in seeds:
            ego = {s} | self.adj.get(s, set())
            nodes |= ego
            for u in ego:
                for v in self.adj.get(u, ()):
                    if v in ego and u < v:
                        edges.add((u, v))
        deg: dict[str, int] = {n: 0 for n in nodes}
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        return nodes, edges, seeds, deg


def parse_cytoscape(result: str):
    """Served JSON -> (node ids, edges, searched ids, degree per node)."""
    import json

    if result == "{}":
        return set(), set(), set(), {}
    els = json.loads(result)["elements"]
    nodes, edges, seeds, deg = set(), set(), set(), {}
    for el in els:
        d = el["data"]
        if el["group"] == "nodes":
            nodes.add(d["id"])
            deg[d["id"]] = int(d.get("degree", -1))
            if d.get("searched") == "true":
                seeds.add(d["id"])
        else:
            s, t = d["source"], d["target"]
            edges.add((s, t) if s < t else (t, s))
    return nodes, edges, seeds, deg


# --- uploads --------------------------------------------------------------

def finite_metadata(meta) -> bool:
    """Every number in the nested metadata is finite; every random-ChAS
    interval string is two finite numbers. ``None`` leaves are allowed
    where the reference allows NA (ChAS of a constant feature)."""
    if isinstance(meta, dict):
        return all(finite_metadata(v) for v in meta.values())
    if isinstance(meta, (int, float)):
        return math.isfinite(meta)
    if isinstance(meta, str):
        try:
            return all(math.isfinite(float(x)) for x in meta.split(","))
        except ValueError:
            return False
    return meta is None


# --- corpus ---------------------------------------------------------------

def gopher_keep(text: str) -> bool:
    """The Gopher rule subset the curation face applies."""
    words = text.split()
    n = len(words)
    if n == 0:
        return False
    chars = len(text) - len(re.findall(r"\s", text))
    mean_wl = round(chars / n, 9)
    sym = round(len(re.findall(r"#|\.\.\.", text)) / n, 9)
    alpha = round(sum(1 for w in words if re.search("[A-Za-z]", w)) / n, 9)
    return 50 <= n <= 100_000 and 3 <= mean_wl <= 10 and sym < 0.1 and alpha > 0.8


def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray, queries: np.ndarray, k: int) -> list[set[int]]:
    """Exact cosine top-k ids per query (vectors are unit-normalised)."""
    sims = queries.astype(np.float64) @ corpus.astype(np.float64).T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return [set(corpus_ids[row].tolist()) for row in top]
