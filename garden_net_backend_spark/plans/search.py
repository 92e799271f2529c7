"""Interactive search layer (reference search_subnetwork,
network_generator_lib.R:212-231; SURVEY.md §2.7 Q1-Q7).

Dispatch by regex on the search string, exactly as the reference:

  Q1  range      ``chr:start[-end]``      → overlap filter (±expand) or
                                            nearest fallback
  Q2  fragment   ``chr_start_end``        → exact vertex lookup
  Q3  gene name  anything else            → word-boundary match against
                                            gene_names + alias
  Q4  ensembl id ``ENS[MUS]G…``           → translate via ensembl2name,
                                            then Q3
  Q5  multi-term split on ``[, \\t]``     → union of Q3/Q4 results

Result shape follows the reference's union-of-graphs semantics
(search_vertex_by_names: make_ego_graph per matched vertex +
union_graphs_with_attributes, network_generator_lib.R:86-129): for
name-matched seeds the edge set is the UNION OF PER-SEED EGO GRAPHS —
an edge qualifies only when one seed's ego set contains both endpoints
— while range searches take the induced subgraph over the union of the
matched fragments' ego node sets (the reference's induced-on-union is
range-only). Matched nodes are flagged ``searched`` (serialized as the
string "true"/"false" — reference network_generator_lib.R:87-88) and
per-subnetwork degree is recomputed (Q7, reference :223-226).

Serving-scale design: resolve once, then one flat plan. A search's
seeds and their ego sets are interactive-sized, so they are settled on
the driver in two small jobs, and only the final subnetwork is a Spark
plan:

1. ``resolve_search_seeds`` is collected (one job for a term that
   matches nothing, two otherwise). A gene term probes the inverted
   token index (``build_token_index``) with an equi-join; the full-table
   regex scan survives only for terms with non-word characters. Tokens
   split on non-word characters, so token equality is exactly the
   reference's ``\\bterm\\b`` match for word-only terms.
2. One probe job collects the seeds' incident edges (a literal
   ``IN`` filter; off ``pin_serving_adjacency`` when one is passed).
3. The driver builds every seed's ego set and ships them back as ONE
   membership relation, one row per hood node: ``(node, groups,
   searched)``. Each name seed is its own ego group (union of per-seed
   ego graphs); all range seeds share one group (induced on the union).
   The relation travels as one JSON string literal, so a 20k-node hood
   costs O(1) py4j calls.
4. The plan: edges ⋈ m(src) ⋈ m(dst) kept where the two endpoints'
   groups overlap, nodes ⋈ m, and one degree aggregate. Nothing in it
   is recomputed per branch, and it needs no ``distinct``: the edge
   table is simplified (one row per undirected edge), as
   ``build_network`` writes it.

On the benchmark's network a search miss runs 8 Spark jobs for a gene
term and 11 for a range term, where the per-branch plan it replaced
ran 52 and 139 (SCALING.md, serving section).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import degrees, symmetrize
from ..operators.interval import range_query

_RANGE_RE = re.compile(r"^(([12]?[0-9])|([XYxy])):(\d+)(-(\d+))?$")
_FRAGMENT_RE = re.compile(r"^(([12]?[0-9])|([XYxy]))_\d+_\d+$", re.IGNORECASE)
_ENSEMBL_RE = re.compile(r"^ens(mus)?g\d+", re.IGNORECASE)
# a term made only of word characters can be answered from the token
# index: token equality ≡ \bterm\b (word boundaries fall exactly at
# non-word characters, which are the token delimiters)
_WORD_TERM_RE = re.compile(r"^[a-z0-9_]+$")
_NONWORD_SPLIT = r"[^a-z0-9_]+"


def _name_blob(nodes: DataFrame, alias_col: str | None = "alias"):
    cols = [F.col("gene_names")]
    if alias_col and alias_col in nodes.columns:
        cols.append(F.col(alias_col))
    return F.lower(F.concat_ws(" ", *cols))


def build_token_index(nodes: DataFrame, alias_col: str | None = "alias") -> DataFrame:
    """Inverted index (token_lower → fragment) over gene_names + alias —
    the scalable replacement for the reference's per-query regex scan of
    every vertex (network_generator_lib.R:90-129): a gene query becomes
    an equi-join instead of a full scan. Tokens split on non-word
    characters so an index probe is exactly the reference's
    word-boundary regex for word-only terms."""
    return (
        nodes.select(
            F.col("fragment"),
            F.explode(F.split(_name_blob(nodes, alias_col), _NONWORD_SPLIT)).alias(
                "token"
            ),
        )
        .filter(F.col("token") != "")
        .distinct()
    )


def _gene_seeds(
    nodes: DataFrame,
    term: str,
    alias_col: str = "alias",
    token_index: DataFrame | None = None,
) -> DataFrame:
    """Q3: case-insensitive word-boundary match of the term against
    gene_names (+ alias when present) — reference regex(\\bterm\\b)
    at network_generator_lib.R:112. Probes the token index when one is
    supplied and the term is word-only (equi-join, no scan); otherwise
    falls back to the full regex scan the reference performs."""
    t = term.lower()
    if token_index is not None and _WORD_TERM_RE.match(t):
        return token_index.filter(F.col("token") == t).select("fragment")
    blob = _name_blob(nodes, alias_col)
    pat = r"\b" + re.escape(t) + r"\b"
    return nodes.filter(blob.rlike(pat)).select("fragment")


def _ensembl_seeds(
    nodes: DataFrame,
    term: str,
    ensembl2name: DataFrame,
    alias_col: str = "alias",
    token_index: DataFrame | None = None,
) -> DataFrame:
    """Q4: ensembl id → gene name(s) via ensembl2name, then Q3
    (reference network_generator_lib.R:95-99) — as ONE join plan
    (ensembl2name ⋈ token_index), no driver round-trip: the matching
    names are lowered and equi-joined against the token index. Gene
    symbols are single tokens, for which the probe is exactly the
    reference's \\bname\\b regex; a multi-token name (non-word chars
    inside) is confirmed by a space-normalized containment check on the
    index candidates only."""
    if token_index is None:
        token_index = build_token_index(nodes, alias_col)
    names = (
        ensembl2name.filter(F.lower(F.col("ensembl_id")) == term.lower())
        .select(
            F.trim(
                F.regexp_replace(F.lower(F.col("gene_name")), _NONWORD_SPLIT, " ")
            ).alias("name")
        )
        .filter(F.col("name") != "")
        .distinct()
    )
    ntok = names.select(
        "name", F.explode(F.split("name", " ")).alias("token")
    ).distinct()
    need = ntok.groupBy("name").agg(F.count("*").alias("need"))
    # candidates: fragments containing ALL tokens of a name
    cand = (
        token_index.join(F.broadcast(ntok), "token")
        .groupBy("fragment", "name")
        .agg(F.count("*").alias("got"))
        .join(F.broadcast(need), "name")
        .filter(F.col("got") == F.col("need"))
    )
    # adjacency confirm for multi-token names, on candidates only:
    # normalize the blob's delimiters to single spaces, then the
    # word-boundary match is plain containment of ' name '
    norm = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(_name_blob(nodes, alias_col), _NONWORD_SPLIT, " ")),
        F.lit(" "),
    )
    confirmed = (
        cand.join(nodes.select("fragment", norm.alias("nblob")), "fragment")
        .filter(
            F.instr(F.col("nblob"), F.concat(F.lit(" "), F.col("name"), F.lit(" ")))
            > 0
        )
        .select("fragment")
        .distinct()
    )
    return confirmed


def _range_seeds(
    nodes: DataFrame, term: str, expand: int, nearest: bool
) -> DataFrame:
    m = _RANGE_RE.match(term)
    chrom = m.group(1).upper()
    qstart = int(m.group(4))
    qend = int(m.group(6)) if m.group(6) else qstart
    hits = range_query(nodes, chrom, qstart, qend, expand=expand).select("fragment")
    # nearest/fallback candidate: single closest fragment (reference
    # network_generator_lib.R:177-193). ONE query point needs no as-of
    # machinery: a chromosome-pruned filter + one combinable
    # min(struct) aggregate — same winner and the same
    # (distance, start, end, id) tie-break as the generic
    # nearest_interval_join kernel (q20/J7), at a fraction of the
    # stages (the union-sort kernel cost ~2.8s of the q69 gate for a
    # 1-row query; this is one scan). This is also the serving shape:
    # an interactive query touches one chromosome partition, not a
    # global union-sort.
    qs2, qe2 = qstart - expand, qend + expand
    dist = F.greatest(
        F.col("start") - F.lit(qe2), F.lit(qs2) - F.col("end"), F.lit(0)
    )
    best = (
        nodes.filter(F.col("chr") == chrom)
        .agg(
            F.min(
                F.struct(
                    dist.alias("_d"),
                    F.col("start").alias("_s"),
                    F.col("end").alias("_e"),
                    F.col("fragment").alias("_f"),
                )
            ).alias("_b")
        )
        .filter(F.col("_b").isNotNull())
        .select(F.col("_b._f").alias("fragment"))
    )
    if nearest:
        return best
    # "hits if any, else nearest" folded into ONE lazy plan (the r6
    # verdict flagged the previous hits.limit(1).isEmpty() here — an
    # eager driver action PER RANGE TERM on the interactive path):
    # the fallback row is gated by an EMPTY-MARKER semi-join — a 1-row
    # "hits came up empty" aggregate broadcast against the fallback
    # side, with the union OUTSIDE the join. The earlier shape
    # (min-priority semi-join ABOVE a union of both branches) never
    # reached an optimizer fixpoint: semi-join-through-union pushdown
    # and filter inference ping-pong, so every range term hit the
    # maxIterations=100 wall and led the bench tail with a WARN
    # (review r10; same cosmetic class as r9's WindowExec finding).
    # Join keys are non-foldable empty strings (the q14/q45 constant
    # trick) so the equality cannot fold to TRUE and degrade the
    # BroadcastHashJoin into a BroadcastNestedLoopJoin. The fallback
    # aggregate still always runs — one chromosome-pruned combinable
    # min, cheaper than the driver-synchronized job it replaced.
    marker = (
        hits.agg(F.count("*").alias("_n"))
        .filter(F.col("_n") == 0)
        .select(F.substring(F.col("_n").cast("string"), 1, 0).alias("_j"))
    )
    fallback = (
        best.withColumn("_j", F.substring(F.col("fragment"), 1, 0))
        .join(F.broadcast(marker), "_j", "left_semi")
        .select("fragment")
    )
    return hits.unionByName(fallback)


def _classify_terms(
    search: str, ensembl2name: DataFrame | None
) -> list[tuple[str, str]]:
    """Split the search string and classify every term into its dispatch
    arm ('range' | 'fragment' | 'ensembl' | 'gene') — the ONE place the
    reference's regex dispatch (network_generator_lib.R:78-231) is
    encoded."""
    terms = [t for t in re.split(r"[,\s\t]+", search.strip()) if t]
    out: list[tuple[str, str]] = []
    for term in terms:
        if _RANGE_RE.match(term):
            out.append((term, "range"))
        elif _FRAGMENT_RE.match(term):
            out.append((term, "fragment"))
        elif _ENSEMBL_RE.match(term) and ensembl2name is not None:
            out.append((term, "ensembl"))
        else:
            out.append((term, "gene"))
    return out


def resolve_search_seeds(
    nodes: DataFrame,
    search: str,
    ensembl2name: DataFrame | None = None,
    expand: int = 0,
    nearest: bool = False,
    token_index: DataFrame | None = None,
) -> DataFrame:
    """The dispatch step alone: search string → tagged seed fragments
    ``(fragment, kind)`` with kind 'range' (Q1) or 'name' (Q2/Q3/Q4 —
    downstream they share the union-of-per-seed-ego semantics while
    range seeds take induced-on-union). Multi-term strings split on
    ``[, \\t]`` and union per term (Q5, reference
    network_generator_lib.R:218). This is the surface the q69 gate
    verifies arm-by-arm against a SQL replica of the reference's regex
    dispatch (network_generator_lib.R:78-231)."""
    frames: list[DataFrame] = []
    for term, arm in _classify_terms(search, ensembl2name):
        if arm == "range":
            frames.append(
                _range_seeds(nodes, term, expand, nearest).withColumn(
                    "kind", F.lit("range")
                )
            )
        elif arm == "fragment":
            frames.append(
                nodes.filter(F.col("fragment") == term.upper())
                .select("fragment")
                .withColumn("kind", F.lit("name"))
            )
        elif arm == "ensembl":
            frames.append(
                _ensembl_seeds(
                    nodes, term, ensembl2name, token_index=token_index
                ).withColumn("kind", F.lit("name"))
            )
        else:
            frames.append(
                _gene_seeds(nodes, term, token_index=token_index).withColumn(
                    "kind", F.lit("name")
                )
            )
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out.distinct()


def pin_serving_adjacency(
    edges: DataFrame, partitions: int | None = None
) -> DataFrame:
    """Serving-side adjacency index: the symmetrized edge list
    range-partitioned and SORTED by src, cached and materialized. Built
    once at ingest; pass it to ``search_subnetwork`` as ``pinned_sym``
    and the per-request seed probe (a literal ``src IN (seed...)``
    filter) reads only the cached batches whose min/max stats on the
    sorted src column can hold a seed, instead of every edge. This is
    the local-mode analogue of an edge table bucketed and sorted by
    src, where a seed probe reads only the matching row groups."""
    spark = edges.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    sym = (
        symmetrize(edges.select("src", "dst"))
        .repartitionByRange(partitions, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    sym.count()
    return sym


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _in_list(col: str, values: list[str]) -> str:
    return f"{col} IN ({', '.join(map(_sql_str, values))})"


def _ego_sets(
    e: DataFrame, seeds: list[str], pinned_sym: DataFrame | None
) -> dict[str, set[str]]:
    """{seed: {seed} ∪ N(seed)} from ONE collect of the seeds' incident
    edges. The seed list travels as one SQL ``IN`` expression, so a
    cached scan can skip batches by their src/dst stats."""
    if pinned_sym is not None:
        probe = pinned_sym.filter(F.expr(_in_list("src", seeds)))
    else:
        probe = e.filter(
            F.expr(f"{_in_list('src', seeds)} OR {_in_list('dst', seeds)}")
        )
    ego = {s: {s} for s in seeds}
    for u, v in probe.select("src", "dst").collect():
        if u in ego:
            ego[u].add(v)
        if v in ego:
            ego[v].add(u)
    return ego


def _membership(
    spark, kinds: dict[str, set[str]], ego: dict[str, set[str]]
) -> DataFrame:
    """The hood as ``(node, groups, searched)``, one row per node,
    shipped as ONE JSON string literal that the optimizer folds into a
    constant array (O(1) py4j calls, never a literal per element; a
    ``VALUES`` list of the same rows costs the SQL parser seconds at
    35k rows). Group ``i`` is the ego set of the i-th name seed; every
    range seed's ego set is the shared last group, so an edge whose
    endpoints share a group is exactly an edge of the union of per-seed
    ego graphs (name seeds) or of the induced-on-union (range seeds)."""
    name_seeds = sorted(s for s, k in kinds.items() if "name" in k)
    range_group = len(name_seeds)
    groups: dict[str, list[int]] = {}
    for g, s in enumerate(name_seeds):
        for x in ego[s]:
            groups.setdefault(x, []).append(g)
    for s in (s for s, k in kinds.items() if "range" in k):
        for x in ego[s]:
            gs = groups.setdefault(x, [])
            if not gs or gs[-1] != range_group:
                gs.append(range_group)
    rows = [
        {"node": x, "groups": gs, "searched": x in kinds}
        for x, gs in sorted(groups.items())
    ]
    m = spark.sql(
        f"SELECT inline(from_json({_sql_str(json.dumps(rows))}, "
        "'array<struct<node:string,groups:array<int>,searched:boolean>>'))"
    )
    # an empty relation, not an empty generator, lets the optimizer
    # prune the whole plan of a no-match search to zero jobs
    return m if rows else m.limit(0)


def search_subnetwork(
    nodes: DataFrame,
    edges: DataFrame,
    search: str,
    ensembl2name: DataFrame | None = None,
    expand: int = 0,
    nearest: bool = False,
    token_index: DataFrame | None = None,
    pinned_sym: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dispatch → seeds → union of per-seed ego graphs (name terms) /
    induced-on-union (range terms) → per-subnet degree. Returns
    (sub_nodes with ``searched`` string flag and recomputed ``degree``,
    sub_edges). Empty seeds → empty frames whose plans run no job (the
    "{}" sentinel belongs to the serialization layer).

    Seeds and their ego sets are collected first (module docstring), so
    the returned frames are one flat plan over ``nodes`` and ``edges``.
    Pass ``token_index`` (materialized by plans/materialize) to answer
    gene queries with an index probe instead of a full-table regex
    scan, and ``pinned_sym`` (``pin_serving_adjacency``) to answer the
    seed probe from a batch-pruned cached scan; both paths return the
    same frames."""
    kinds: dict[str, set[str]] = {}
    for r in resolve_search_seeds(
        nodes,
        search,
        ensembl2name=ensembl2name,
        expand=expand,
        nearest=nearest,
        token_index=token_index,
    ).collect():
        kinds.setdefault(r["fragment"], set()).add(r["kind"])
    e = edges.select("src", "dst", "type")
    ego = _ego_sets(e, sorted(kinds), pinned_sym) if kinds else {}
    m = _membership(nodes.sparkSession, kinds, ego)
    end = {
        c: m.select(F.col("node").alias(c), F.col("groups").alias(f"_g{c}"))
        for c in ("src", "dst")
    }
    sub_edges = (
        e.join(end["src"], "src")
        .join(end["dst"], "dst")
        .filter(F.arrays_overlap("_gsrc", "_gdst"))
        .select("src", "dst", "type")
    )
    flag = F.when(F.col("searched"), "true").otherwise("false")
    sub_nodes = nodes.drop("degree").join(
        m.select(F.col("node").alias("fragment"), flag.alias("searched")),
        "fragment",
    )
    deg = degrees(sub_edges)
    sub_nodes = (
        sub_nodes.join(deg, sub_nodes["fragment"] == deg["node"], "left")
        .drop("node")
        .withColumn("degree", F.coalesce(F.col("degree"), F.lit(0)))
    )
    return sub_nodes, sub_edges
