"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets up once, then
runs whole *rounds* of operations in a closed loop with one client (a
user who waits for each reply) until the run's seconds are used; a
round is a fixed sequence of operation kinds, so every run measures the
same mix. Outputs are kept and checked after the measured phase.

Engine calls go through module attributes (``network_build.
build_network(...)``) so the traced run's wrappers see them.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle


@dataclass
class Op:
    kind: str  # "read" | "write"
    label: str
    latency_s: float = 0.0
    ok: bool = True
    error: str | None = None
    out: dict = field(default_factory=dict, repr=False)
    request: str = ""


def _zipf_order(rng: np.random.Generator, items: list, a: float = 1.1) -> list:
    """Items in a seeded Zipf draw order without replacement: rank r is
    drawn with weight 1/r**a, earlier ranks tend to come first."""
    w = 1.0 / np.arange(1, len(items) + 1) ** a
    order = rng.choice(len(items), size=len(items), replace=False, p=w / w.sum())
    return [items[i] for i in order]


# --- GARDEN-NET session ---------------------------------------------------

UPLOAD_FORMATS = ["bed3", "bed6", "macs2", "chromhmm", "features_table", "features_on_nodes"]


class GardenSession:
    """Build a PCHiC network, then publish it and serve one user's
    searches against it.

    Set-up is the batch build: load the PCHiC TSV and ``build_network``
    (threshold, edge typing, simplify, degrees; checkpointed), then one
    warm-up publish and search. A round is one write — publishing the
    network as served tables (``write_network``, then
    ``load_serving_session``) — and three reads on the new tables: two
    gene searches that miss the cache (the term pool puts hub baits at
    the top Zipf ranks) and one repeat served from ``ResultCache``.

    A feature upload (``process_upload`` with the reference's
    interactive knobs n_random=1, n_random_po=50) launches about 300
    Spark jobs, which no round within the benchmark's time budget
    affords; only the traced run uploads, once, after its measured
    round, so the upload layers still get per-layer numbers.
    """

    name = "garden_session"
    # fraction of the human Monocyte network (BASELINE.md); a run at the
    # human size does not fit the benchmark's time budget
    SCALE = 0.05
    SEARCHES = 2
    MAX_ROUNDS = 60  # distinct search terms / SEARCHES

    def generate(self, rng: np.random.Generator, in_dir: str) -> dict:
        self.in_dir = in_dir
        self.interval_fmt = UPLOAD_FORMATS[int(rng.integers(len(UPLOAD_FORMATS) - 1))]
        frag = gen.make_pchic(rng, in_dir, self.SCALE)
        self.uploads = gen.make_features(rng, frag, in_dir, n_intervals=int(20_000 * self.SCALE))
        self.rng = rng
        hubs = [str(n) for n in frag["hub_names"]]
        others = [str(n) for n in rng.choice(frag["names"], size=120, replace=False) if n not in hubs]
        self.terms = _zipf_order(rng, hubs + others)
        return {"scale": self.SCALE, "fragments": int(frag["chr_idx"].size),
                "baits": int(frag["bait_ix"].size), "files": gen.file_sizes(in_dir)}

    def setup(self, spark, work: str) -> None:
        from garden_net_backend_spark.plans import network_build
        from garden_net_backend_spark.sources import readers

        self.spark = spark
        self.work = work
        inter, hic = readers.load_interactions(spark, os.path.join(self.in_dir, "pchic_homo.tsv"))
        self.nodes, self.edges = network_build.build_network(inter, hic_mode=hic, materialize=True)
        self.tables: dict = {}
        self.miss_json: dict[str, str] = {}
        # a serving process answers many requests; the first publish and
        # search of a JVM compile their plans, so they run here
        self._publish(-1)
        self._search(self.terms[-1])

    # ops ------------------------------------------------------------

    def _publish(self, r: int) -> Op:
        from garden_net_backend_spark.plans import materialize
        from garden_net_backend_spark.plans.serving import ResultCache

        for df in self.tables.values():
            df.unpersist()
        self.served_dir = os.path.join(self.work, f"served-{r}")
        t0 = time.perf_counter()
        materialize.write_network(self.nodes, self.edges, self.served_dir)
        self.tables = materialize.load_serving_session(self.spark, self.served_dir)
        for df in self.tables.values():
            df.count()
        op = Op("write", "publish", time.perf_counter() - t0)
        op.out = {"dir": self.served_dir}
        self.cache = ResultCache(os.path.join(self.work, f"cache-{r}"))
        return op

    def _search(self, term: str) -> Op:
        from garden_net_backend_spark.plans import serving

        t = self.tables
        t0 = time.perf_counter()
        result, hit = serving.serve_search(self.cache, t["nodes"], t["edges"], term,
                                           token_index=t["token_index"])
        op = Op("read", "hit" if hit else "miss", time.perf_counter() - t0)
        op.out = {"term": term, "result": result, "hit": hit}
        return op

    def _upload(self, fmt: str) -> Op:
        from garden_net_backend_spark.streaming import uploads

        path = next(p for p in self.uploads if f".{fmt}." in os.path.basename(p))
        out_dir = os.path.join(self.work, "uploads")
        t0 = time.perf_counter()
        meta = uploads.process_upload(self.spark, path, self.tables["nodes"], self.tables["edges"],
                                      out_dir, n_random=1, n_random_po=50)
        name = os.path.basename(path).split(".")[0]
        with open(os.path.join(out_dir, "_status", f"{name}.status.json")) as fh:
            state = json.load(fh)["state"]
        op = Op("write", f"upload:{fmt}", time.perf_counter() - t0)
        op.out = {"meta": meta, "state": state}
        return op

    def round(self, r: int, seed: int):
        """The operations of round ``r``, as zero-argument callables."""
        terms = self.terms[r * self.SEARCHES: (r + 1) * self.SEARCHES]
        w = 1.0 / np.arange(1, len(terms) + 1) ** 1.1
        again = terms[int(self.rng.choice(len(terms), p=w / w.sum()))]
        yield "write", lambda: self._publish(r)
        for t in terms:
            yield "read", lambda t=t: self._search(t)
        yield "read", lambda: self._search(again)

    def traced_extras(self) -> list:
        """One upload after the traced run's measured round, in an
        interval format chosen by the seed: it reaches every upload
        layer, the interval join included."""
        return [lambda: self._upload(self.interval_fmt)]

    # checks ---------------------------------------------------------

    def check(self, ops: list[Op]) -> None:
        """Verify every op's output against the oracles."""
        want = oracle.network_counts(os.path.join(self.in_dir, "pchic_homo.tsv"))
        orc = None
        for op in ops:
            if op.error:
                continue
            if op.label == "publish":
                nodes = oracle.read_table(os.path.join(op.out["dir"], "nodes"))
                edges = oracle.read_table(os.path.join(op.out["dir"], "edges"), ["src", "dst"])
                got = {"nodes": len(nodes), "promoters": int((nodes["type"] == "P").sum()),
                       "edges": len(edges)}
                op.ok = got == want
                op.out["check"] = {"network_counts": got, "oracle": want}
                orc = oracle.SearchOracle(nodes, edges)
            elif op.kind == "write":
                op.ok = op.out["state"] == "SUCCESS" and oracle.finite_metadata(op.out["meta"])
            elif op.out["hit"]:
                op.ok = op.out["result"] == self.miss_json.get(op.out["term"])
            else:
                term, result = op.out["term"], op.out["result"]
                self.miss_json.setdefault(term, result)
                want_s, got_s = orc.search(term), oracle.parse_cytoscape(result)
                op.ok = want_s == got_s
                op.out["check"] = {"nodes": len(got_s[0]), "edges": len(got_s[1]), "oracle_nodes": len(want_s[0]),
                                   "oracle_edges": len(want_s[1])}


# --- corpus ingest ----------------------------------------------------------

class CorpusIngest:
    """Write and read ops alternate on one store, which grows by a
    micro-batch each round.

    Write: one micro-batch of documents through
    ``process_ingest_batch_curation`` (Gopher quality rules, MinHash
    gate, line dedup, substring excision), then the accepted documents'
    embeddings through ``process_ingest_batch_pq_codes`` (celled,
    ``store_vectors=True``). Read: one query batch through
    ``process_serve_batch_ann(mode="exact")``. Set-up trains the IVF
    cells and PQ codebooks on a seed corpus, indexes it as the store's
    first codes batch and serves one warm-up query batch.

    The shapes follow the repository's ingest and ANN drills
    (SCALING.md): 250-document micro-batches; 64-query batches with
    k=10 and nprobe=4; the engine's default index (32 IVF cells, PQ with
    m=8 subspaces of 16 codes). The seed corpus size is a placeholder.
    """

    name = "corpus_ingest"
    MAX_ROUNDS = 4  # micro-batches generated
    N_TRAIN = 500
    BATCH_DOCS = 250
    READS = 3  # query batches per round
    QUERY_BATCH = 64
    K = 10
    NPROBE = 4
    # IVF probing of 4 of 32 cells is approximate; the floor catches a
    # broken index, not that
    RECALL_FLOOR = 0.6

    def generate(self, rng: np.random.Generator, in_dir: str) -> dict:
        self.in_dir = in_dir
        n_docs = self.N_TRAIN + self.MAX_ROUNDS * self.BATCH_DOCS
        n_queries = self.MAX_ROUNDS * self.READS * self.QUERY_BATCH
        gen.make_corpus(rng, in_dir, self.N_TRAIN, n_docs, n_queries)
        with open(os.path.join(in_dir, "docs.jsonl")) as fh:
            self.docs = [json.loads(line) for line in fh]
        self.queries = np.load(os.path.join(in_dir, "queries.npy"))
        return {"docs": n_docs, "queries": n_queries, "dim": gen.EMB_DIM,
                "near_dups": sum(d["near_dup_of"] is not None for d in self.docs),
                "files": gen.file_sizes(in_dir)}

    def setup(self, spark, work: str) -> None:
        from garden_net_backend_spark.operators import similarity
        from garden_net_backend_spark.streaming import ingest

        self.spark = spark
        self.work = work
        self.dirs = {k: os.path.join(work, k) for k in ("accepted", "minhash", "lines", "spans", "codes", "results")}
        train = [(d["doc_id"], d["embedding"]) for d in self.docs[: self.N_TRAIN]]
        corpus0 = spark.createDataFrame(train, "vec_id long, embedding array<float>").localCheckpoint(eager=True)
        cents, _assign = similarity.ivf_build_index(corpus0)
        self.cells = cents.selectExpr("centroid_id as cell_id", "centroid_vec as centroid") \
            .localCheckpoint(eager=True)
        self.codebooks = similarity.pq_train_codebooks(corpus0).localCheckpoint(eager=True)
        # the store starts out indexing the seed corpus (codes batch 0)
        # and has served one query batch from it, so the measured ops do
        # not pay the JVM's first PQ-codes write and first ANN query
        ingest.process_ingest_batch_pq_codes(corpus0, 0, self.dirs["codes"], self.codebooks, cells=self.cells,
                                             store_vectors=True)
        self.codes_batches = 1
        qdf = spark.createDataFrame(train[: self.QUERY_BATCH], "query_id long, query_vec array<float>")
        ingest.process_serve_batch_ann(qdf, 0, os.path.join(work, "warm-results"), self.cells, self.codebooks,
                                       self.dirs["codes"], None, k=self.K, nprobe=self.NPROBE, mode="exact")

    def _write(self, b: int) -> Op:
        """Curation batch ``b``; its accepted vectors become codes batch
        ``b + 1``."""
        from garden_net_backend_spark.functions.text import gopher_rules
        from garden_net_backend_spark.streaming import ingest

        lo = self.N_TRAIN + b * self.BATCH_DOCS
        chunk = self.docs[lo: lo + self.BATCH_DOCS]
        sp, dr = self.spark, self.dirs
        t0 = time.perf_counter()
        batch = sp.createDataFrame([(d["doc_id"], d["text"]) for d in chunk], "doc_id long, text string")
        ingest.process_ingest_batch_curation(
            batch, b, dr["accepted"], dr["minhash"], dr["lines"], dr["spans"],
            quality_rules=lambda c: gopher_rules(c)["keep"],
        )
        acc = oracle.read_table(dr["accepted"], ["doc_id", "ingest_batch"])
        accepted = set(acc.loc[acc["ingest_batch"].astype(int) == b, "doc_id"].tolist())
        vecs = sp.createDataFrame([(d["doc_id"], d["embedding"]) for d in chunk if d["doc_id"] in accepted],
                                  "vec_id long, embedding array<float>")
        ingest.process_ingest_batch_pq_codes(vecs, b + 1, dr["codes"], self.codebooks, cells=self.cells,
                                             store_vectors=True)
        op = Op("write", "ingest", time.perf_counter() - t0)
        self.codes_batches = b + 2
        op.out = {"batch": b, "accepted": sorted(accepted)}
        return op

    def _read(self, q: int) -> Op:
        """Query batch ``q`` against the codes stored so far."""
        from garden_net_backend_spark.streaming import ingest

        lo = q * self.QUERY_BATCH
        rows = [(lo + i, [float(x) for x in self.queries[lo + i]]) for i in range(self.QUERY_BATCH)]
        t0 = time.perf_counter()
        qdf = self.spark.createDataFrame(rows, "query_id long, query_vec array<float>")
        ingest.process_serve_batch_ann(qdf, q, self.dirs["results"], self.cells, self.codebooks,
                                       self.dirs["codes"], None, k=self.K, nprobe=self.NPROBE, mode="exact")
        op = Op("read", "ann", time.perf_counter() - t0)
        op.out = {"serve_batch": q, "codes_upto": self.codes_batches - 1}
        return op

    def traced_extras(self) -> list:
        return []

    def round(self, r: int, seed: int):
        """Round ``r``: micro-batch ``r``, then ``READS`` query batches."""
        yield "write", lambda: self._write(r)
        for j in range(self.READS):
            yield "read", lambda q=r * self.READS + j: self._read(q)

    def check(self, ops: list[Op]) -> None:
        """Verify every op's output against the oracles.

        A write must accept at least one document, every generated
        original of its batch that passes the Gopher rules, no document
        that fails them, and no near-duplicate of an accepted document.
        A read's recall@k against exact top-k over the codes stored
        before it must reach the floor."""
        emb = {d["doc_id"]: np.asarray(d["embedding"], dtype=np.float32) for d in self.docs}
        writes = sorted((op for op in ops if op.kind == "write" and not op.error), key=lambda o: o.out["batch"])
        reads = [op for op in ops if op.kind == "read" and not op.error]
        accepted_so_far: set[int] = set()
        for op in writes:
            acc = set(op.out["accepted"])
            accepted_so_far |= acc
            lo = self.N_TRAIN + op.out["batch"] * self.BATCH_DOCS
            chunk = self.docs[lo: lo + self.BATCH_DOCS]
            keep = {d["doc_id"] for d in chunk if oracle.gopher_keep(d["text"])}
            originals = {d["doc_id"] for d in chunk if d["near_dup_of"] is None} & keep
            dups = {d["doc_id"] for d in chunk if d["near_dup_of"] in accepted_so_far}
            got = {"accepted": len(acc), "originals_missing": len(originals - acc),
                   "low_quality_accepted": len(acc - keep), "near_dups_accepted": len(acc & dups)}
            op.ok = got["accepted"] > 0 and not any(v for k, v in got.items() if k != "accepted")
            op.out["check"] = {**got, "originals_passing_quality": len(originals), "near_dups_of_accepted": len(dups)}
        if reads:
            codes = oracle.read_table(self.dirs["codes"], ["vec_id", "ingest_batch"])
            results = oracle.read_table(self.dirs["results"], ["query_id", "vec_id", "serve_batch"])
        for op in reads:
            q = op.out["serve_batch"]
            stored = codes[codes["ingest_batch"].astype(int) <= op.out["codes_upto"]]["vec_id"].to_numpy()
            res = results[results["serve_batch"].astype(int) == q]
            lo = q * self.QUERY_BATCH
            truth = oracle.exact_topk(stored, np.stack([emb[i] for i in stored]),
                                      self.queries[lo: lo + self.QUERY_BATCH], self.K)
            got = res.groupby("query_id")["vec_id"].apply(set).to_dict()
            rec = float(np.mean([len(got.get(lo + i, set()) & t) / len(t) for i, t in enumerate(truth)]))
            op.ok = rec >= self.RECALL_FLOOR
            op.out["check"] = {f"recall@{self.K}": round(rec, 4), "floor": self.RECALL_FLOOR}
        accepted = sum(len(op.out["accepted"]) for op in writes)
        self.accept_frac = accepted / (len(writes) * self.BATCH_DOCS) if writes else 0.0


WORKLOADS = {w.name: w for w in (GardenSession, CorpusIngest)}
