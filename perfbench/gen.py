"""Seeded input generator for the repo benchmark.

Every input is made from ``numpy.random.default_rng(seed)`` in this one
process, so the same seed gives byte-identical files. Nothing here
imports the engine: the program under test receives only the files.

Shapes follow BASELINE.md (human Monocyte network) and the generator
rules of FIXTURES.md:

- PCHiC: ~171k interactions above the 5.0 threshold over ~96k
  fragments; chromosome sizes follow the human karyotype with chr1
  10x chrY. Includes other ends that are also baits (P-P), exact
  duplicates, self-loops, interchromosomal rows, rows below threshold,
  ``;``-joined bait names with transcript suffixes and ``.`` names.
- six feature-upload formats: bed3, bed6, macs2, chromhmm, bedgraph
  (``features_table``) and ``features_on_nodes``.
- documents with a fixed near-duplicate, boilerplate-line and
  low-quality share (see ``make_corpus``), each with a clustered 64-d
  embedding, plus ANN query vectors.
"""

from __future__ import annotations

import json
import os

import numpy as np

CHROMS = [str(i) for i in range(1, 23)] + ["X", "Y"]
# GRCh38 lengths in Mb, except chrY: a tenth of chr1, so chr1 carries
# about ten times chrY's interactions
_CHR_MB = [249, 242, 198, 190, 181, 171, 159, 145, 138, 134, 135, 133,
           114, 107, 102, 90, 83, 80, 59, 64, 47, 51, 156, 24.9]

N_FRAGMENTS = 96_000
N_ABOVE = 171_431
N_BELOW = 40_000
N_SELF_LOOPS = 200
N_DUPLICATES = 1_500
BAIT_FRAC = 0.2
INTERCHROM_FRAC = 0.03
SCORE_COLS = ["Mon", "Mac0", "nB"]
PCHIC_HEADER = ["baitChr", "baitStart", "baitEnd", "baitID", "baitName",
                "oeChr", "oeStart", "oeEnd", "oeID", "oeName", "dist"] + SCORE_COLS

_GENE_PREFIXES = ["ZNF", "SLC", "KLHL", "TMEM", "CCDC", "FAM", "ANKRD", "LRRC",
                  "RBM", "PRDM", "HOXA", "SOX", "KIF", "MYO", "COL", "WDR"]

EMB_DIM = 64
N_CLUSTERS = 24


def _write_tsv(path: str, header: list[str] | None, cols: list) -> None:
    """Write equal-length columns as TSV. Floats are written with four
    decimals; NaN cells are written empty."""
    str_cols = []
    for c in cols:
        if isinstance(c, np.ndarray) and c.dtype.kind == "f":
            s = np.char.mod("%.4f", c).astype(object)
            s[np.isnan(c)] = ""
            str_cols.append(s)
        else:
            str_cols.append(np.asarray(c).astype(str).astype(object))
    with open(path, "w", encoding="utf-8") as fh:
        if header is not None:
            fh.write("\t".join(header) + "\n")
        fh.write("\n".join("\t".join(r) for r in zip(*str_cols)) + "\n")


def _fragments(rng: np.random.Generator, scale: float) -> dict:
    """The HindIII-like fragment pool: contiguous fragments per
    chromosome, ~20% of them baits."""
    w = np.array(_CHR_MB) / sum(_CHR_MB)
    counts = np.maximum(np.round(w * N_FRAGMENTS * scale).astype(int), 20)
    chr_idx = np.repeat(np.arange(len(CHROMS)), counts)
    lengths = rng.integers(1_500, 8_000, size=chr_idx.size)
    starts = np.empty(chr_idx.size, dtype=np.int64)
    offset = 0
    for ci, n in enumerate(counts):
        seg = lengths[offset:offset + n]
        starts[offset:offset + n] = 10_000 + np.concatenate(([0], np.cumsum(seg[:-1])))
        offset += n
    ends = starts + lengths - 1
    is_bait = rng.random(chr_idx.size) < BAIT_FRAC
    chr_first = np.concatenate(([0], np.cumsum(counts)[:-1]))
    is_bait[chr_first] = True
    return {
        "chr_idx": chr_idx, "start": starts, "end": ends, "is_bait": is_bait,
        "counts": counts, "chr_first": chr_first,
    }


def _gene_symbols(rng: np.random.Generator, n: int) -> np.ndarray:
    pref = rng.integers(0, len(_GENE_PREFIXES), size=n)
    return np.array([f"{_GENE_PREFIXES[p]}{i + 1}" for i, p in enumerate(pref)], dtype=object)


def _near(rng, frag, anchor: np.ndarray, scale: float = 20.0) -> np.ndarray:
    """A fragment index on the anchor's chromosome at a geometric
    distance (mean ``scale`` fragments) from it, never the anchor."""
    ci = frag["chr_idx"][anchor]
    lo = frag["chr_first"][ci]
    hi = lo + frag["counts"][ci] - 1
    step = rng.geometric(1.0 / scale, size=anchor.size)
    sign = np.where(rng.random(anchor.size) < 0.5, -1, 1)
    out = np.clip(anchor + sign * step, lo, hi)
    same = out == anchor
    out[same] = np.where(anchor[same] < hi[same], anchor[same] + 1, anchor[same] - 1)
    return out


def make_pchic(rng: np.random.Generator, out_dir: str, scale: float = 1.0) -> dict:
    """The PCHiC table; ``scale`` = 1.0 is the human Monocyte size
    (BASELINE.md), smaller scales shrink fragments and rows alike."""
    frag = _fragments(rng, scale)
    nf = frag["chr_idx"].size
    bait_ix = np.flatnonzero(frag["is_bait"])
    other_ix = np.flatnonzero(~frag["is_bait"])
    names = _gene_symbols(rng, bait_ix.size)

    # 1) every non-bait fragment is the other end of an adjacent bait on
    #    its chromosome (the first fragment of each chromosome is a bait)
    pos = np.searchsorted(bait_ix, other_ix)
    left = bait_ix[pos - 1]
    right = bait_ix[np.minimum(pos, bait_ix.size - 1)]
    same_r = frag["chr_idx"][right] == frag["chr_idx"][other_ix]
    take_r = same_r & (rng.random(other_ix.size) < 0.5)
    cov_b = np.where(take_r, right, left)
    cov_o = other_ix

    # 2) every bait is the bait of one interaction
    b2 = bait_ix.copy()
    o2 = _near(rng, frag, b2)
    # 3) the rest: Zipf-weighted hub baits, nearby other ends. The
    #    exponent is a placeholder: the repository records no degree
    #    distribution of the human network.
    n_self, n_dup, n_below = (max(1, int(n * scale)) for n in (N_SELF_LOOPS, N_DUPLICATES, N_BELOW))
    n_rest = int(N_ABOVE * scale) - cov_o.size - b2.size - n_self - n_dup
    ranks = rng.permutation(bait_ix.size) + 1
    p = ranks.astype(float) ** -0.6
    p /= p.sum()
    b3 = bait_ix[rng.choice(bait_ix.size, size=n_rest, p=p)]
    o3 = _near(rng, frag, b3)
    inter = rng.random(n_rest) < INTERCHROM_FRAC
    far = rng.integers(0, nf, size=inter.sum())
    o3[inter] = np.where(frag["chr_idx"][far] != frag["chr_idx"][b3[inter]], far, o3[inter])
    # 4) self-loops
    bs = bait_ix[rng.integers(0, bait_ix.size, size=n_self)]
    bait = np.concatenate([cov_b, b2, b3, bs])
    oe = np.concatenate([cov_o, o2, o3, bs])
    score = rng.uniform(5.01, 30.0, size=bait.size)
    # 5) exact duplicates (same endpoints, another score)
    dup = rng.integers(0, bait.size, size=n_dup)
    bait = np.concatenate([bait, bait[dup]])
    oe = np.concatenate([oe, oe[dup]])
    score = np.concatenate([score, rng.uniform(5.01, 30.0, size=n_dup)])
    # 6) below threshold (5.0 itself included: the filter is strict >)
    bb = bait_ix[rng.integers(0, bait_ix.size, size=n_below)]
    bo = _near(rng, frag, bb)
    below = rng.uniform(0.5, 5.0, size=n_below)
    below[:50] = 5.0
    bait = np.concatenate([bait, bb])
    oe = np.concatenate([oe, bo])
    score = np.concatenate([score, below])
    order = rng.permutation(bait.size)
    bait, oe, score = bait[order], oe[order], score[order]

    # bait names: some `;`-joined pairs, transcript suffixes, `.`
    bait_name_of = np.empty(nf, dtype=object)
    bait_name_of[:] = "."
    disp = names.copy()
    r = rng.random(bait_ix.size)
    pair = np.flatnonzero(r < 0.10)
    disp[pair] = [f"{names[i]};{names[(i + 1) % names.size]}" for i in pair]
    suff = np.flatnonzero((r >= 0.10) & (r < 0.15))
    disp[suff] = [f"{names[i]};{names[i]}-201" for i in suff]
    dots = np.flatnonzero((r >= 0.15) & (r < 0.17))
    disp[dots] = "."
    bait_name_of[bait_ix] = disp

    chr_s = np.array(CHROMS, dtype=object)
    bc, oc = frag["chr_idx"][bait], frag["chr_idx"][oe]
    mid = lambda ix: (frag["start"][ix] + frag["end"][ix]) / 2.0  # noqa: E731
    dist = np.where(bc == oc, mid(oe) - mid(bait), np.nan)
    extra = rng.uniform(0.0, 20.0, size=(2, bait.size))
    cols = [
        chr_s[bc], frag["start"][bait], frag["end"][bait], bait + 1, bait_name_of[bait],
        chr_s[oc], frag["start"][oe], frag["end"][oe], oe + 1,
        np.where(frag["is_bait"][oe], bait_name_of[oe], "."),
        dist, np.round(score, 4), extra[0], extra[1],
    ]
    path = os.path.join(out_dir, "pchic_homo.tsv")
    _write_tsv(path, PCHIC_HEADER, cols)
    frag["bait_ix"] = bait_ix
    frag["names"] = names
    frag["hub_names"] = list(names[np.argsort(-p)[:12]])
    return frag


def make_features(rng: np.random.Generator, frag: dict, out_dir: str, n_intervals: int = 20_000) -> list[str]:
    """One upload file per format, interval coordinates on the fragment
    genome with ``chr``-prefixed chromosome names."""
    chr_s = np.array(["chr" + c for c in CHROMS], dtype=object)
    nf = frag["chr_idx"].size
    paths = []

    def _intervals():
        a = rng.integers(0, nf, size=n_intervals)
        ln = rng.integers(200, 6_000, size=n_intervals)
        s = frag["start"][a] + rng.integers(0, 2_000, size=n_intervals)
        return chr_s[frag["chr_idx"][a]], s, s + ln

    c, s, e = _intervals()
    p = os.path.join(out_dir, "h3k27ac.bed3.bed")
    _write_tsv(p, None, [c, s, e, np.round(rng.gamma(2.0, 1.5, size=c.size), 4)])
    paths.append(p)
    c, s, e = _intervals()
    p = os.path.join(out_dir, "ctcf.bed6.bed")
    _write_tsv(p, None, [c, s, e, np.full(c.size, "peak", dtype=object),
                         np.round(rng.uniform(0, 1000, size=c.size), 2),
                         np.where(rng.random(c.size) < 0.5, "+", "-")])
    paths.append(p)
    c, s, e = _intervals()
    p = os.path.join(out_dir, "ezh2.macs2.narrowPeak")
    _write_tsv(p, None, [c, s, e, np.full(c.size, "p", dtype=object),
                         rng.integers(0, 1000, size=c.size), np.full(c.size, ".", dtype=object),
                         np.round(rng.gamma(3.0, 2.0, size=c.size), 4),
                         np.round(rng.uniform(1, 50, size=c.size), 4),
                         np.round(rng.uniform(1, 40, size=c.size), 4),
                         rng.integers(10, 200, size=c.size)])
    paths.append(p)
    c, s, e = _intervals()
    states = np.array(["E1", "E2"], dtype=object)
    p = os.path.join(out_dir, "states.chromhmm.bed")
    _write_tsv(p, None, [c, s, e, states[rng.integers(0, states.size, size=c.size)]])
    paths.append(p)
    c, s, e = _intervals()
    p = os.path.join(out_dir, "h3k4me3.features_table.bedgraph")
    _write_tsv(p, None, [c, s, e, np.round(rng.normal(1.0, 0.5, size=c.size), 4)])
    paths.append(p)
    # features_on_nodes: fragment-keyed matrix over a node subset
    pick = rng.choice(nf, size=min(30_000, nf), replace=False)
    keys = np.array([f"chr{CHROMS[ci]}_{st}_{en}" for ci, st, en in
                     zip(frag["chr_idx"][pick], frag["start"][pick], frag["end"][pick])], dtype=object)
    p = os.path.join(out_dir, "marks.features_on_nodes.tsv")
    _write_tsv(p, ["fragment", "EZH2", "H3K27me3"],
               [keys, np.round(rng.random(pick.size), 4), np.round(rng.random(pick.size), 4)])
    paths.append(p)
    return paths


# --- corpus ------------------------------------------------------------

_BOILERPLATE = [
    "home about contact privacy policy terms of service",
    "copyright all rights reserved by the site owner and its partners",
    "subscribe to our newsletter for weekly updates and offers",
    "share this page with friends on your favourite network",
]


def _vocab(rng: np.random.Generator, n: int = 4_000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    stop = ["the", "of", "and", "to", "that", "with", "have", "be"]
    return np.array(stop + sorted(words), dtype=object)


# Shares of the micro-batch documents. The near-duplicate share is the
# streaming-ingest drill's (SCALING.md: 20% of each batch near-dups of
# an earlier batch) and the low-quality share the curation-quality
# drill's (SCALING.md: 15% planted junk per batch). The boilerplate
# share has no source in the repository: a placeholder that gives the
# line-dedup stage repeated lines to cut.
NEAR_DUP_FRAC = 0.20
LOW_QUALITY_FRAC = 0.15
BOILERPLATE_FRAC = 0.25


def _near_dup(rng: np.random.Generator, text: str, vocab: np.ndarray, zipf: np.ndarray) -> str:
    """``text`` with one word in fifty replaced (at least one): about 90%
    of its word 3-shingles survive, well above the curation gate's 0.7
    Jaccard threshold for any document that passes the quality rules."""
    words = text.split(" ")
    free = [j for j, w in enumerate(words) if w and "\n" not in w]
    for j in rng.choice(free, size=max(1, len(words) // 50), replace=False):
        words[j] = str(rng.choice(vocab, p=zipf))
    return " ".join(words)


def make_corpus(rng: np.random.Generator, out_dir: str, n_train: int, n_docs: int, n_queries: int) -> dict:
    """Documents (one JSON line each: doc_id, text, embedding,
    near_dup_of) and ANN query vectors.

    The first ``n_train`` documents are the seed corpus the ANN index is
    trained on: all original. Each later document is, with the shares
    above, a near-duplicate of an earlier later document (``near_dup_of``
    names it; its embedding is the source's plus a little noise), a
    low-quality one (a single line, or ``###`` between words: both fail
    the Gopher rules), or an original, which may carry boilerplate
    lines."""
    vocab = _vocab(rng)
    zipf = 1.0 / np.arange(1, vocab.size + 1) ** 1.05
    zipf /= zipf.sum()
    anchors = rng.standard_normal((N_CLUSTERS, EMB_DIM))
    docs, embs = [], []
    for i in range(n_docs):
        r = rng.random() if i > n_train else 1.0
        if r < NEAR_DUP_FRAC:
            src = int(rng.integers(n_train, i))
            text = _near_dup(rng, docs[src]["text"], vocab, zipf)
            vec = embs[src] + rng.standard_normal(EMB_DIM) * 0.02
            dup_of = src
        else:
            n_lines = int(rng.integers(4, 9))
            lines = [" ".join(rng.choice(vocab, size=int(rng.integers(15, 30)), p=zipf))
                     for _ in range(n_lines)]
            if r < NEAR_DUP_FRAC + LOW_QUALITY_FRAC:
                junk_short = r < NEAR_DUP_FRAC + LOW_QUALITY_FRAC / 2
                lines = lines[:1] if junk_short else [ln.replace(" ", " ### ") for ln in lines]
            elif rng.random() < BOILERPLATE_FRAC:
                lines.insert(0, _BOILERPLATE[int(rng.integers(0, 2))])
                lines.append(_BOILERPLATE[int(rng.integers(2, 4))])
            text = "\n".join(lines)
            vec = anchors[int(rng.integers(0, N_CLUSTERS))] + rng.standard_normal(EMB_DIM) * 0.35
            dup_of = None
        vec = vec / np.linalg.norm(vec)
        docs.append({"doc_id": i, "text": text, "near_dup_of": dup_of})
        embs.append(vec)
    emb = np.asarray(embs, dtype=np.float32)
    with open(os.path.join(out_dir, "docs.jsonl"), "w") as fh:
        for d, v in zip(docs, emb):
            fh.write(json.dumps({**d, "embedding": [float(x) for x in v]}) + "\n")
    q = anchors[rng.integers(0, N_CLUSTERS, size=n_queries)] + rng.standard_normal((n_queries, EMB_DIM)) * 0.35
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    np.save(os.path.join(out_dir, "queries.npy"), q)
    return {"n_docs": n_docs, "n_queries": n_queries}


def file_sizes(out_dir: str) -> dict:
    return {f: os.path.getsize(os.path.join(out_dir, f)) for f in sorted(os.listdir(out_dir))
            if os.path.isfile(os.path.join(out_dir, f))}
