"""Segment-native BM25 top-k: block-max WAND, one kernel call per segment.

The Spark realization of the reference's pruned search path
(SEARCH/WANDScorer.java:29-447, ImpactsDISI.java:95-127,
MaxScoreCache.java:61-124, BlockMaxConjunctionScorer.java:101-140):

- the driver compiles the query AST to a flat clause spec, resolves
  **global** term stats once (IndexSearcher.createWeight freezing
  CollectionStatistics — SEARCH/IndexSearcher.java:909-926) and bakes
  idf weights into the spec;
- one kernel invocation per segment: per-term skip arrays give a
  piecewise-constant score upper bound over docid space; cells (merged
  block intervals) are processed in descending upper-bound order and
  the kernel stops as soon as the next cell's bound is below the
  current k-th best true score θ — score-safe pruning, identical
  result set to exhaustive evaluation (CheckHits.checkTopScores is the
  test contract);
- pruning is a mode of one scorer, not a second one: the exhaustive
  path and every WAND cell score through the same ``combine``
  (required/optional/msm, ReqOptSumScorer / DisjunctionSumScorer) and
  ``admit`` (FILTER, MUST_NOT, live docs) steps; exact phrases and
  multi-phrases share one matcher (ExactPhraseMatcher over
  UnionPostingsEnum slots);
- per-segment candidates (≤k each) are reduced on the driver by
  TopDocs.merge (SEARCH/TopDocs.java:70-115) with the HitQueue
  tie-break; ``topk`` materializes its ≤k rows when called, like
  IndexSearcher.search returning TopDocs.

One pushed scan feeds the kernel: the query terms' packed rows plus
each segment's norms row (``term IS NULL``); the filter on ``term``
reaches the Parquet scan (term-sorted row groups prune). The per-segment
live docs are a union onto that scan, so no join runs. Where the kernel
runs depends on an estimate of the scan's bytes, made from the term
stats and segment records the reader already holds: at or below
``LOCAL_SCAN_BYTES`` (a measured crossover, see its comment) the scan
is one Arrow collect and the kernel runs on the driver once per segment
(no shuffle, no Python worker); above it one
``groupBy(seg_id).applyInPandas`` stage runs it on the executors. A
fresh reader's local top-k is 2 Spark jobs (term stats, the collect), a
warm one's 1. A multi-term query past maxClauseCount is not enumerated:
the scan tags each row with the ``engine.term_predicate`` columns it
matches, so Spark's predicate is the only multi-term matcher.

Scores are float64 in the same operation order as the SQL oracle
(bm25.score_sql), so segment-path results hash-match the DuckDB oracle
exactly like the naive path. The kernel's f32 mode (``topk32``) is the
repo's one Lucene-exact float32 scorer (BM25Similarity.java:184-235);
tests/test_lucene_parity.py pins it to an independent numpy oracle.
The weight step (term stats, idf, multi-term expansion) is
engine.TermWeights, shared with the naive engine.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import B, K1
from ..codecs import blocks as blk
from ..index.segments import PACKED_SCHEMA, SegmentIndex
from .engine import TermWeights, TooManyClauses, term_predicate
from .query import (
    Bool, Boost, ConstantScore, DisMax, Fuzzy, MultiPhrase, Phrase,
    PhraseWildcard, Prefix, Query, Regexp, SpanNear, Synonym, Term,
    TermInSet, TermRange, Wildcard, collect_terms, rewrite,
)

OUT_SCHEMA = "docid long, score double"
EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))

# Arrow bytes of the pushed scan beside the packed posting bytes
# (SegmentSearcher._scan_estimate): a posting row's fixed columns, list
# offsets and last, partial block; each block's skip entries and value
# offsets. tools/local_crossover.py compares the estimate with
# toArrow().nbytes.
ROW_BYTES = 130
BLOCK_SKIP_BYTES = 40

# the largest estimated pushed scan whose top-k runs the kernel on the
# driver; larger scans run it in one applyInPandas stage. Measured with
# tools/local_crossover.py on 4 cores (local[4], 1 GB driver): the local
# step decodes serially at ~0.17 s/MB after ~0.25 s of fixed cost, the
# executor stage costs ~0.6 s fixed and gains only with more segments
# than about 2 to run in parallel. On stores of 7 and 13 segments the
# paths tie at ~3 MB of collected scan and the local step is >= 0.15 s
# faster at every measured size up to 2.4 MB; on 2 segments it is
# faster up to the largest one measured, 5.4 MB. The cut-off also
# bounds, up to the estimate's error, what one query pulls to the
# driver (the Arrow table and its pandas copy).
LOCAL_SCAN_BYTES = 2 << 20


# ---------------------------------------------------------------------------
# clause spec (driver-side compile; shipped pickled into the kernel)
# ---------------------------------------------------------------------------

@dataclass
class Clause:
    kind: str   # 'term' | 'synonym' | 'phrase' | 'multiphrase'
    #           | 'constant' (any-of term set, fixed score)
    #           | 'spannear' (ordered proximity, fixed score)
    terms: tuple              # analyzed terms; multiphrase: tuple of tuples
    weight: float             # idf (double), boost-multiplied
    required: bool            # MUST vs SHOULD
    slop: int = 0             # phrase/spannear: proximity budget
    pred: object = None       # constant only: multi-term query NODE when
    # the dictionary expansion passes maxClauseCount — the scan pushes
    # engine.term_predicate and tags each row with the predicates it
    # matches, which the kernel reads (the constant-score rewrite never
    # enumerates; MultiTermQueryConstantScoreWrapper builds the bitset
    # directly)


@dataclass
class SegSpec:
    clauses: list
    must_not: tuple = ()      # plain terms to exclude (any-of union)
    must_not_preds: tuple = ()  # non-enumerated multi-term exclusions
    filters: tuple = ()       # tuple of (any-of term set, pred-or-None)
    msm: int = 0              # minimum SHOULD clauses to match
    combine: str = "sum"      # 'sum' (Bool) | 'dismax' (DisjunctionMax)
    tiebreak: float = 0.0     # dismax only
    k: int = 10
    avgdl: float = 1.0
    emit_all: bool = False    # True -> all matches (scored()), no pruning
    prune: bool = True        # False -> exhaustive (CheckHits oracle mode)
    f32: bool = False         # True -> Lucene-exact float32 arithmetic

    @property
    def wand_ok(self) -> bool:
        """Block-max pruning is available when every scoring clause is a
        plain term and there are no msm/filter/exclusion constraints
        interacting with scores mid-stream (those are applied after
        scoring a cell, so they are safe too — the bound only ever
        over-estimates)."""
        return all(c.kind == "term" for c in self.clauses)


def _score_f64(tf: np.ndarray, qdl: np.ndarray, w: float,
               avgdl: float) -> np.ndarray:
    """(w * tf) / (tf + k1*((1-b) + (b*qdl)/avgdl)) in float64, operation
    order identical to bm25.score_sql."""
    tf = tf.astype(np.float64)
    denom = tf + K1 * ((1.0 - B) + (B * qdl.astype(np.float64)) / avgdl)
    return (w * tf) / denom


def _score_dispatch(spec, tf: np.ndarray, qdl: np.ndarray,
                    w: float) -> np.ndarray:
    """double-mode (oracle-checkable) or Lucene-exact float32 scoring.

    float32 mode reproduces BM25Similarity.score (BM25Similarity.java:
    222-235): weight - weight / (1 + freq * cache[normByte]), with the
    256-entry normInverse cache frozen from the collection's avgdl.
    ``qdl`` values are quantized lengths (fixpoints of SmallFloat), so
    int_to_byte4 recovers the exact norm byte. Scores come back as
    float64-widened float32 so downstream accumulation (float64 sums,
    then narrowed) matches the reference's double accumulation."""
    if not spec.f32:
        return _score_f64(tf, qdl, w, spec.avgdl)
    from ..codecs.smallfloat import int_to_byte4_np
    cache = _f32_cache(spec.avgdl)
    nb = int_to_byte4_np(np.asarray(qdl, dtype=np.int64))
    from .bm25 import score32
    return score32(tf, nb, np.float32(w), cache).astype(np.float64)


_F32_CACHE: dict = {}


def _f32_cache(avgdl: float):
    if avgdl not in _F32_CACHE:
        from .bm25 import norm_inverse_cache
        _F32_CACHE[avgdl] = norm_inverse_cache(np.float32(avgdl))
    return _F32_CACHE[avgdl]


def _bound(w: float, max_tf: np.ndarray, min_qdl: np.ndarray,
           avgdl: float) -> np.ndarray:
    """Per-block upper bound: score is monotone ↑tf, ↓qdl, so
    score(max_tf, min_qdl) dominates every doc in the block
    (MaxScoreCache.computeMaxScore over competitive impacts)."""
    return _score_f64(np.asarray(max_tf, dtype=np.int64),
                      np.asarray(min_qdl, dtype=np.int64), w, avgdl)



def _req_opt_combine(spec, req: np.ndarray, opt: np.ndarray) -> np.ndarray:
    """Required + optional score combination.

    float32 mode follows ReqOptSumScorer (SEARCH/ReqOptSumScorer.java:29):
    each side is a (float)-narrowed double sum, then a float32 addition
    combines them — narrowing BEFORE the add, unlike plain double mode
    which sums everything in float64."""
    if not spec.f32:
        return req + opt
    r32 = req.astype(np.float32)
    o32 = opt.astype(np.float32)
    return (r32 + o32).astype(np.float64)

# ---------------------------------------------------------------------------
# per-segment kernel
# ---------------------------------------------------------------------------

class _TermData:
    """Decoded-on-demand view of one packed posting row."""

    __slots__ = ("doc_blocks", "tf_blocks", "pos_blocks", "last", "ndocs",
                 "max_tf", "min_qdl", "starts", "_cache", "_pcache")

    def __init__(self, row):
        self.doc_blocks = row.doc_blocks
        self.tf_blocks = row.tf_blocks
        self.pos_blocks = row.pos_blocks
        self.last = np.asarray(row.skip_last_docid, dtype=np.int64)
        self.ndocs = np.asarray(row.skip_n_docs, dtype=np.int64)
        self.max_tf = np.asarray(row.skip_max_tf, dtype=np.int64)
        self.min_qdl = np.asarray(row.skip_min_qdl, dtype=np.int64)
        self.starts = np.concatenate(
            ([np.int64(-1)], self.last[:-1]))  # block covers (start, last]
        self._cache: dict = {}
        self._pcache: dict = {}

    def block(self, i: int):
        if i not in self._cache:
            self._cache[i] = blk.decode_block(
                self.doc_blocks, self.tf_blocks, self.ndocs, i)
        return self._cache[i]

    def positions(self, i: int) -> np.ndarray:
        if i not in self._pcache:
            _, tfs = self.block(i)
            self._pcache[i] = blk.decode_pos_block(self.pos_blocks[i], tfs)
        return self._pcache[i]

    def decode_all(self):
        return blk.decode_all(self.doc_blocks, self.tf_blocks, self.ndocs)

    def all_positions(self):
        """(docids, per-doc position list offsets, concatenated positions)."""
        d, t = self.decode_all()
        pos = np.concatenate([self.positions(i)
                              for i in range(len(self.doc_blocks))]) \
            if len(self.doc_blocks) else np.empty(0, dtype=np.int64)
        offs = np.concatenate(([0], np.cumsum(t)))
        return d, t, offs, pos


def _sum_scores(parts):
    """[(docids, scores)] -> (unique docids, summed scores, match counts)."""
    d = np.concatenate([p[0] for p in parts])
    s = np.concatenate([p[1] for p in parts])
    uniq, inv = np.unique(d, return_inverse=True)
    tot = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(tot, inv, s)
    cnt = np.zeros(uniq.size, dtype=np.int64)
    np.add.at(cnt, inv, 1)
    return uniq, tot, cnt


def _combine_disjunction(spec, parts):
    """Combine SHOULD-clause parts per spec.combine: 'sum' =
    DisjunctionSumScorer; 'dismax' = DisjunctionMaxQuery
    (max + tiebreak * (sum - max), DisjunctionMaxQuery.java:45)."""
    uniq, tot, cnt = _sum_scores(parts)
    if spec.combine != "dismax":
        return uniq, tot, cnt
    mx = np.full(uniq.size, -np.inf)
    d = np.concatenate([p[0] for p in parts])
    s = np.concatenate([p[1] for p in parts])
    inv = np.searchsorted(uniq, d)
    np.maximum.at(mx, inv, s)
    tb = float(spec.tiebreak)
    return uniq, mx + tb * (tot - mx), cnt


def _common_docs(views: list) -> np.ndarray:
    common = views[0][0]
    for v in views[1:]:
        common = common[np.isin(common, v[0])]
    return common


def _flat_positions(view, common: np.ndarray):
    """(doc-index-in-common repeated per position, flat positions) for
    the docs of ``common`` inside one term's all_positions() view."""
    d, t, offs, pos = view
    ix = np.searchsorted(d, common)
    tfs = t[ix]
    rep = np.repeat(np.arange(common.size, dtype=np.int64), tfs)
    # gather each doc's positions slice, fully vectorized
    starts = offs[ix]
    total = int(tfs.sum())
    gidx = (np.arange(total, dtype=np.int64)
            - np.repeat(np.cumsum(tfs) - tfs, tfs)
            + np.repeat(starts, tfs))
    return rep, pos[gidx]


def _sloppy_phrase_freq(tds: list, terms: list, slop: int,
                        f32: bool) -> tuple:
    """Sloppy phrase freq per doc: exact SloppyPhraseMatcher traversal
    (sloppy.py) over the intersected docs. Float frequencies: rational
    double accumulation in double mode, chain-order float32 in f32
    parity mode (PhraseScorer.java:76-78)."""
    from .sloppy import (
        chain_freqs_2_vec, sloppy_freq_f32, sloppy_freq_f64,
        sloppy_match_lengths,
    )
    if any(t not in tds for t in terms):
        return EMPTY
    views = [tds[t].all_positions() for t in terms]
    common = _common_docs(views)
    if common.size == 0:
        return EMPTY
    idxs = [np.searchsorted(v[0], common) for v in views]
    if len(terms) == 2 and not f32:
        # 2-term double-mode hot path: lockstep-vectorized chain
        # (identical rational freq; property-tested vs the matcher)
        pls_a, pls_b = [], []
        for j in range(common.size):
            for v, ix, dst in ((views[0], idxs[0], pls_a),
                               (views[1], idxs[1], pls_b)):
                i = ix[j]
                dst.append(v[3][v[2][i]:v[2][i + 1]])
        fr = chain_freqs_2_vec(pls_a, pls_b, slop)
        keep = fr > 0.0
        return (common[keep].astype(np.int64), fr[keep])
    out_d, out_f = [], []
    for j in range(common.size):
        pls = []
        for v, ix in zip(views, idxs):
            i = ix[j]
            pls.append(v[3][v[2][i]:v[2][i + 1]])
        mls = sloppy_match_lengths(pls, slop)
        if not mls:
            continue
        out_d.append(int(common[j]))
        out_f.append(float(sloppy_freq_f32(mls)) if f32
                     else sloppy_freq_f64(mls, slop))
    return (np.array(out_d, dtype=np.int64),
            np.array(out_f, dtype=np.float64))


def _flat_union(views: list, common: np.ndarray, m: np.int64) -> np.ndarray:
    """Distinct (doc-index-in-common, position) composite keys for the
    union of several terms' position lists, restricted to ``common``
    docs (MultiPhraseQuery's UnionPostingsEnum)."""
    keys = []
    for v in views:
        d, t, offs, pos = v
        sel = np.isin(d, common)
        if not sel.any():
            continue
        ix = np.flatnonzero(sel)
        tfs = t[ix]
        rep = np.repeat(np.searchsorted(common, d[ix]), tfs)
        total = int(tfs.sum())
        gidx = (np.arange(total, dtype=np.int64)
                - np.repeat(np.cumsum(tfs) - tfs, tfs)
                + np.repeat(offs[ix], tfs))
        keys.append(rep * m + pos[gidx])
    if not keys:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(keys))


def _multiphrase_freq(tds: dict, slots: tuple) -> tuple:
    """The one exact phrase matcher (ExactPhraseMatcher.java:36 over
    MultiPhraseQuery's UnionPostingsEnum slots, MultiPhraseQuery.java:56):
    per doc, the number of start positions p with SOME alternative of
    slot i at p+i for every i; a plain phrase is one term per slot.
    Vectorized: slot (doc, position) pairs become composite int64 keys
    (doc-index * M + position); slot i's check is one np.isin of key0 + i
    against slot i's keys — no per-doc python loop."""
    slot_views = []
    for slot in slots:
        vs = [tds[t].all_positions() for t in slot if t in tds]
        if not vs:
            return EMPTY
        slot_views.append(vs)
    common = None
    for vs in slot_views:
        docs = np.unique(np.concatenate([v[0] for v in vs]))
        common = docs if common is None else common[np.isin(common, docs)]
    if common.size == 0:
        return EMPTY
    maxpos = max(int(v[3].max(initial=0)) for vs in slot_views for v in vs)
    m = np.int64(maxpos + len(slots) + 2)
    key0 = _flat_union(slot_views[0], common, m)
    keep = np.ones(key0.size, dtype=bool)
    for i in range(1, len(slots)):
        keep &= np.isin(key0 + i, _flat_union(slot_views[i], common, m))
    rep0 = key0[keep] // m
    freq = np.bincount(rep0, minlength=common.size)
    sel = freq > 0
    return common[sel], freq[sel].astype(np.int64)


def _spannear_docs(tds: dict, terms: tuple, slop: int) -> np.ndarray:
    """Docids containing an ordered span p_1 < ... < p_k with
    p_k - p_1 - (k-1) <= slop (SpanNearQuery in_order=true). Greedy
    minimal chain per start position, vectorized with doc-major
    composite keys and searchsorted."""
    views = [tds[t].all_positions() for t in terms]
    common = _common_docs(views)
    if common.size == 0:
        return common
    maxpos = max(int(v[3].max(initial=0)) for v in views)
    m = np.int64(maxpos + 2)
    rep0, p0 = _flat_positions(views[0], common)
    cur = p0.copy()
    alive = np.ones(p0.size, dtype=bool)
    for i in range(1, len(terms)):
        repi, pi = _flat_positions(views[i], common)
        keyi = repi * m + pi
        idx = np.searchsorted(keyi, rep0 * m + cur, side="right")
        ok = idx < keyi.size
        idxc = np.clip(idx, 0, max(keyi.size - 1, 0))
        ok &= (keyi[idxc] // m) == rep0
        alive &= ok
        cur = np.where(alive, keyi[idxc] % m, cur)
    match = alive & (cur - p0 - (len(terms) - 1) <= slop)
    return common[np.unique(rep0[match])]


def _all_preds(spec: SegSpec) -> list:
    """Non-enumerated multi-term query nodes riding the spec, in the one
    order the scan's ``_pm`` tags and the kernel's lookups share."""
    return ([c.pred for c in spec.clauses
             if c.kind == "constant" and c.pred is not None]
            + [pr for _, pr in spec.filters if pr is not None]
            + list(spec.must_not_preds))


def make_kernel(spec: SegSpec):
    """The per-segment kernel of one query: one segment's rows of the
    pushed scan (a pandas frame) -> its hits (docid, score)."""
    preds = _all_preds(spec)

    def kernel(pdf):
        import pandas as pd

        # the segment's norms row (the one with a qdl blob) and, with
        # deletes, its live-docs row (the one with del_ids) ride in the
        # group beside its posting rows; both have a NULL term
        norms = pdf[pdf["qdl_blob"].notna()].iloc[0]
        qdl_blob = np.frombuffer(norms["qdl_blob"], dtype=np.int32)
        docid_min = int(norms["docid_min"])
        postings = pdf[pdf["term"].notna()]
        tds = {row.term: _TermData(row)
               for row in postings.itertuples(index=False)}
        # terms the scan tagged with each fallback predicate's index
        tagged: dict = {}
        if preds:
            for term, tags in zip(postings["term"], postings["_pm"]):
                for i in tags:
                    tagged.setdefault(int(i), []).append(term)

        def qdl_of(docids: np.ndarray) -> np.ndarray:
            return qdl_blob[docids - docid_min].astype(np.int64)

        def any_of(tset, pred):
            """Sorted docids holding a term of ``tset`` or, for a
            non-enumerated multi-term node ``pred``, a term the scan
            tagged with it; None when no such term is here."""
            names = (tagged.get(preds.index(pred), ()) if pred is not None
                     else [t for t in tset if t in tds])
            if not names:
                return None
            return np.unique(np.concatenate(
                [tds[t].decode_all()[0] for t in names]))

        # FILTER sets (None: the filter matches nothing here) and the
        # MUST_NOT + live-docs exclusion sets, decoded once per segment;
        # the delete set arrives in the segment's group (seg-local
        # array), never via the driver
        filt = [any_of(tset, pred) for tset, pred in spec.filters]
        excl = [x for x in [any_of(spec.must_not, None)]
                + [any_of((), pred) for pred in spec.must_not_preds]
                if x is not None]
        if "del_ids" in pdf.columns:
            excl += [np.asarray(dv, dtype=np.int64)
                     for dv in pdf["del_ids"] if dv is not None]

        def scored(d, tf, w):
            return d, _score_dispatch(spec, tf, qdl_of(d), w)

        def clause_scores(c: Clause):
            if c.kind in ("term", "synonym"):
                # a term is a one-term synonym (summed tf per doc)
                parts = [tds[t].decode_all() for t in c.terms if t in tds]
                if not parts:
                    return EMPTY
                d = np.concatenate([p[0] for p in parts])
                t = np.concatenate([p[1] for p in parts])
                uniq, inv = np.unique(d, return_inverse=True)
                tf = np.zeros(uniq.size, dtype=np.int64)
                np.add.at(tf, inv, t)
                return scored(uniq, tf, c.weight)
            if c.kind == "phrase" and c.slop > 0:
                return scored(*_sloppy_phrase_freq(
                    tds, list(c.terms), c.slop, spec.f32), c.weight)
            if c.kind == "phrase":
                return scored(*_multiphrase_freq(
                    tds, tuple((t,) for t in c.terms)), c.weight)
            if c.kind == "multiphrase":
                return scored(*_multiphrase_freq(tds, c.terms), c.weight)
            if c.kind == "constant":
                # multi-term under the constant-score rewrite
                # (MultiTermQueryConstantScoreWrapper): any-of match,
                # fixed score c.weight
                uniq = any_of(c.terms, c.pred)
                if uniq is None:
                    return EMPTY
                return uniq, np.full(uniq.size, c.weight, dtype=np.float64)
            if c.kind == "spannear":
                if any(t not in tds for t in c.terms):
                    return EMPTY
                d = _spannear_docs(tds, c.terms, c.slop)
                return d, np.full(d.size, c.weight, dtype=np.float64)
            raise ValueError(c.kind)

        def combine(parts):
            """[(docids, scores, required)] -> (docids, scores): the
            required sets intersected, their scores summed in clause
            order, then the optional scores added (ReqOptSumScorer) and
            msm applied; without required parts, the disjunction
            (DisjunctionSum/DisjunctionMax) of the non-empty parts
            matching at least max(msm, 1) clauses."""
            req = [(d, s) for d, s, r in parts if r]
            opt = [(d, s) for d, s, r in parts if not r and d.size]
            if not req:
                if not opt:
                    return EMPTY
                uniq, tot, cnt = _combine_disjunction(spec, opt)
                sel = cnt >= max(spec.msm, 1)
                return uniq[sel], tot[sel]
            base = req[0][0]
            for d, _ in req[1:]:
                base = base[np.isin(base, d)]
            tot = np.zeros(base.size, dtype=np.float64)
            for d, s in req:
                tot += s[np.searchsorted(d, base)]
            opt_acc = np.zeros(base.size, dtype=np.float64)
            nm = np.zeros(base.size, dtype=np.int64)
            for d, s in opt:
                pos = np.clip(np.searchsorted(d, base), 0, d.size - 1)
                hit = d[pos] == base
                opt_acc[hit] += s[pos[hit]]
                nm[hit] += 1
            sel = nm >= spec.msm
            return base[sel], _req_opt_combine(spec, tot, opt_acc)[sel]

        def admit(docids, scores):
            """FILTER, MUST_NOT and live docs."""
            keep = np.ones(docids.size, dtype=bool)
            for fs in filt:
                keep &= np.isin(docids, fs)
            for xs in excl:
                keep &= ~np.isin(docids, xs)
            return docids[keep], scores[keep]

        def finalize(docids, scores):
            if spec.f32 and scores.size:
                # clause sums ran in float64 (exact for float32 addends);
                # narrow like the reference's (float) cast on the summed
                # double (DisjunctionSumScorer/ConjunctionScorer)
                scores = scores.astype(np.float32).astype(np.float64)
            if not spec.emit_all and docids.size > spec.k:
                # per-segment top-k with the FINAL ordering key:
                # round(score, 6) DESC, docid ASC (HitQueue.lessThan +
                # the engine/oracle rounding convention) — selecting by
                # unrounded score can differ at the k boundary for docs
                # within <1e-6 of each other
                order = np.lexsort((docids, -np.round(scores, 6)))[:spec.k]
                docids, scores = docids[order], scores[order]
            return pd.DataFrame({"docid": docids, "score": scores})

        if any(fs is None for fs in filt):
            return finalize(*EMPTY)
        if spec.emit_all or not spec.prune or not spec.wand_ok:
            return finalize(*admit(*combine(
                [(*clause_scores(c), c.required) for c in spec.clauses])))

        # ---------------- block-max WAND path ----------------------------
        # cells = merged block boundaries; UB(cell) = Σ clause block bounds
        active = [(c, tds[c.terms[0]]) for c in spec.clauses
                  if c.terms[0] in tds]
        n_req = sum(c.required for c in spec.clauses)
        if not active or sum(c.required for c, _ in active) < n_req:
            return finalize(*EMPTY)
        edges = np.unique(np.concatenate(
            [td.last for _, td in active]))  # cell i covers (edges[i-1], edges[i]]
        ub = np.zeros(edges.size, dtype=np.float64)
        req_cover = np.zeros(edges.size, dtype=np.int64)
        for c, td in active:
            bnd = _bound(c.weight, td.max_tf, td.min_qdl, spec.avgdl)
            if spec.f32:
                # float32 rounding can exceed the float64 bound by ulps
                bnd = bnd * (1.0 + 1e-5) + 1e-7
            # block j covers (starts[j], last[j]]; for each cell find the
            # covering block (the first block whose last >= cell edge and
            # whose start < cell edge)
            j = np.searchsorted(td.last, edges)
            jj = np.clip(j, 0, td.last.size - 1)
            covers = (j < td.last.size) & (td.starts[jj] < edges)
            ub[covers] += bnd[jj[covers]]
            if c.required:
                req_cover[covers] += 1
        ub[req_cover < n_req] = -np.inf
        # θ must only ever be fed by admitted docs (FILTER, MUST_NOT and
        # live docs), otherwise pruning is not score-safe (a doc
        # excluded later would have inflated θ)
        cand_d, cand_s = [EMPTY[0]], [EMPTY[1]]
        theta = -np.inf
        pool_d, pool_s = EMPTY
        for ci in np.argsort(-ub):
            if ub[ci] == -np.inf or ub[ci] < theta:
                break
            lo = np.int64(-1) if ci == 0 else edges[ci - 1]
            hi = edges[ci]
            parts = []
            for c, td in active:
                j = int(np.searchsorted(td.last, hi))
                if j == td.last.size or td.starts[j] >= hi:
                    continue
                d, t = td.block(j)
                sel = (d > lo) & (d <= hi)
                parts.append((*scored(d[sel], t[sel], c.weight), c.required))
            uniq, totv = admit(*combine(parts))
            if uniq.size == 0:
                continue
            cand_d.append(uniq)
            cand_s.append(totv)
            pool_s = np.concatenate([pool_s, totv])
            pool_d = np.concatenate([pool_d, uniq])
            if pool_s.size > spec.k:
                # selection key = round(score, 6) / docid ASC, matching
                # the final ordering; θ backs off by the max rounding
                # error (5e-7) so a pruned doc can never round UP into
                # the kth rounded score — score-safe
                keep = np.lexsort((pool_d, -np.round(pool_s, 6)))[:spec.k]
                pool_s, pool_d = pool_s[keep], pool_d[keep]
                theta = float(np.round(pool_s, 6).min()) - 5.0000001e-07
        return finalize(np.concatenate(cand_d), np.concatenate(cand_s))

    return kernel


def _on_executor(spec: SegSpec):
    """``make_kernel(spec)`` as an applyInPandas function. Executor
    Python workers are reused across tasks, so each tunes its allocator
    (segments._tune_allocator) first; the driver's own kernel calls
    leave the driver process alone."""
    kernel = make_kernel(spec)

    def run(pdf):
        from ..index.segments import _tune_allocator
        _tune_allocator()
        return kernel(pdf)
    return run


def _on_driver(spec: SegSpec, frame: DataFrame, order=None):
    """The local step: ONE Arrow collect of the pushed scan ``frame``,
    then the kernel once per segment on the driver, with no shuffle and
    no Python worker. Yields each segment's hits (a pandas frame), in
    the seg id ``order`` when one is given."""
    kernel = make_kernel(spec)
    groups = dict(tuple(frame.toArrow().to_pandas()
                        .groupby("seg_id", sort=False)))
    for seg in (groups if order is None else order):
        if seg in groups:
            yield kernel(groups[seg])


def _arrow_frame(spark, **cols) -> DataFrame:
    """A local DataFrame over numpy columns. Built from an Arrow table it
    is a LocalRelation, so projecting and collecting it runs no Spark
    job (one built from a Python list runs one)."""
    import pyarrow as pa
    return spark.createDataFrame(
        pa.table({name: pa.array(v) for name, v in cols.items()}))


# ---------------------------------------------------------------------------
# driver-side searcher
# ---------------------------------------------------------------------------

# store path -> (key, persisted live-docs frame); process-wide like
# Spark's own cache, because every query may open a fresh reader
_LIVE_DOCS: dict = {}


def _live_docs_frame(six: SegmentIndex) -> DataFrame:
    """The (seg_id, del_ids) frame, persisted once per store and shared
    by every reader whose frame would hold the same rows. It is keyed on
    what those rows depend on: the delete generations and the records of
    the segments that can hold a deleted docid (docid_min at or below
    the largest one, read from the delete sets' footers). An append, or
    a merge of later segments, reuses it; a delete, or a merge or
    expunge of those segments, builds a new one and unpersists the old
    instead of piling it up beside it."""
    top = six.delete_footers[1]
    key = (six.spark, tuple(six.del_gens),
           tuple(sorted((r["seg_id"], r["docid_min"], r["docid_end"])
                        for r in six.segments
                        if top is None or r["docid_min"] <= top)))
    held = _LIVE_DOCS.get(six.path)
    if held is not None and held[0] == key:
        return held[1]
    if held is not None and held[0][0] is six.spark:
        held[1].unpersist()
    frame = six.deleted_by_segment().persist()
    _LIVE_DOCS[six.path] = (key, frame)
    return frame


class SegmentSearcher(TermWeights):
    """Query engine over an on-disk SegmentIndex (WAND path)."""

    def __init__(self, six: SegmentIndex):
        super().__init__(six)
        self.six = six

    def _expand_or_pred(self, q: Query) -> tuple:
        """(terms, pred): enumerate the dictionary terms when the set is
        small; past maxClauseCount fall back to shipping the predicate
        itself, for every multi-term type (the constant-score rewrite
        never enumerates — the scan pushes engine.term_predicate and
        tags the rows it matches, see _segment_frame)."""
        try:
            return self.expand_terms(q), None
        except TooManyClauses:
            return (), q

    MULTI_TERM = (Prefix, Wildcard, TermRange, TermInSet, Fuzzy, Regexp)

    def compile(self, q: Query, k: int, emit_all: bool = False,
                prune: bool = True, f32: bool = False) -> SegSpec:
        q = rewrite(q)
        self._resolve_stats(collect_terms(q))
        clauses: list = []
        must_not: list = []
        filters: list = []
        msm = 0
        combine = "sum"
        tiebreak = 0.0
        n_docs = self.six.doc_count

        def w_term(df: int, boost: float) -> float:
            if f32:
                from .bm25 import idf32
                return float(np.float32(boost) * idf32(df, n_docs))
            return boost * self.idf(df)

        def w_phrase(dfs_list: list, boost: float) -> float:
            if f32:
                from .bm25 import idf32
                # double sum of float32 idfs, narrowed (idfExplain)
                return float(np.float32(boost) * np.float32(
                    sum(float(idf32(d, n_docs)) for d in dfs_list)))
            return boost * sum(self.idf(d) for d in dfs_list)

        def leaf(node: Query, required: bool, boost: float = 1.0):
            if isinstance(node, Boost):
                leaf(node.query, required, boost * node.boost)
                return
            if isinstance(node, Term):
                dfs = self._resolve_dfs({node.term})
                if dfs[node.term] == 0:
                    if required:
                        clauses.append(Clause("term", (node.term,), 0.0,
                                              True))
                    return
                clauses.append(Clause(
                    "term", (node.term,),
                    w_term(dfs[node.term], boost), required))
                return
            if isinstance(node, Synonym):
                dfs = self._resolve_dfs(set(node.terms))
                df_max = max(dfs.values(), default=0)
                if df_max == 0:
                    return
                clauses.append(Clause("synonym", tuple(node.terms),
                                      w_term(df_max, boost), required))
                return
            if isinstance(node, Phrase):
                if node.slop > 0 and len(set(node.terms)) != len(node.terms):
                    raise TypeError("sloppy phrase requires distinct terms")
                dfs = self._resolve_dfs(set(node.terms))
                if any(dfs[t] == 0 for t in node.terms):
                    if required:
                        clauses.append(Clause("phrase", tuple(node.terms),
                                              0.0, True, node.slop))
                    return
                clauses.append(Clause(
                    "phrase", tuple(node.terms),
                    w_phrase([dfs[t] for t in node.terms], boost),
                    required, node.slop))
                return
            if isinstance(node, MultiPhrase):
                if any(len(set(slot)) != len(slot) for slot in node.slots):
                    raise TypeError("multiphrase slots need distinct terms")
                all_terms = [t for slot in node.slots for t in slot]
                dfs = self._resolve_dfs(set(all_terms))
                if any(all(dfs[t] == 0 for t in slot)
                       for slot in node.slots):
                    if required:
                        clauses.append(Clause("multiphrase",
                                              tuple(node.slots), 0.0, True))
                    return
                clauses.append(Clause(
                    "multiphrase", tuple(node.slots),
                    w_phrase([dfs[t] for t in all_terms if dfs[t] > 0],
                             boost),
                    required))
                return
            if isinstance(node, PhraseWildcard):
                # sandbox PhraseWildcardQuery: expand pattern slots
                # against the term dictionary, then score as the
                # expanded MultiPhraseQuery
                leaf(self._expand_phrase_wildcard(node), required, boost)
                return
            if isinstance(node, SpanNear):
                # constant-score span (the engine's rewrite): weight =
                # boost * 1.0
                clauses.append(Clause("spannear", tuple(node.terms),
                                      boost, required, node.slop))
                return
            if isinstance(node, ConstantScore):
                inner = node.query
                if isinstance(inner, Term):
                    clauses.append(Clause("constant", (inner.term,),
                                          boost * node.score, required))
                    return
                if isinstance(inner, self.MULTI_TERM):
                    ts, pr = self._expand_or_pred(inner)
                    clauses.append(Clause(
                        "constant", ts, boost * node.score, required,
                        pred=pr))
                    return
                if isinstance(inner, SpanNear):
                    clauses.append(Clause(
                        "spannear", tuple(inner.terms),
                        boost * node.score, required, inner.slop))
                    return
                raise TypeError("segment path ConstantScore supports "
                                "Term / multi-term / SpanNear")
            if isinstance(node, self.MULTI_TERM):
                # constant-score rewrite
                # (MultiTermQueryConstantScoreWrapper)
                ts, pr = self._expand_or_pred(node)
                clauses.append(Clause("constant", ts, boost, required,
                                      pred=pr))
                return
            raise TypeError(
                f"segment path does not support {type(node).__name__} "
                f"in scoring position")

        must_not_preds: list = []

        def neg_terms(x: Query) -> tuple:
            if isinstance(x, Term):
                return (x.term,), None
            if isinstance(x, self.MULTI_TERM):
                return self._expand_or_pred(x)
            raise TypeError(
                "segment path MUST_NOT/FILTER needs Term or multi-term")

        if isinstance(q, Bool):
            msm = q.minimum_should_match
            for m in q.must:
                leaf(m, True)
            for s in q.should:
                leaf(s, False)
            for x in q.must_not:
                ts, pr = neg_terms(x)
                must_not.extend(ts)
                if pr is not None:
                    must_not_preds.append(pr)
            for ft in q.filter:
                ts, pr = neg_terms(ft)
                filters.append((tuple(ts), pr))
        elif isinstance(q, DisMax):
            # DisjunctionMaxQuery.java:45 — per-doc combine is
            # max + tiebreak * (sum - max); the WAND cell bound Σ clause
            # maxima still upper-bounds it for tiebreak <= 1
            combine = "dismax"
            # f32 parity: the reference stores tieBreakerMultiplier as a
            # float (DisjunctionMaxQuery.java), widened to double in the
            # scorer's (float)(max + tb * otherSum)
            tiebreak = (float(np.float32(q.tiebreak)) if f32
                        else float(q.tiebreak))
            for c in q.clauses:
                leaf(c, False)
        else:
            leaf(q, True)

        return SegSpec(clauses=clauses, must_not=tuple(must_not),
                       must_not_preds=tuple(must_not_preds),
                       filters=tuple(filters), msm=msm,
                       combine=combine, tiebreak=tiebreak, k=k,
                       avgdl=self.six.doc_count and
                       (self.six.sum_ttf / float(self.six.doc_count)),
                       emit_all=emit_all, prune=prune, f32=f32)

    def _all_terms(self, spec: SegSpec):
        ts = set(spec.must_not)
        for tset, _ in spec.filters:
            ts |= set(tset)
        for c in spec.clauses:
            if c.kind == "multiphrase":
                for slot in c.terms:
                    ts |= set(slot)
            else:
                ts |= set(c.terms)
        return sorted(ts)

    def _segment_frame(self, spec: SegSpec) -> DataFrame:
        """One pushed scan of the commit's segment data: the query's
        posting rows plus each segment's norms row (``term IS NULL``),
        so a segment's docid_min and qdl blob reach its kernel call
        with its postings and no join runs; a kernel call takes one
        seg_id's rows."""
        preds = _all_preds(spec)
        cond = F.col("term").isin(self._all_terms(spec))
        for node in preds:
            # the dictionary predicate pushes into the parquet scan
            # (LIKE/range prune on term-sorted row groups)
            cond = cond | term_predicate(node)
        out = self.six._data().filter(cond | F.col("term").isNull()) \
            .select(*[f.name for f in PACKED_SCHEMA.fields],
                    "docid_min", "qdl_blob")
        if preds:
            # _pm: the indexes (into _all_preds) of the fallback
            # predicates each row's term matches — the kernel's
            # any_of reads them instead of matching terms itself
            out = out.withColumn("_pm", F.filter(F.array(*[
                F.when(term_predicate(p), F.lit(i))
                for i, p in enumerate(preds)]), lambda x: x.isNotNull()))
        if self.six.del_gens:
            # live docs (Lucene's per-segment liveDocs bitset): one
            # (seg_id, del_ids) row per segment with deletes, grouped
            # with the segment's rows by seg_id, never via the driver
            out = out.unionByName(_live_docs_frame(self.six),
                                  allowMissingColumns=True)
        return out

    def _scan_estimate(self, spec: SegSpec) -> float:
        """Estimated bytes of the pushed scan of ``spec`` as ``toArrow``
        returns it, from what the reader already holds. Postings take
        the records' packed bytes per posting plus ``BLOCK_SKIP_BYTES``
        per block; each posting row ``ROW_BYTES``; each segment's norms
        row 5 B per docid; each deleted docid 8 B. An enumerated term
        counts its df and one row per segment. A non-enumerated
        multi-term predicate has no df and may match every term: it
        counts every posting row of the commit. An estimate, not a
        bound: the scan of a term whose postings pack larger than the
        commit's average can exceed it."""
        segs = self.six.segments
        n_postings = sum(r["n_postings"] for r in segs)
        if not n_postings:
            return 0.0
        if _all_preds(spec):
            postings = n_postings
            rows = sum(r["n_terms"] for r in segs)
        else:
            terms = self._all_terms(spec)
            postings = sum(self._resolve_dfs(terms).values())
            rows = len(terms) * len(segs)
        per_posting = (sum(r["packed_bytes"] for r in segs) / n_postings
                       + BLOCK_SKIP_BYTES / blk.BLOCK_SIZE)
        return (postings * per_posting + rows * ROW_BYTES
                + 5 * sum(r["docid_end"] - r["docid_min"] for r in segs)
                + 8 * self.six.delete_footers[0])

    def candidates(self, q: Query, k: int, emit_all: bool = False,
                   prune: bool = True, f32: bool = False) -> DataFrame:
        """Each segment's hits (docid, score): its top k by
        (round(score, 6) DESC, docid ASC), or every match with
        ``emit_all``. A top-k whose scan estimate is at most
        ``LOCAL_SCAN_BYTES`` runs the local step now and returns its hits
        as a local Arrow-backed frame; anything else is one lazy
        ``groupBy(seg_id).applyInPandas`` stage on the executors."""
        spec = self.compile(q, k, emit_all=emit_all, prune=prune, f32=f32)
        spark = self.six.spark
        if not spec.clauses:
            return _arrow_frame(spark, docid=EMPTY[0], score=EMPTY[1])
        frame = self._segment_frame(spec)
        if not emit_all and self._scan_estimate(spec) <= LOCAL_SCAN_BYTES:
            hits = list(_on_driver(spec, frame))
            return _arrow_frame(
                spark,
                docid=np.concatenate([EMPTY[0]] + [h["docid"].to_numpy()
                                                   for h in hits]),
                score=np.concatenate([EMPTY[1]] + [h["score"].to_numpy()
                                                   for h in hits]))
        return frame.groupBy("seg_id").applyInPandas(
            _on_executor(spec), OUT_SCHEMA)

    def _top_docs(self, hits: DataFrame, k: int, f32: bool) -> DataFrame:
        """TopDocs.merge (SEARCH/TopDocs.java:70-115) on the driver: the
        per-segment hits are collected, ordered by score DESC then docid
        ASC (the HitQueue tie-break), cut to k, and returned as a local
        frame whose ``collect()`` runs no job. Double scores are first
        rounded to 6 places by Spark's HALF_UP ``round``. Local hits
        collect without a job; executor hits pass Spark's per-partition
        TakeOrdered inside the stage that collects them (no extra job),
        so the driver receives <= k rows per partition, not per
        segment."""
        local = hits.isLocal()
        if not f32:
            hits = hits.select("docid",
                               F.round(F.col("score"), 6).alias("score"))
        if not local:
            hits = hits.orderBy(F.desc("score"), F.asc("docid")).limit(k)
        rows = sorted((-r.score, r.docid) for r in hits.collect())[:k]
        return _arrow_frame(
            self.six.spark,
            doc_id=np.array([d for _, d in rows], dtype=np.int64),
            score=np.array([-s for s, _ in rows],
                           dtype=np.float32 if f32 else np.float64))

    def topk(self, q: Query, k: int = 10, prune: bool = True) -> DataFrame:
        """The top k (doc_id, score) of ``q``, scores rounded to 6
        places. Like IndexSearcher.search returning TopDocs, the hits
        are materialized when this is called: the per-segment kernel
        runs (on the driver when the scan is small, see
        ``candidates``) and ``_top_docs`` merges."""
        return self._top_docs(self.candidates(q, k, prune=prune), k, False)

    def scored(self, q: Query) -> DataFrame:
        """All matches with scores (no pruning) — grouping/paging feed."""
        return self.candidates(q, k=0, emit_all=True, prune=False)

    def topk32(self, q: Query, k: int = 10, prune: bool = True) -> DataFrame:
        """Lucene-parity top-k over packed segments: float32 BM25 with
        block-max WAND pruning, ties by docid ASC (HitQueue.lessThan),
        materialized when called like ``topk``. The repo's only float32
        scorer; tests/test_lucene_parity.py checks it bit for bit
        against an independent numpy oracle."""
        return self._top_docs(self.candidates(q, k, prune=prune, f32=True),
                              k, True)

    def count(self, q: Query) -> DataFrame:
        return (self.scored(q)
                .agg(F.count("*").cast("long").alias("n_hits")))

    def topk_by_docid(self, q: Query, k: int = 10) -> DataFrame:
        """Early-terminated index-order top-k (TopFieldCollector's
        canEarlyTerminate path when the query Sort equals the index
        sort, TopFieldCollector.java:200): segments hold contiguous
        docid ranges in index order (record ``docid_min``), so the
        first k matches by docid need only a PREFIX of segments, and
        every unvisited segment's docids are all larger than the
        visited ones, so collection stops the moment k hits exist.
        When the pushed scan fits on the driver, it is one Arrow
        collect and the kernel runs segment by segment in docid order.
        Otherwise segments are probed with geometric widening (1, 2,
        4, ... segments per probe — <= log2(S) probes even when the
        query is sparse), each probe a pushed-filter scan of only the
        probed seg_ids of which at most k rows reach the driver (the
        same k-row materialization TopDocs itself implies). Scores are
        not computed (trackScores=false shape): the kernel runs in
        emit-all mode and the docid column alone is kept."""
        spec = self.compile(q, k, emit_all=True, prune=False)
        taken: list = []
        if spec.clauses:
            order = [seg for _, seg in sorted(
                (r["docid_min"], r["seg_id"]) for r in self.six.segments)]
            frame = self._segment_frame(spec)
            if self._scan_estimate(spec) <= LOCAL_SCAN_BYTES:
                for hits in _on_driver(spec, frame, order):
                    taken.extend(hits["docid"].tolist())
                    if len(taken) >= k:
                        break
            else:
                i, width = 0, 1
                while i < len(order) and len(taken) < k:
                    batch = order[i:i + width]
                    i += width
                    width *= 2
                    hits = (frame.filter(F.col("seg_id").isin(batch))
                            .groupBy("seg_id")
                            .applyInPandas(_on_executor(spec), OUT_SCHEMA)
                            .orderBy("docid").limit(k - len(taken))
                            .collect())
                    taken.extend(int(r.docid) for r in hits)
        return _arrow_frame(
            self.six.spark,
            doc_id=np.sort(np.array(taken, dtype=np.int64))[:k])
