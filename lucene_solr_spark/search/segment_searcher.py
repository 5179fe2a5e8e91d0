"""Segment-native BM25 top-k: block-max WAND inside applyInPandas.

The Spark realization of the reference's pruned search path
(SEARCH/WANDScorer.java:29-447, ImpactsDISI.java:95-127,
MaxScoreCache.java:61-124, BlockMaxConjunctionScorer.java:101-140):

- the driver compiles the query AST to a flat clause spec, resolves
  **global** term stats once (IndexSearcher.createWeight freezing
  CollectionStatistics — SEARCH/IndexSearcher.java:909-926) and bakes
  idf weights into the spec;
- executors run one kernel invocation per segment
  (``groupBy(seg_id).applyInPandas``): per-term skip arrays give a
  piecewise-constant score upper bound over docid space; cells (merged
  block intervals) are processed in descending upper-bound order and
  the kernel stops as soon as the next cell's bound is below the
  current k-th best true score θ — score-safe pruning, identical
  result set to exhaustive evaluation (CheckHits.checkTopScores is the
  test contract);
- per-segment candidates (≤k each) are reduced by one narrow
  ``orderBy(score DESC, docid ASC).limit(k)`` = TopDocs.merge
  (SEARCH/TopDocs.java:70-115) with the HitQueue tie-break.

Only the query terms' packed rows are read: the filter on ``term``
reaches the Parquet scan (term-sorted row groups prune), and the
``seg_id`` partitioning keeps the shuffle to one tiny candidate union.

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
from ..index.segments import SegmentIndex
from .engine import TermWeights, TooManyClauses, term_predicate
from .query import (
    Bool, Boost, ConstantScore, DisMax, Fuzzy, MultiPhrase, Phrase,
    PhraseWildcard, Prefix, Query, Regexp, SpanNear, Synonym, Term,
    TermInSet, TermRange, Wildcard, collect_terms, rewrite,
)

OUT_SCHEMA = "docid long, score double"


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
    # the Spark predicate, the kernel re-applies it python-side (the
    # constant-score rewrite never enumerates;
    # MultiTermQueryConstantScoreWrapper builds the bitset directly)


def py_term_matcher(q):
    """Python-side term predicate mirroring engine.term_predicate — used
    by the kernel for non-enumerated multi-term clauses."""
    import re as _re

    from .query import (
        Prefix as _P, Regexp as _R, TermInSet as _S, TermRange as _TR,
        Wildcard as _W,
    )
    if isinstance(q, _P):
        p = q.prefix
        return lambda t: t.startswith(p)
    if isinstance(q, _W):
        rx = "".join(".*" if c == "*" else "." if c == "?"
                     else _re.escape(c) for c in q.pattern)
        cre = _re.compile(f"(?:{rx})\\Z")
        return lambda t: cre.match(t) is not None
    if isinstance(q, _R):
        from .regexp import lucene_regexp_to_tree

        def _build(node):
            kind = node[0]
            if kind == "re":
                cre = _re.compile(f"(?:{node[1]})\\Z")
                return lambda t: cre.match(t) is not None
            if kind == "and":
                fs = [_build(x) for x in node[1]]
                return lambda t: all(f(t) for f in fs)
            if kind == "or":
                fs = [_build(x) for x in node[1]]
                return lambda t: any(f(t) for f in fs)
            f = _build(node[1])
            return lambda t: not f(t)
        return _build(lucene_regexp_to_tree(q.pattern))
    if isinstance(q, _TR):
        lo, hi, il, iu = q.lower, q.upper, q.include_lower, q.include_upper
        return lambda t: ((t >= lo if il else t > lo)
                          and (t <= hi if iu else t < hi))
    if isinstance(q, _S):
        s = set(q.terms)
        return lambda t: t in s
    return None


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
    has_deletes: bool = False  # commit carries live-docs; kernel reads the
    # per-segment del_ids column of its input frame (never a driver array)

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


def _phrase_freq(tds: list, terms: list) -> tuple:
    """Exact phrase matcher (SEARCH/ExactPhraseMatcher.java:36): docids
    common to all terms, freq = #positions p in term0 with p+i in termi.
    Vectorized: per-term (doc, position) pairs become composite int64
    keys (doc-index * M + position); slot i's check is one np.isin of
    key0 + i against slot i's keys — no per-doc python loop."""
    views = [tds[t].all_positions() for t in terms]
    common = _common_docs(views)
    if common.size == 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    flat = [_flat_positions(v, common) for v in views]
    m = np.int64(max(int(f[1].max(initial=0)) for f in flat)
                 + len(terms) + 2)
    rep0, pos0 = flat[0]
    key0 = rep0 * m + pos0
    keep = np.ones(key0.size, dtype=bool)
    for i in range(1, len(terms)):
        repi, posi = flat[i]
        keep &= np.isin(key0 + i, repi * m + posi)
    freq = np.bincount(rep0[keep], minlength=common.size)
    sel = freq > 0
    return common[sel], freq[sel].astype(np.int64)


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
    views = [tds[t].all_positions() for t in terms]
    common = _common_docs(views)
    if common.size == 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
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
    """MultiPhraseQuery freq (SEARCH/MultiPhraseQuery.java:56): per doc,
    the number of start positions p with SOME alternative of slot i at
    p+i for every i. Slot postings are term-unions; same composite-key
    vectorization as _phrase_freq."""
    slot_views = []
    for slot in slots:
        vs = [tds[t].all_positions() for t in slot if t in tds]
        if not vs:
            return (np.empty(0, dtype=np.int64),
                    np.empty(0, dtype=np.int64))
        slot_views.append(vs)
    common = None
    for vs in slot_views:
        docs = np.unique(np.concatenate([v[0] for v in vs]))
        common = docs if common is None else common[np.isin(common, docs)]
    if common.size == 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
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


def make_kernel(spec: SegSpec):
    """Build the applyInPandas function for one query."""

    def kernel(pdf):
        import pandas as pd

        from ..index.segments import _tune_allocator
        _tune_allocator()
        qdl_blob = np.frombuffer(pdf["qdl_blob"].iloc[0], dtype=np.int32)
        docid_min = int(pdf["docid_min"].iloc[0])
        # per-segment live docs: the delete set arrives co-partitioned
        # in the input frame (seg-local array), never via the driver
        deleted = None
        if spec.has_deletes and "del_ids" in pdf.columns:
            dv = pdf["del_ids"].iloc[0]
            if dv is not None and len(dv):
                deleted = np.asarray(dv, dtype=np.int64)
        tds = {row.term: _TermData(row)
               for row in pdf.itertuples(index=False)
               if row.term is not None}

        def qdl_of(docids: np.ndarray) -> np.ndarray:
            return qdl_blob[docids - docid_min].astype(np.int64)

        def any_of(tset, pred):
            """Sorted docids holding a term of ``tset`` or, for a
            non-enumerated multi-term node ``pred``, any of this
            segment's (already scan-filtered) terms it matches; None
            when no such term is here."""
            if pred is not None:
                match = py_term_matcher(pred)
                names = [t for t in tds if match(t)]
            else:
                names = [t for t in tset if t in tds]
            if not names:
                return None
            return np.unique(np.concatenate(
                [tds[t].decode_all()[0] for t in names]))

        # FILTER sets (None: the filter matches nothing here) and
        # MUST_NOT exclusion sets, decoded once per segment
        filt = [any_of(tset, pred) for tset, pred in spec.filters]
        excl = [x for x in [any_of(spec.must_not, None)]
                + [any_of((), pred) for pred in spec.must_not_preds]
                if x is not None]

        def term_scores(term, w):
            td = tds.get(term)
            if td is None:
                return (np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=np.float64))
            d, t = td.decode_all()
            return d, _score_dispatch(spec, t, qdl_of(d), w)

        def clause_scores(c: Clause):
            if c.kind == "term":
                return term_scores(c.terms[0], c.weight)
            if c.kind == "synonym":
                parts = []
                for t in c.terms:
                    td = tds.get(t)
                    if td is not None:
                        parts.append(td.decode_all())
                if not parts:
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
                d = np.concatenate([p[0] for p in parts])
                t = np.concatenate([p[1] for p in parts])
                uniq, inv = np.unique(d, return_inverse=True)
                tf = np.zeros(uniq.size, dtype=np.int64)
                np.add.at(tf, inv, t)
                return uniq, _score_dispatch(spec, tf, qdl_of(uniq),
                                             c.weight)
            if c.kind == "phrase":
                if any(t not in tds for t in c.terms):
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
                if c.slop > 0:
                    d, f = _sloppy_phrase_freq(tds, list(c.terms),
                                               c.slop, spec.f32)
                else:
                    d, f = _phrase_freq(tds, list(c.terms))
                if d.size == 0:
                    return d, np.empty(0, dtype=np.float64)
                return d, _score_dispatch(spec, f, qdl_of(d), c.weight)
            if c.kind == "multiphrase":
                if any(all(t not in tds for t in slot) for slot in c.terms):
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
                d, f = _multiphrase_freq(tds, c.terms)
                if d.size == 0:
                    return d, np.empty(0, dtype=np.float64)
                return d, _score_dispatch(spec, f, qdl_of(d), c.weight)
            if c.kind == "constant":
                # multi-term under the constant-score rewrite
                # (MultiTermQueryConstantScoreWrapper): any-of match,
                # fixed score c.weight
                uniq = any_of(c.terms, c.pred)
                if uniq is None:
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
                return uniq, np.full(uniq.size, c.weight, dtype=np.float64)
            if c.kind == "spannear":
                if any(t not in tds for t in c.terms):
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
                d = _spannear_docs(tds, c.terms, c.slop)
                return d, np.full(d.size, c.weight, dtype=np.float64)
            raise ValueError(c.kind)

        req = [c for c in spec.clauses if c.required]
        opt = [c for c in spec.clauses if not c.required]

        def finalize(docids, scores):
            """filters / exclusions / live-docs, then emit."""
            if deleted is not None and docids.size:
                keep0 = ~np.isin(docids, deleted)
                docids, scores = docids[keep0], scores[keep0]
            if spec.f32 and scores.size:
                # clause sums ran in float64 (exact for float32 addends);
                # narrow like the reference's (float) cast on the summed
                # double (DisjunctionSumScorer/ConjunctionScorer)
                scores = scores.astype(np.float32).astype(np.float64)
            keep = np.ones(docids.size, dtype=bool)
            for fs in filt:
                keep &= False if fs is None else np.isin(docids, fs)
            for xs in excl:
                keep &= ~np.isin(docids, xs)
            docids, scores = docids[keep], scores[keep]
            if not spec.emit_all and docids.size > spec.k:
                # per-segment top-k with the FINAL ordering key:
                # round(score, 6) DESC, docid ASC (HitQueue.lessThan +
                # the engine/oracle rounding convention) — selecting by
                # unrounded score can differ at the k boundary for docs
                # within <1e-6 of each other
                order = np.lexsort((docids, -np.round(scores, 6)))[:spec.k]
                docids, scores = docids[order], scores[order]
            return pd.DataFrame({"docid": docids, "score": scores})

        # ---------------- exhaustive path --------------------------------
        def exhaustive():
            req_parts = [clause_scores(c) for c in req]
            if req and any(p[0].size == 0 for p in req_parts):
                return finalize(np.empty(0, dtype=np.int64),
                                np.empty(0, dtype=np.float64))
            opt_parts = [clause_scores(c) for c in opt]
            if req:
                base = req_parts[0][0]
                for p in req_parts[1:]:
                    base = base[np.isin(base, p[0])]
                if base.size == 0:
                    return finalize(base, np.empty(0, dtype=np.float64))
                tot = np.zeros(base.size, dtype=np.float64)
                for p in req_parts:
                    tot += p[1][np.searchsorted(p[0], base)]
                nm = np.zeros(base.size, dtype=np.int64)
                opt_acc = np.zeros(base.size, dtype=np.float64)
                for d, s in opt_parts:
                    if d.size == 0:
                        continue
                    pos = np.searchsorted(d, base)
                    pos = np.clip(pos, 0, d.size - 1)
                    hit = d[pos] == base
                    opt_acc[hit] += s[pos[hit]]
                    nm[hit] += 1
                tot = _req_opt_combine(spec, tot, opt_acc)
                if spec.msm > 0:
                    sel = nm >= spec.msm
                    base, tot = base[sel], tot[sel]
                return finalize(base, tot)
            # pure disjunction
            parts = [p for p in opt_parts if p[0].size]
            if not parts:
                return finalize(np.empty(0, dtype=np.int64),
                                np.empty(0, dtype=np.float64))
            uniq, tot, cnt = _combine_disjunction(spec, parts)
            msm = max(spec.msm, 1)
            sel = cnt >= msm
            return finalize(uniq[sel], tot[sel])

        if spec.emit_all or not spec.prune or not spec.wand_ok:
            return exhaustive()

        # ---------------- block-max WAND path ----------------------------
        # cells = merged block boundaries; UB(cell) = Σ clause block bounds
        active = [(c, tds[c.terms[0]]) for c in spec.clauses
                  if c.terms[0] in tds]
        if not active or (req and len([1 for c in req
                                       if c.terms[0] in tds]) < len(req)):
            return finalize(np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
        bounds = []
        for c, td in active:
            b = _bound(c.weight, td.max_tf, td.min_qdl, spec.avgdl)
            if spec.f32:
                # float32 rounding can exceed the float64 bound by ulps
                b = b * (1.0 + 1e-5) + 1e-7
            bounds.append((b, td))
        edges = np.unique(np.concatenate(
            [td.last for _, td in bounds]))  # cell i covers (edges[i-1], edges[i]]
        ub = np.zeros(edges.size, dtype=np.float64)
        req_cover = np.zeros(edges.size, dtype=np.int64)
        n_req = len(req)
        for (bnd, td), (c, _) in zip(bounds, active):
            # block j covers (starts[j], last[j]]; for each cell find the
            # covering block (the first block whose last >= cell edge and
            # whose start < cell edge)
            j = np.searchsorted(td.last, edges)
            valid = j < td.last.size
            jj = np.clip(j, 0, td.last.size - 1)
            covers = valid & (td.starts[jj] < edges)
            ub[covers] += bnd[jj[covers]]
            if c.required:
                req_cover[covers] += 1
        if n_req:
            ub[req_cover < n_req] = -np.inf
        order = np.argsort(-ub)
        # θ must only ever be fed by docs that survive MUST_NOT / FILTER
        # and live docs, otherwise pruning is not score-safe (a doc
        # excluded later would have inflated θ)
        if any(fs is None for fs in filt):
            return finalize(np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
        live_excl = excl if deleted is None else excl + [deleted]
        cand_d: list = []
        cand_s: list = []
        theta = -np.inf
        kth_pool_d = np.empty(0, dtype=np.int64)
        kth_pool_s = np.empty(0, dtype=np.float64)

        def cell_range(ci):
            lo = np.int64(-1) if ci == 0 else edges[ci - 1]
            return lo, edges[ci]

        for ci in order:
            if ub[ci] == -np.inf:
                break
            if ub[ci] < theta:
                break
            lo, hi = cell_range(ci)
            parts = []
            req_sets = []
            for (bnd, td), (c, _) in zip(bounds, active):
                j = int(np.searchsorted(td.last, hi))
                if j >= td.last.size or td.starts[j] >= hi or td.last[j] < hi:
                    if c.required:
                        parts = None
                        break
                    continue
                d, t = td.block(j)
                sel = (d > lo) & (d <= hi)
                d, t = d[sel], t[sel]
                if c.required and d.size == 0:
                    parts = None
                    break
                if d.size:
                    s = _score_dispatch(spec, t, qdl_of(d), c.weight)
                    parts.append((d, s, c.required))
                    if c.required:
                        req_sets.append(d)
            if parts is None or not parts:
                continue
            if n_req:
                base = req_sets[0]
                for rs in req_sets[1:]:
                    base = base[np.isin(base, rs)]
                if base.size == 0:
                    continue
                tot = np.zeros(base.size, dtype=np.float64)
                opt_acc = np.zeros(base.size, dtype=np.float64)
                nm = np.zeros(base.size, dtype=np.int64)
                for d, s, is_req in parts:
                    pos = np.searchsorted(d, base)
                    pos = np.clip(pos, 0, max(d.size - 1, 0))
                    hit = (d.size > 0) & (d[pos] == base)
                    if is_req:
                        tot[hit] += s[pos[hit]]
                    else:
                        opt_acc[hit] += s[pos[hit]]
                        nm[hit] += 1
                tot = _req_opt_combine(spec, tot, opt_acc)
                if spec.msm > 0:
                    selm = nm >= spec.msm
                    base, tot = base[selm], tot[selm]
                uniq, totv = base, tot
            else:
                uniq, totv, cnt = _combine_disjunction(
                    spec, [(d, s) for d, s, _ in parts])
                msm = max(spec.msm, 1)
                selm = cnt >= msm
                uniq, totv = uniq[selm], totv[selm]
            for fs in filt:
                sel = np.isin(uniq, fs)
                uniq, totv = uniq[sel], totv[sel]
            for xs in live_excl:
                sel = ~np.isin(uniq, xs)
                uniq, totv = uniq[sel], totv[sel]
            if uniq.size == 0:
                continue
            cand_d.append(uniq)
            cand_s.append(totv)
            pool_s = np.concatenate([kth_pool_s, totv])
            pool_d = np.concatenate([kth_pool_d, uniq])
            if pool_s.size > spec.k:
                # selection key = round(score, 6) / docid ASC, matching
                # the final ordering; θ backs off by the max rounding
                # error (5e-7) so a pruned doc can never round UP into
                # the kth rounded score — score-safe
                keep = np.lexsort((pool_d, -np.round(pool_s, 6)))[:spec.k]
                pool_s, pool_d = pool_s[keep], pool_d[keep]
                theta = float(np.round(pool_s, 6).min()) - 5.0000001e-07
            kth_pool_s, kth_pool_d = pool_s, pool_d
        if not cand_d:
            return finalize(np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
        alld = np.concatenate(cand_d)
        alls = np.concatenate(cand_s)
        return finalize(alld, alls)

    return kernel


# ---------------------------------------------------------------------------
# driver-side searcher
# ---------------------------------------------------------------------------

# store path -> ((session, commit generation), persisted live-docs frame);
# process-wide like Spark's own cache, because every query may open a
# fresh reader of the same commit
_LIVE_DOCS: dict = {}


def _live_docs_frame(six: SegmentIndex) -> DataFrame:
    """The commit's (seg_id, del_ids) frame, persisted once per store:
    fresh readers of one commit share it, and a newer commit's frame
    replaces (unpersists) the older one instead of piling up beside it."""
    key = (six.spark, six.generation)
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

    def _deleted_df(self):
        """(seg_id, del_ids) live-docs DataFrame, joined into the kernel
        input frame by seg_id (Lucene's per-segment liveDocs bitset) —
        deletes never travel through the driver. None when the commit
        has no deletes."""
        if not self.six.del_gens:
            return None
        return _live_docs_frame(self.six)

    def _expand_or_pred(self, q: Query) -> tuple:
        """(terms, pred): enumerate the dictionary terms when the set is
        small; past maxClauseCount fall back to shipping the predicate
        itself (the constant-score rewrite never enumerates — the
        scan pushes the Spark predicate and the kernel re-applies it
        python-side). Fuzzy stays enumerated (its neighborhood is
        edit-bounded; Lucene's TopTermsRewrite caps it the same way)."""
        try:
            return self.expand_terms(q), None
        except TooManyClauses:
            if py_term_matcher(q) is None:
                raise
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
                       emit_all=emit_all, prune=prune, f32=f32,
                       has_deletes=bool(self.six.del_gens))

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

    def _all_preds(self, spec: SegSpec):
        """Non-enumerated multi-term query nodes riding the spec."""
        out = [c.pred for c in spec.clauses
               if c.kind == "constant" and c.pred is not None]
        out += [pr for _, pr in spec.filters if pr is not None]
        out += list(spec.must_not_preds)
        return out

    def _segment_frame(self, spec: SegSpec) -> DataFrame:
        terms = self._all_terms(spec)
        cond = F.col("term").isin(terms)
        for node in self._all_preds(spec):
            # the dictionary predicate pushes into the parquet scan
            # (LIKE/range prune on term-sorted row groups)
            cond = cond | term_predicate(node)
        pk = self.six.packed.filter(cond)
        nm = self.six.norms.select("seg_id", "docid_min", "qdl_blob")
        # no broadcast hint: at bench scale AQE broadcasts this anyway;
        # at 10^12 docs the norms table is terabytes and must co-locate
        # by seg_id through a shuffle join instead
        out = pk.join(nm, "seg_id")
        if spec.has_deletes:
            # live docs co-partitioned by seg_id (left: most segments
            # have no deletes)
            out = out.join(self._deleted_df(), "seg_id", "left")
        return out

    def candidates(self, q: Query, k: int, emit_all: bool = False,
                   prune: bool = True, f32: bool = False) -> DataFrame:
        spec = self.compile(q, k, emit_all=emit_all, prune=prune, f32=f32)
        if not spec.clauses:
            return (self.six.norms.sparkSession
                    .range(0).select(F.col("id").alias("docid"),
                                     F.lit(0.0).alias("score")))
        df = self._segment_frame(spec)
        return df.groupBy("seg_id").applyInPandas(
            make_kernel(spec), OUT_SCHEMA)

    def topk(self, q: Query, k: int = 10, prune: bool = True) -> DataFrame:
        s = self.candidates(q, k, prune=prune).select(
            "docid", F.round(F.col("score"), 6).alias("score"))
        return (s.orderBy(F.desc("score"), F.asc("docid")).limit(k)
                .select(F.col("docid").alias("doc_id"), "score"))

    def scored(self, q: Query) -> DataFrame:
        """All matches with scores (no pruning) — grouping/paging feed."""
        return self.candidates(q, k=0, emit_all=True, prune=False)

    def topk32(self, q: Query, k: int = 10, prune: bool = True) -> DataFrame:
        """Lucene-parity top-k over packed segments: float32 BM25 with
        block-max WAND pruning, ties by docid ASC (HitQueue.lessThan).
        The repo's only float32 scorer; tests/test_lucene_parity.py
        checks it bit for bit against an independent numpy oracle."""
        s = self.candidates(q, k, prune=prune, f32=True)
        return (s.orderBy(F.desc("score"), F.asc("docid")).limit(k)
                .select(F.col("docid").alias("doc_id"),
                        F.col("score").cast("float").alias("score")))

    def count(self, q: Query) -> DataFrame:
        return (self.scored(q)
                .agg(F.count("*").cast("long").alias("n_hits")))

    def topk_by_docid(self, q: Query, k: int = 10) -> DataFrame:
        """Early-terminated index-order top-k (TopFieldCollector's
        canEarlyTerminate path when the query Sort equals the index
        sort, TopFieldCollector.java:200): segments hold contiguous
        docid ranges in index order (catalog ``docid_min``), so the
        first k matches by docid need only a PREFIX of segments.
        Segments are probed in docid order with geometric widening
        (1, 2, 4, ... segments per probe — <= log2(S) probes even when
        the query is sparse); every unvisited segment's docids are all
        larger than the visited ones, so collection stops the moment k
        hits exist. Each probe is a pushed-filter scan of only the
        probed seg_ids; per probe at most k rows reach the driver (the
        same k-row materialization TopDocs itself implies). Scores are
        not computed (trackScores=false shape): the kernel runs in
        emit-all mode and the docid column alone is kept."""
        spec = self.compile(q, k, emit_all=True, prune=False)
        spark = self.six.norms.sparkSession
        out_schema = "doc_id long"
        if not spec.clauses:
            return spark.createDataFrame([], out_schema)
        cat = sorted(
            (r.docid_min, r.seg_id)
            for r in self.six.catalog.select("seg_id", "docid_min")
            .collect()
            if r.seg_id in self.six.live_segs)
        frame = self._segment_frame(spec)
        taken: list = []
        i, width = 0, 1
        while i < len(cat) and len(taken) < k:
            batch = [seg for _, seg in cat[i:i + width]]
            i += width
            width *= 2
            hits = (frame.filter(F.col("seg_id").isin(batch))
                    .groupBy("seg_id")
                    .applyInPandas(make_kernel(spec), OUT_SCHEMA)
                    .orderBy("docid").limit(k - len(taken))
                    .collect())
            taken.extend(int(r.docid) for r in hits)
        rows = [(d,) for d in sorted(taken)[:k]]
        return spark.createDataFrame(rows, out_schema)
