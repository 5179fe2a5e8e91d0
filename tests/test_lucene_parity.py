"""Rank-identity gate: the segment kernel's float32 top-k
(SegmentSearcher.topk32, the repo's one float32 scorer) vs an
independent brute-force numpy oracle implementing the published Lucene
BM25 math.

This is the in-repo stand-in for Lucene's CheckHits/IndexSearcher
assertions (CheckHits.java:578-587): the oracle scores EVERY matching
doc exhaustively with the exact float32 formula and quantized norms;
the kernel, WAND-pruned and exhaustive alike, must return identical
top-k docIDs and identical float32 score bits under the (score DESC,
docid ASC) tie-break. The same oracle is the float32 reference of
tests/test_segments.py and tests/test_round2_ops.py.
"""

import math
import re

import numpy as np
import pytest

from lucene_solr_spark.search.query import (
    Bool, DisMax, Phrase, Prefix, Synonym, Term,
)
from lucene_solr_spark.search.segment_searcher import SegmentSearcher
from lucene_solr_spark.search.sloppy import (
    sloppy_freq_f32, sloppy_match_lengths,
)

K1, B = 1.2, 0.75


# --------------------------------------------------------------------------
# independent oracle (pure numpy/python; no engine imports beyond data
# and the sloppy-phrase matcher, which has its own tests)
# --------------------------------------------------------------------------

def _tokenize(text):
    return [t.lower() for t in re.findall(r"[A-Za-z0-9]+", text or "")]


def _norm_byte(dl):
    if dl < 24:
        return dl
    j = dl - 24
    if j < 8:
        return 24 + j
    shift = j.bit_length() - 4
    enc = ((j >> shift) & 0x07) | ((shift + 1) << 3)
    return 24 + enc


def _decode(b):
    if b < 24:
        return b
    j = b - 24
    bits, shift = j & 0x07, (j >> 3) - 1
    return 24 + (bits if shift == -1 else (bits | 0x08) << shift)


class Oracle:
    def __init__(self, rows):  # rows: [(docid, text)]
        self.docs = {}
        self.post = {}
        for docid, text in rows:
            toks = _tokenize(text)
            self.docs[docid] = _norm_byte(len(toks))
            for p, t in enumerate(toks):
                self.post.setdefault(t, {}).setdefault(docid, []).append(p)
        self.n = len(self.docs)
        self.sum_ttf = sum(
            len(ps) for d in self.post.values() for ps in d.values())
        self.avgdl = np.float32(self.sum_ttf / float(self.n))
        table = np.array([_decode(b) for b in range(256)], dtype=np.float32)
        self.cache = (np.float32(1.0) / (np.float32(K1) * (
            (np.float32(1) - np.float32(B))
            + np.float32(B) * table / self.avgdl))).astype(np.float32)

    def _idf(self, df):
        return np.float32(math.log(1 + (self.n - df + 0.5) / (df + 0.5)))

    def _bm25(self, w, freq, docid):
        """weight - weight / (1 + freq * cache[norm]), float32 ops."""
        inv = self.cache[self.docs[docid]]
        return np.float32(w - w / (np.float32(1) + np.float32(freq) * inv))

    def _pseudo_term(self, terms):
        """Term, or Synonym: freq = summed tf, idf from the max df
        (SynonymQuery.java:203-219)."""
        df = max(len(self.post.get(t, {})) for t in terms)
        if df == 0:
            return {}
        w = self._idf(df)
        freq = {}
        for t in terms:
            for d, ps in self.post.get(t, {}).items():
                freq[d] = freq.get(d, 0) + len(ps)
        return {d: self._bm25(w, f, d) for d, f in freq.items()}

    def _phrase(self, q):
        """Exact phrase: freq = starts p with term i at p + i; sloppy:
        SloppyPhraseMatcher lengths accumulated in float32
        (PhraseScorer.java:76-78). idf = (float) double sum of the
        terms' float idfs."""
        if any(t not in self.post for t in q.terms):
            return {}
        w = np.float32(sum(float(self._idf(len(self.post[t])))
                           for t in q.terms))
        out = {}
        for d in set.intersection(*(set(self.post[t]) for t in q.terms)):
            pls = [self.post[t][d] for t in q.terms]
            if q.slop:
                f = sloppy_freq_f32(sloppy_match_lengths(pls, q.slop))
            else:
                f = sum(1 for p in pls[0]
                        if all(p + i in pls[i] for i in range(1, len(pls))))
            if f:
                out[d] = self._bm25(w, f, d)
        return out

    def _bool(self, q):
        """Each side is a double sum narrowed to float (ConjunctionScorer
        / DisjunctionSumScorer); required + optional then add in float
        (ReqOptSumScorer)."""
        if q.filter or q.minimum_should_match:
            raise TypeError("oracle Bool: must/should/must_not only")
        must = [self.scores(c) for c in q.must]
        should = [self.scores(c) for c in q.should]
        ids = (set.intersection(*map(set, must)) if must
               else set().union(*should))
        for c in q.must_not:
            ids -= set(self.scores(c))
        out = {}
        for d in ids:
            opt = np.float32(sum(float(p[d]) for p in should if d in p))
            if must:
                req = np.float32(sum(float(p[d]) for p in must))
                out[d] = np.float32(req + opt)
            else:
                out[d] = opt
        return out

    def _dismax(self, q):
        """DisjunctionMaxScorer: float max, the other clauses summed in
        double, (float)(max + otherSum * tieBreak) with the tie-break
        stored as a float."""
        subs = [self.scores(c) for c in q.clauses]
        tb = float(np.float32(q.tiebreak))
        out = {}
        for d in set().union(*subs):
            vals = [float(p[d]) for p in subs if d in p]
            mx = max(vals)
            out[d] = np.float32(mx + (sum(vals) - mx) * tb)
        return out

    def scores(self, q):
        """docid -> float32 score of every doc matching ``q``."""
        if isinstance(q, Term):
            return self._pseudo_term([q.term])
        if isinstance(q, Synonym):
            return self._pseudo_term(q.terms)
        if isinstance(q, Phrase):
            return self._phrase(q)
        if isinstance(q, Prefix):
            # constant-score rewrite: every match scores 1.0f
            return {d: np.float32(1.0) for t, post in self.post.items()
                    if t.startswith(q.prefix) for d in post}
        if isinstance(q, Bool):
            return self._bool(q)
        if isinstance(q, DisMax):
            return self._dismax(q)
        raise TypeError(f"oracle does not score {type(q).__name__}")

    def topk(self, q, k=10):
        ranked = sorted(self.scores(q).items(),
                        key=lambda kv: (-kv[1], kv[0]))
        return [(d, np.float32(s)) for d, s in ranked[:k]]


def kernel_topk32(ss, q, k):
    """SegmentSearcher.topk32 WAND-pruned and exhaustive, each as
    [(docid, float32 score)]."""
    return [[(r["doc_id"], np.float32(r["score"]))
             for r in ss.topk32(q, k, prune=prune).collect()]
            for prune in (True, False)]


# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus(xs_transcripts):
    rows = [(r["docid"], r["text"])
            for r in xs_transcripts.select("docid", "text").collect()]
    return rows


@pytest.fixture(scope="module")
def oracle(corpus):
    return Oracle(corpus)


@pytest.fixture(scope="module")
def searcher(xs_segments):
    return SegmentSearcher(xs_segments)


def _pick_terms(oracle):
    by_df = sorted(oracle.post.items(), key=lambda kv: -len(kv[1]))
    common = by_df[0][0]
    mid = by_df[len(by_df) // 3][0]
    rare = by_df[-1][0]
    return common, mid, rare


@pytest.mark.parametrize("k", [1, 10])
def test_term_queries_rank_identical(searcher, oracle, k):
    for t in _pick_terms(oracle):
        want = oracle.topk(Term(t), k)
        assert kernel_topk32(searcher, Term(t), k) == [want, want], t


@pytest.mark.parametrize("k", [1, 10])
def test_bool_and_or_rank_identical(searcher, oracle, k):
    common, mid, rare = _pick_terms(oracle)
    for q in (Bool(must=(Term(common), Term(mid))),
              Bool(should=(Term(mid), Term(rare), Term(common)))):
        want = oracle.topk(q, k)
        assert kernel_topk32(searcher, q, k) == [want, want], q


def test_phrase_rank_identical(searcher, oracle, corpus):
    # find a bigram that actually occurs
    for _, text in corpus:
        toks = _tokenize(text)
        if len(toks) >= 2:
            big = (toks[0], toks[1])
            break
    want = oracle.topk(Phrase(big), 10)
    assert want
    assert kernel_topk32(searcher, Phrase(big), 10) == [want, want]


def test_hot_term_skew_present(oracle):
    """The datagen's hot terms must create real skew (df > 20% of docs)."""
    dfs = sorted((len(d) for d in oracle.post.values()), reverse=True)
    assert dfs[0] > 0.2 * oracle.n
