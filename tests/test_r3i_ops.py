"""Round-3i ops: SCORING_BOOLEAN rewrite, explicit-position phrase,
significantTerms stream, positional shapes vs the oracle."""

import math

import pytest

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# scoring_bool_rewrite (MultiTermQuery.SCORING_BOOLEAN_REWRITE)
# ---------------------------------------------------------------------------

def test_scoring_rewrite_expands_to_should(spark):
    import __spark_entry__ as entry
    from lucene_solr_spark.search.query import Bool, Prefix, Term
    se = entry._searcher(spark, SF)
    q = se.scoring_bool_rewrite(Prefix("s"))
    assert isinstance(q, Bool) and q.must == () and q.must_not == ()
    terms = sorted(t.term for t in q.should)
    assert terms == ["scan", "slow", "small", "sort", "spark", "stream"]
    assert all(isinstance(t, Term) for t in q.should)


def test_scoring_rewrite_differs_from_constant_score(spark):
    """The scoring rewrite ranks by summed BM25, not uniformly —
    scores must vary across the top-10 (constant-score gives one
    value)."""
    import __spark_entry__ as entry
    rows = entry._q_prefix_scoring(spark, SF).collect()
    assert len(rows) == 10
    assert len({r["score"] for r in rows}) > 1


def test_scoring_rewrite_too_many_clauses(spark):
    import __spark_entry__ as entry
    from lucene_solr_spark.search.engine import (MAX_CLAUSE_COUNT,
                                                 TooManyClauses)
    from lucene_solr_spark.search.query import Prefix, Wildcard
    se = entry._searcher(spark, SF)
    # the 31-term dictionary never overflows; fake the cap instead
    import lucene_solr_spark.search.engine as eng
    old = eng.MAX_CLAUSE_COUNT
    eng.MAX_CLAUSE_COUNT = 2
    try:
        with pytest.raises(TooManyClauses):
            se.scoring_bool_rewrite(Wildcard("*"))
    finally:
        eng.MAX_CLAUSE_COUNT = old
    with pytest.raises(TypeError):
        se.scoring_bool_rewrite("not a query")


# ---------------------------------------------------------------------------
# PhrasePositions (PhraseQuery.Builder.add(Term, position))
# ---------------------------------------------------------------------------

def test_phrase_positions_validation():
    from lucene_solr_spark.search.query import PhrasePositions
    with pytest.raises(ValueError):
        PhrasePositions(("a", "b"), (0,))
    with pytest.raises(ValueError):
        PhrasePositions(("a", "b"), (2, 2))
    with pytest.raises(ValueError):
        PhrasePositions(("a", "b"), (3, 1))
    PhrasePositions(("a", "b"), (5, 7))  # offsets need not start at 0


def test_phrase_positions_python_twin(spark):
    """Matching docs + freqs equal a per-doc position scan; the
    consecutive special case equals Phrase."""
    import re
    import __spark_entry__ as entry
    from lucene_solr_spark.search.query import Phrase, PhrasePositions
    se = entry._searcher(spark, SF)
    docs = {r["doc_id"]: [w.lower() for w in
                          re.findall(r"[A-Za-z0-9]+", r["text"])]
            for r in spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").collect()}

    def freq(toks, a, b, gap):
        return sum(1 for i, w in enumerate(toks)
                   if w == a and i + gap < len(toks)
                   and toks[i + gap] == b)

    got = {r["docid"]: True for r in se.scored(
        PhrasePositions(("hash", "join"), (0, 2))).collect()}
    want = {d for d, toks in docs.items() if freq(toks, "hash", "join", 2)}
    assert set(got) == want and want

    # gap=1 (positions 0,1) must equal the exact Phrase plan
    a = se.topk(PhrasePositions(("table", "hash"), (0, 1)), 10).collect()
    b = se.topk(Phrase(("table", "hash")), 10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    # base offset is relative: positions (4, 6) == (0, 2)
    c = se.topk(PhrasePositions(("hash", "join"), (4, 6)), 10).collect()
    d = se.topk(PhrasePositions(("hash", "join"), (0, 2)), 10).collect()
    assert [tuple(r) for r in c] == [tuple(r) for r in d]


def test_phrase_positions_three_terms_with_gaps(spark):
    """'hash ? ? join' style triple with two different gaps matches
    exactly the hand-scanned doc set."""
    import re
    import __spark_entry__ as entry
    from lucene_solr_spark.search.query import PhrasePositions
    se = entry._searcher(spark, SF)
    docs = {r["doc_id"]: [w.lower() for w in
                          re.findall(r"[A-Za-z0-9]+", r["text"])]
            for r in spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").collect()}
    q = PhrasePositions(("the", "join", "table"), (0, 2, 5))
    got = {r["docid"] for r in se.scored(q).collect()}
    want = set()
    for d, toks in docs.items():
        for i, w in enumerate(toks):
            if (w == "the" and i + 5 < len(toks)
                    and toks[i + 2] == "join" and toks[i + 5] == "table"):
                want.add(d)
                break
    assert got == want


# ---------------------------------------------------------------------------
# significantTerms stream
# ---------------------------------------------------------------------------

def test_sigterms_python_twin(spark):
    """fg/df/score equal a from-scratch computation with the
    reference's float32 cast chain
    (SignificantTermsQParserPlugin.java:206)."""
    import re
    import numpy as np
    import __spark_entry__ as entry
    rows = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").collect())
    toks = {r["doc_id"]: {w.lower() for w in
                          re.findall(r"[A-Za-z0-9]+", r["text"])}
            for r in rows}
    n = len(toks)
    fg_docs = {d for d, ts in toks.items() if "dup" in ts}
    fg, df = {}, {}
    for d, ts in toks.items():
        for t in ts:
            df[t] = df.get(t, 0) + 1
            if d in fg_docs:
                fg[t] = fg.get(t, 0) + 1

    def score(tf, dfreq):
        a = np.float32(math.log(tf))
        ratio = np.float32(np.float32(n + 1) / np.float32(dfreq + 1))
        b = np.float32(math.log(float(ratio)) + 1.0)
        return float(np.float32(a * b))

    want = sorted(
        ((t, fg[t], df[t], round(score(fg[t], df[t]), 6))
         for t in fg
         if df[t] >= 10 and df[t] / n <= 0.95 and len(t) >= 4),
        key=lambda x: (-x[3], x[0]))[:10]

    got = [(r["term"], r["fg"], r["df"], r["score"])
           for r in entry._q_stream_sigterms(spark, SF).collect()]
    assert got == want and got


# ---------------------------------------------------------------------------
# positional shapes vs the DuckDB oracle: the naive engine's intervals,
# SpanNear start sets (SpanNear matching and SpanNot), exact phrases
# (routed to PhrasePositions at offsets 0..n-1) and explicit-position
# phrases share one positions join (Searcher._positions)
# ---------------------------------------------------------------------------

SHAPES = [
    "q_interval_ordered", "q_interval_contains", "q_interval_unordered",
    "q_interval_not_containing", "q_interval_contained_by",
    "q_span_near", "q_span_not", "q_phrase2", "q_phrase_gap",
]


@pytest.fixture(scope="module")
def registry():
    import duckdb

    import __spark_entry__ as entry
    con = duckdb.connect()
    con.execute(f"create view documents as select * from "
                f"'{SF}/documents.parquet'")
    return entry, con


@pytest.mark.parametrize("name", SHAPES)
def test_positional_shape_matches_oracle(spark, registry, name):
    entry, con = registry
    _assert_same(entry.queries()[name](spark, SF),
                 con.execute(entry.oracle_sql()[name]))


@pytest.mark.parametrize("terms", [("big", "order", "scan"),
                                   ("spark", "window", "window")])
def test_exact_phrase_matches_oracle(spark, registry, terms):
    """Three-term exact phrases, one with a repeated term."""
    from lucene_solr_spark.search.oracle import OracleBuilder
    from lucene_solr_spark.search.query import Phrase
    entry, con = registry
    q = Phrase(terms)
    _assert_same(entry._searcher(spark, SF).topk(q, 10),
                 con.execute(OracleBuilder().topk_sql(q, 10)))


def _assert_same(frame, cursor):
    got = [(int(d), round(float(s), 6)) for d, s in frame.collect()]
    want = [(int(d), round(float(s), 6)) for d, s in cursor.fetchall()]
    assert got == want
    assert got, "shape has no hits at this scale"
