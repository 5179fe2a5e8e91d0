"""Segment layout + WAND search: CheckHits-style pruned-vs-exhaustive
equivalence (lucene/test-framework/.../search/CheckHits.java:578-587 —
every query runs pruned AND complete, hits must be identical) and
CheckIndex-style invariants (INDEX/CheckIndex.java:496-508)."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import check_index, open_segments
from lucene_solr_spark.index.writer import IndexWriter
from lucene_solr_spark.search import engine
from lucene_solr_spark.search.engine import Searcher
from lucene_solr_spark.search.query import (
    Bool, Boost, Fuzzy, Phrase, Prefix, Regexp, ReversedWildcard, Synonym,
    Term, TermInSet, TermRange, Wildcard,
)
from lucene_solr_spark.search.segment_searcher import SegmentSearcher
from test_lucene_parity import Oracle, kernel_topk32


@pytest.fixture(scope="module")
def xs_oracle(xs_transcripts):
    return Oracle([(r.docid, r.text) for r in
                   xs_transcripts.select("docid", "text").collect()])


QUERIES = [
    Term("ok"),                                     # hot term
    Term("w1"),                                     # mid
    Term("zzzzabsent"),                             # zero hits
    Bool(must=(Term("ok"), Term("retry"))),
    Bool(should=(Term("retry"), Term("error"), Term("w2"))),
    Bool(should=(Term("retry"), Term("error"), Term("w2"), Term("w3")),
         minimum_should_match=2),
    Bool(must=(Term("ok"),), should=(Term("retry"),),
         must_not=(Term("error"),)),
    Bool(must=(Term("ok"),), filter=(Term("retry"),)),
    Phrase(("ok", "the")),
    Synonym(("retry", "error")),
    Bool(should=(Boost(Term("retry"), 2.0), Term("ok"))),
]


def test_check_index_clean(xs_segments):
    assert check_index(xs_segments).count() == 0


def test_catalog_metrics(xs_segments, xs_index):
    cat = xs_segments.catalog.collect()
    assert len(cat) > 1  # multi-segment fixture
    assert sum(r["n_docs"] for r in cat) == xs_index.doc_count
    assert sum(r["n_tokens"] for r in cat) == xs_index.sum_ttf
    assert all(r["packed_bytes"] > 0 for r in cat)
    assert all(r["lineage"] == "xs_transcripts" for r in cat)


def test_open_segments_roundtrip(spark, xs_segments):
    six = open_segments(spark, xs_segments.path)
    assert six.doc_count == xs_segments.doc_count
    assert six.sum_ttf == xs_segments.sum_ttf


@pytest.mark.parametrize("qi", range(len(QUERIES)))
@pytest.mark.parametrize("k", [1, 10])
def test_pruned_equals_exhaustive_equals_naive(spark, xs_index, xs_segments,
                                               qi, k):
    """The central invariant (SURVEY.md §5): WAND-pruned top-k ==
    exhaustive segment top-k == naive DataFrame top-k, scores and all."""
    q = QUERIES[qi]
    naive = Searcher(xs_index).topk(q, k).collect()
    ss = SegmentSearcher(xs_segments)
    pruned = ss.topk(q, k).collect()
    exhaustive = ss.topk(q, k, prune=False).collect()
    as_tuples = lambda rows: [(r.doc_id, r.score) for r in rows]  # noqa: E731
    assert as_tuples(pruned) == as_tuples(exhaustive)
    assert as_tuples(pruned) == as_tuples(naive)


@pytest.mark.parametrize("qi", [0, 3, 4, 6, 9])
@pytest.mark.parametrize("k", [1, 10])
def test_float32_wand_matches_naive_float32(xs_segments, xs_oracle, qi, k):
    """Lucene-parity mode through the WAND path: float32 scores must be
    bit-identical to the brute-force numpy float32 oracle of
    tests/test_lucene_parity (BM25Similarity's float math; synonym,
    conjunction, disjunction and ReqOptSumScorer combinations), pruned
    and exhaustive alike."""
    q = QUERIES[qi]
    want = xs_oracle.topk(q, k)
    assert kernel_topk32(SegmentSearcher(xs_segments), q, k) == [want, want]


def test_count_parity(xs_index, xs_segments):
    q = Bool(should=(Term("retry"), Term("error")))
    a = Searcher(xs_index).count(q).first()["n_hits"]
    b = SegmentSearcher(xs_segments).count(q).first()["n_hits"]
    assert a == b > 0


def test_hot_term_rows_bounded_by_segment_size(xs_segments):
    """Skew: the hottest term (df ~30% of docs — 'ok' is injected hot
    by the generator) must never concentrate into a posting row larger
    than one segment's share. Doc-range segmentation IS the salting
    (SURVEY.md §4.2): at 10^12 docs a stopword splits across ~docid/dps
    bounded rows, each independently scoreable."""
    rows = (xs_segments.packed.filter(F.col("term") == "ok")
            .select("seg_id", "df").collect())
    assert len(rows) > 1  # hot term spread across segments
    assert all(r["df"] <= xs_segments.docs_per_segment for r in rows)


def test_term_pruning_reads_only_query_terms(xs_segments):
    """The packed scan must push the term filter down to Parquet."""
    plan = (xs_segments.packed.filter(F.col("term") == "ok")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in plan
    assert "term" in plan.split("PushedFilters")[1][:120]


def test_topk_by_docid_early_termination(xs_segments, xs_index):
    """Early-terminated index-order collector == full scan's first-k
    matches by docid, for hot, mid, and absent terms and k spanning
    less / more than one segment (docs_per_segment=128)."""
    ss = SegmentSearcher(xs_segments)
    se = Searcher(xs_index)
    for term in ("ok", "w1", "zzzzabsent"):
        full = sorted(r.docid for r in se.matching(Term(term)).collect())
        for k in (5, 200):
            got = [r.doc_id for r in
                   ss.topk_by_docid(Term(term), k).collect()]
            assert got == full[:k], (term, k)


def test_topk_by_docid_respects_deletes(spark, tmp_path):
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    w = IndexWriter.create(spark, str(tmp_path / "ix"),
                           docs_per_segment=64)
    w.append_raw(gen_transcripts(spark, 20))
    first = [r.doc_id for r in
             SegmentSearcher(w.reader())
             .topk_by_docid(Term("the"), 5).collect()]
    w.delete_docids(first[:2])
    after = [r.doc_id for r in
             SegmentSearcher(w.reader())
             .topk_by_docid(Term("the"), 5).collect()]
    assert after[0] not in first[:2]
    assert after[:3] == first[2:5]


# one multi-term query per type that expands past maxClauseCount (1024)
# on the xs dictionary (1,110 ``w1*`` terms)
BIG_MULTI_TERM = [
    Prefix("w1"),
    Wildcard("w1*"),
    ReversedWildcard("w1*"),
    Regexp("w1[0-9]*"),
    TermRange("w1", "w2", include_upper=False),
    TermInSet(tuple(f"w1{s}" for s in ["", *(f"{n:0{w}d}"
                                           for w in (1, 2, 3)
                                           for n in range(10 ** w))])),
]


@pytest.mark.parametrize("big", BIG_MULTI_TERM,
                         ids=lambda q: type(q).__name__)
def test_kernel_predicate_fallback_past_max_clause(xs_index, xs_segments,
                                                   big):
    """A multi-term query expanding past maxClauseCount must NOT raise
    on the segment path: the constant-score rewrite ships the predicate
    itself (scoring, FILTER and MUST_NOT positions), matching the
    non-enumerating MultiTermQueryConstantScoreWrapper."""
    se = Searcher(xs_index)
    ss = SegmentSearcher(xs_segments)
    n_terms = xs_index.term_stats.filter(engine.term_predicate(big)).count()
    assert n_terms > 1024
    for q in (big,
              Bool(must=(Term("ok"),), filter=(big,)),
              Bool(must=(Term("ok"),), must_not=(big,))):
        eng = [(r.doc_id, r.score) for r in se.topk(q, 10).collect()]
        ker = [(r.doc_id, r.score) for r in ss.topk(q, 10).collect()]
        assert eng == ker, (q, eng[:3], ker[:3])


def test_fuzzy_past_max_clause_matches_naive(xs_index, xs_segments,
                                             monkeypatch):
    """A Fuzzy past maxClauseCount takes the same predicate fallback as
    the other multi-term types, in scoring, FILTER and MUST_NOT
    positions, and answers as the naive engine does."""
    monkeypatch.setattr(engine, "MAX_CLAUSE_COUNT", 3)
    fz = Fuzzy("w123", 1)
    assert xs_index.term_stats.filter(engine.term_predicate(fz)).count() > 3
    se = Searcher(xs_index)
    ss = SegmentSearcher(xs_segments)
    for q in (fz,
              Bool(must=(Term("ok"),), filter=(fz,)),
              Bool(must=(Term("ok"),), must_not=(fz,))):
        eng = [(r.doc_id, r.score) for r in se.topk(q, 10).collect()]
        ker = [(r.doc_id, r.score) for r in ss.topk(q, 10).collect()]
        assert eng and eng == ker, (q, eng[:3], ker[:3])


def test_topk_job_budget(spark, tmp_path, monkeypatch):
    """A fresh reader's top-k runs at most 3 Spark jobs (the term-stats
    lookup, the scan + kernel stage, the final take) and a second top-k
    on the same searcher at most 2: the store reads infer no schema,
    norms come through the posting scan and live docs join nothing.
    The commit's live-docs frame is built by its first query and
    shared by every later reader, so that query runs first."""
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    from test_index_commit import _spark_jobs
    w = IndexWriter.create(spark, str(tmp_path / "ix"), docs_per_segment=128)
    w.append_raw(gen_transcripts(spark, 20))
    w.delete_docids([3, 70, 140])
    SegmentSearcher(w.reader()).topk(Term("ok"), 10).collect()
    monkeypatch.setattr(engine, "MAX_CLAUSE_COUNT", 3)
    assert w.reader().term_stats.filter(
        engine.term_predicate(Prefix("w1"))).count() > 3
    for i, q in enumerate((
            Term("error"),
            Bool(must=(Term("ok"),), filter=(Term("the"),),
                 must_not=(Term("retry"),)),
            Prefix("w1"))):
        ss = SegmentSearcher(open_segments(spark, w.path))
        with _spark_jobs(spark, f"budget-fresh-{i}") as fresh:
            first = ss.topk(q, 10).collect()
        with _spark_jobs(spark, f"budget-warm-{i}") as warm:
            again = ss.topk(q, 10).collect()
        assert first and first == again, q
        assert len(fresh) <= 3, (q, fresh)
        assert len(warm) <= 2, (q, warm)
