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
    """A fresh reader's top-k runs at most 2 Spark jobs (the term-stats
    lookup, then one Arrow collect of the pushed scan that the kernel
    and the TopDocs merge run over on the driver) and a second top-k on
    the same searcher 1: the store reads infer no schema, norms come
    through the posting scan and live docs join nothing. The commit's
    live-docs frame is built by its first query and shared by every
    later reader, so that query runs first."""
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
        assert len(fresh) <= 2, (q, fresh)
        assert len(warm) <= 1, (q, warm)


def test_live_docs_frame_follows_its_segments(spark, tmp_path):
    """The shared live-docs frame is keyed on the delete generations and
    the segments that can hold a deleted docid: an append, or a merge of
    segments appended after the delete, reuses it (the first top-k after
    the append stays within the fresh-reader budget), and a merge of a
    segment holding deletes builds a new one. Results equal a reader's
    whose frame was built from scratch."""
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    from lucene_solr_spark.search import segment_searcher as ssm
    from test_index_commit import _spark_jobs
    w = IndexWriter.create(spark, str(tmp_path / "ix"), docs_per_segment=128)
    w.append_raw(gen_transcripts(spark, 20))
    w.delete_docids([3, 70, 140, 200])
    q = Bool(should=(Term("ok"), Term("error"), Term("the")))
    SegmentSearcher(w.reader()).topk(q, 10).collect()
    built = ssm._LIVE_DOCS[w.path][1]
    old = [r["seg_id"] for r in w.reader().segments]
    six = w.append_raw(gen_transcripts(spark, 20, seed=7))
    with _spark_jobs(spark, "live-docs-after-append") as jobs:
        SegmentSearcher(six).topk(q, 10).collect()
    assert len(jobs) <= 2, jobs
    assert ssm._LIVE_DOCS[w.path][1] is built

    def fresh_rows(clear: bool) -> list:
        if clear:
            ssm._LIVE_DOCS.clear()
        ss = SegmentSearcher(w.reader())
        return ([tuple(r) for r in ss.topk(q, 50).collect()],
                [r.doc_id for r in ss.topk_by_docid(q, 600).collect()])

    new = sorted((r["docid_min"], r["seg_id"]) for r in six.segments
                 if r["seg_id"] not in old)
    assert len(new) >= 2
    deleted = {3, 70, 140, 200}
    w.merge_segments([s for _, s in new[:2]])
    got = fresh_rows(False)
    assert ssm._LIVE_DOCS[w.path][1] is built
    assert got == fresh_rows(True)
    assert got[0] and not deleted & ({d for d, _ in got[0]} | set(got[1]))
    held = ssm._LIVE_DOCS[w.path][1]
    w.merge_segments(old[:2])
    got = fresh_rows(False)
    assert ssm._LIVE_DOCS[w.path][1] is not held
    assert got == fresh_rows(True)
    assert got[0] and not deleted & ({d for d, _ in got[0]} | set(got[1]))


def test_scan_estimate_tracks_collected_bytes(xs_segments, monkeypatch):
    """LOCAL_SCAN_BYTES was measured against the bytes the scan's
    toArrow() returns, so the estimate that is compared with it stays
    near them: within 0.9x to 1.6x for enumerated terms and a predicate
    that matches every term, and above them for one that matches some
    (it counts every posting row of the commit)."""
    monkeypatch.setattr(engine, "MAX_CLAUSE_COUNT", 3)
    ss = SegmentSearcher(xs_segments)

    def ratio(q):
        spec = ss.compile(q, 10)
        return (ss._scan_estimate(spec)
                / ss._segment_frame(spec).toArrow().nbytes)
    for q in (Term("ok"), Term("zzzzabsent"), Prefix("w"),
              Bool(should=(Term("ok"), Term("the"), Term("error")))):
        assert 0.9 <= ratio(q) <= 1.6, q
    assert ratio(Prefix("w1")) > 1


def _path_pair(run):
    """``run()`` on the local path and on the executor path, each forced
    through ``LOCAL_SCAN_BYTES``, which is restored."""
    from lucene_solr_spark.search import segment_searcher as ssm
    saved = ssm.LOCAL_SCAN_BYTES
    try:
        ssm.LOCAL_SCAN_BYTES = float("inf")
        local = run()
        ssm.LOCAL_SCAN_BYTES = -1
        executor = run()
    finally:
        ssm.LOCAL_SCAN_BYTES = saved
    return local, executor


def test_local_and_executor_paths_agree(spark, xs_segments, tmp_path,
                                        monkeypatch):
    """The driver-side local step and the groupBy(seg_id) executor stage
    give identical rows for topk, topk32 and topk_by_docid: with
    deletes, a multi-term predicate past MAX_CLAUSE_COUNT (scoring,
    FILTER, MUST_NOT), a zero-df term, k past the hit count and a score
    tie at the k boundary. The xs store is copied, so deleting from it
    builds no index."""
    import shutil

    from lucene_solr_spark.search import segment_searcher as ssm
    path = str(tmp_path / "ix")
    shutil.copytree(xs_segments.path, path)
    deleted = {0, 5, 127, 128, 300, 511, 700}
    six = IndexWriter.open(spark, path).delete_docids(sorted(deleted))
    monkeypatch.setattr(engine, "MAX_CLAUSE_COUNT", 3)
    big = Prefix("w1")
    assert six.term_stats.filter(engine.term_predicate(big)).count() > 3
    cases = [
        (Term("ok"), 10),
        (Bool(must=(Term("ok"),), should=(Term("retry"),),
              must_not=(Term("error"),)), 10),
        (big, 10),
        (Bool(must=(Term("ok"),), filter=(big,)), 10),
        (Bool(must=(Term("ok"),), must_not=(big,)), 10),
        (Term("zzzzabsent"), 10),
        (Bool(should=(Term("retry"), Term("zzzzabsent"))), 10),
        (Term("retry"), 5000),
    ]
    on_driver = ssm._on_driver
    calls: list = []

    def counted(*a, **kw):
        calls.append(1)
        return on_driver(*a, **kw)
    monkeypatch.setattr(ssm, "_on_driver", counted)
    for q, k in cases:
        def run(q=q, k=k):
            calls.clear()
            ss = SegmentSearcher(open_segments(spark, path))
            rows = ([tuple(r) for r in ss.topk(q, k).collect()],
                    [tuple(r) for r in ss.topk32(q, k).collect()],
                    [r.doc_id for r in ss.topk_by_docid(q, k).collect()])
            return rows, len(calls)
        (local, n_local), (executor, n_executor) = _path_pair(run)
        assert local == executor, (q, k)
        # every query with a clause took the local step when forced to
        # and the executor stage when the cut-off is -1
        assert n_executor == 0 and n_local in (0, 3), (q, n_local)
        assert n_local or q == Term("zzzzabsent"), q
        assert not deleted & {d for d, _ in local[0]}, q
    ss = SegmentSearcher(six)
    tied = [r.score for r in ss.topk(big, 11).collect()]
    assert len(tied) == 11 and tied[9] == tied[10]
    assert 0 < len(ss.topk(Term("retry"), 5000).collect()) < 5000
    assert ss.topk(Term("zzzzabsent"), 10).collect() == []
