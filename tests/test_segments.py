"""Segment layout + WAND search: CheckHits-style pruned-vs-exhaustive
equivalence (lucene/test-framework/.../search/CheckHits.java:578-587 —
every query runs pruned AND complete, hits must be identical) and
CheckIndex-style invariants (INDEX/CheckIndex.java:496-508)."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import check_index, open_segments
from lucene_solr_spark.index.writer import IndexWriter
from lucene_solr_spark.search.engine import Searcher
from lucene_solr_spark.search.query import Bool, Boost, Phrase, Synonym, Term
from lucene_solr_spark.search.segment_searcher import SegmentSearcher


@pytest.fixture(scope="module")
def seg_index(spark, xs_transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("segs") / "ix")
    # small segments so the fixture exercises multi-segment merge paths
    return IndexWriter.create(spark, out, docs_per_segment=128) \
        .append_raw(xs_transcripts.drop("docid"), lineage="xs_transcripts")


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


def test_check_index_clean(seg_index):
    assert check_index(seg_index).count() == 0


def test_catalog_metrics(seg_index, xs_index):
    cat = seg_index.catalog.collect()
    assert len(cat) > 1  # multi-segment fixture
    assert sum(r["n_docs"] for r in cat) == xs_index.doc_count
    assert sum(r["n_tokens"] for r in cat) == xs_index.sum_ttf
    assert all(r["packed_bytes"] > 0 for r in cat)
    assert all(r["lineage"] == "xs_transcripts" for r in cat)


def test_open_segments_roundtrip(spark, seg_index):
    six = open_segments(spark, seg_index.path)
    assert six.doc_count == seg_index.doc_count
    assert six.sum_ttf == seg_index.sum_ttf


@pytest.mark.parametrize("qi", range(len(QUERIES)))
@pytest.mark.parametrize("k", [1, 10])
def test_pruned_equals_exhaustive_equals_naive(spark, xs_index, seg_index,
                                               qi, k):
    """The central invariant (SURVEY.md §5): WAND-pruned top-k ==
    exhaustive segment top-k == naive DataFrame top-k, scores and all."""
    q = QUERIES[qi]
    naive = Searcher(xs_index).topk(q, k).collect()
    ss = SegmentSearcher(seg_index)
    pruned = ss.topk(q, k).collect()
    exhaustive = ss.topk(q, k, prune=False).collect()
    as_tuples = lambda rows: [(r.doc_id, r.score) for r in rows]  # noqa: E731
    assert as_tuples(pruned) == as_tuples(exhaustive)
    assert as_tuples(pruned) == as_tuples(naive)


@pytest.mark.parametrize("qi", [0, 3, 4, 6, 9])
@pytest.mark.parametrize("k", [1, 10])
def test_float32_wand_matches_naive_float32(xs_index, seg_index, qi, k):
    """Lucene-parity mode through the WAND path: float32 scores must be
    bit-identical to the naive scored32 pipeline (which is itself
    pinned to BM25Similarity's float math by tests/test_lucene_parity),
    pruned and exhaustive alike."""
    q = QUERIES[qi]
    naive = [(r.doc_id, r.score)
             for r in Searcher(xs_index).topk32(q, k).collect()]
    ss = SegmentSearcher(seg_index)
    pruned = [(r.doc_id, r.score) for r in ss.topk32(q, k).collect()]
    exhaustive = [(r.doc_id, r.score)
                  for r in ss.topk32(q, k, prune=False).collect()]
    assert pruned == exhaustive == naive


def test_count_parity(xs_index, seg_index):
    q = Bool(should=(Term("retry"), Term("error")))
    a = Searcher(xs_index).count(q).first()["n_hits"]
    b = SegmentSearcher(seg_index).count(q).first()["n_hits"]
    assert a == b > 0


def test_hot_term_rows_bounded_by_segment_size(seg_index):
    """Skew: the hottest term (df ~30% of docs — 'ok' is injected hot
    by the generator) must never concentrate into a posting row larger
    than one segment's share. Doc-range segmentation IS the salting
    (SURVEY.md §4.2): at 10^12 docs a stopword splits across ~docid/dps
    bounded rows, each independently scoreable."""
    rows = (seg_index.packed.filter(F.col("term") == "ok")
            .select("seg_id", "df").collect())
    assert len(rows) > 1  # hot term spread across segments
    assert all(r["df"] <= seg_index.docs_per_segment for r in rows)


def test_term_pruning_reads_only_query_terms(seg_index):
    """The packed scan must push the term filter down to Parquet."""
    plan = (seg_index.packed.filter(F.col("term") == "ok")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in plan
    assert "term" in plan.split("PushedFilters")[1][:120]


def test_topk_by_docid_early_termination(seg_index, xs_index):
    """Early-terminated index-order collector == full scan's first-k
    matches by docid, for hot, mid, and absent terms and k spanning
    less / more than one segment (docs_per_segment=128)."""
    ss = SegmentSearcher(seg_index)
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
