"""IndexWriter appends, tiered merge, vacuum, and streaming NRT builds.

Models the reference's incremental contract: segments published per
flush (INDEX/IndexWriter.java:1212), TieredMergePolicy compaction
(INDEX/TieredMergePolicy.java:312-401), and NRT reopen semantics
(INDEX/DirectoryReader.java:164-236) — queries over the incremental
store must equal queries over a one-shot build of the same corpus."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.docids import assign_docids
from lucene_solr_spark.index.segments import check_index
from lucene_solr_spark.index.writer import IndexWriter, pick_merge
from lucene_solr_spark.search.query import Bool, Phrase, Term
from lucene_solr_spark.search.segment_searcher import SegmentSearcher

QUERIES = [
    Term("ok"),
    Bool(must=(Term("ok"), Term("retry"))),
    Bool(should=(Term("retry"), Term("error"), Term("w2"))),
    Phrase(("ok", "the")),
]


def _topk(six, q, k=10):
    return [(r.doc_id, r.score)
            for r in SegmentSearcher(six).topk(q, k).collect()]


@pytest.fixture(scope="module")
def stores(spark, xs_transcripts, tmp_path_factory):
    root = tmp_path_factory.mktemp("wm")
    oneshot = IndexWriter.create(
        spark, str(root / "oneshot"), docs_per_segment=128) \
        .append_raw(xs_transcripts.drop("docid"), lineage="oneshot")
    w = IndexWriter.create(spark, str(root / "incr"), docs_per_segment=128)
    bounds = [(0, 15), (15, 35), (35, 50)]
    for lo, hi in bounds:
        b = xs_transcripts.filter(
            (F.col("conv_id") >= f"conv{lo:08d}")
            & (F.col("conv_id") < f"conv{hi:08d}")).drop("docid")
        w.append_raw(b, lineage=f"batch {lo}-{hi}")
    return oneshot, w


def test_incremental_equals_oneshot(stores):
    oneshot, w = stores
    six = w.reader()
    assert six.doc_count == oneshot.doc_count
    assert six.sum_ttf == oneshot.sum_ttf
    assert check_index(six).count() == 0
    for q in QUERIES:
        assert _topk(six, q) == _topk(oneshot, q)


def test_lineage_recorded(stores):
    _, w = stores
    lineages = {r["lineage"] for r in w.reader().catalog.collect()}
    assert any(ln.startswith("batch ") for ln in lineages)


def test_merge_preserves_results_and_invariants(stores):
    oneshot, w = stores
    before = {q: _topk(w.reader(), q) for q in QUERIES}
    n = w.maybe_merge(segs_per_tier=2, max_merge_at_once=4,
                      floor_bytes=1 << 30)
    assert n > 0
    six = w.reader()
    assert len(six.live_segs) < len(oneshot.live_segs) + 10
    assert check_index(six).count() == 0
    for q in QUERIES:
        assert _topk(six, q) == before[q] == _topk(oneshot, q)
    merged_lineage = [r["lineage"] for r in six.catalog.collect()
                      if r["lineage"].startswith("merge(")]
    assert merged_lineage


def test_vacuum_drops_dead_segments(stores):
    oneshot, w = stores
    removed = w.vacuum()
    assert removed  # merge inputs were left on disk
    six = w.reader()
    assert check_index(six).count() == 0
    for q in QUERIES:
        assert _topk(six, q) == _topk(oneshot, q)


def test_pick_merge_prefers_balanced_adjacent_runs():
    cat = [
        {"seg_id": i, "docid_min": i * 100, "packed_bytes": 1000}
        for i in range(12)
    ]
    pick = pick_merge(cat, segs_per_tier=10, max_merge_at_once=4)
    assert pick is not None and len(pick) == 4
    # returned segments must be docid-adjacent
    mins = sorted(c["docid_min"] for c in cat if c["seg_id"] in pick)
    assert mins == list(range(mins[0], mins[0] + 400, 100))


def test_pick_merge_respects_budget():
    cat = [{"seg_id": i, "docid_min": i * 100, "packed_bytes": 1000}
           for i in range(5)]
    assert pick_merge(cat, segs_per_tier=10) is None


def test_streaming_index_equals_batch(spark, xs_transcripts, tmp_path):
    """availableNow file-stream -> foreachBatch append == one-shot."""
    from lucene_solr_spark.streaming.incremental import StreamingIndexer

    src = str(tmp_path / "src")
    (xs_transcripts.drop("docid")
     .repartition(3).write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sink = StreamingIndexer(spark, str(tmp_path / "ix"),
                            docs_per_segment=128)
    q = sink.start(stream, str(tmp_path / "cp"))
    q.awaitTermination(120)

    six = sink.writer.reader()
    st = sink.writer.commit_state()
    assert st["last_stream_batch"] >= 1  # multiple micro-batches ran
    assert six.doc_count == xs_transcripts.count()
    assert check_index(six).count() == 0
    # NOTE: docids depend on arrival order across micro-batches (like
    # Lucene insertion order), so compare match SETS + score multiset,
    # not docids
    ss = SegmentSearcher(six)
    got = ss.count(Term("ok")).first()["n_hits"]
    ref_ix = build_index(
        assign_docids(xs_transcripts.drop("docid"),
                      ["conv_id", "turn_idx"]),
        docid_col="docid", cache=False)
    from lucene_solr_spark.search.engine import Searcher
    want = Searcher(ref_ix).count(Term("ok")).first()["n_hits"]
    assert got == want > 0


def test_streaming_replay_is_exactly_once(spark, xs_transcripts, tmp_path):
    from lucene_solr_spark.streaming.incremental import StreamingIndexer

    src = str(tmp_path / "src")
    xs_transcripts.drop("docid").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    sink = StreamingIndexer(spark, str(tmp_path / "ix"),
                            docs_per_segment=128)
    stream = spark.readStream.schema(schema).parquet(src)
    sink.start(stream, str(tmp_path / "cp")).awaitTermination(120)
    n1 = sink.writer.reader().doc_count
    # simulate a replay of the same batch id
    batch_df = spark.read.parquet(src)
    sink.process_batch(batch_df, 0)
    assert sink.writer.reader().doc_count == n1


def _assert_one_complete_swap_per_commit(swaps, gen0, keys):
    """Consecutive generations, one swap each, every record complete
    and equal to the state read back after its swap."""
    assert [rec["generation"] for rec, _ in swaps] == \
        list(range(gen0 + 1, gen0 + 1 + len(swaps)))
    for rec, after in swaps:
        assert all(k in rec for k in keys), rec
        assert rec == after


def test_every_commit_is_one_complete_swap(spark, xs_transcripts,
                                           tmp_path, commit_swaps):
    """On a store with deletes, an append, an update-by-term and a bulk
    merge each publish ONE commit.json carrying the delete set."""
    w = IndexWriter.create(spark, str(tmp_path / "ix"),
                           docs_per_segment=128)
    docs = xs_transcripts.drop("docid")
    early = F.col("conv_id") < "conv00000025"
    w.append_raw(docs.filter(early))
    w.delete_docids([3, 5, 8])
    repl = spark.createDataFrame(
        [("cZ", 0, "user", "replacement text", "", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    for op in (lambda: w.append_raw(docs.filter(~early)),
               lambda: w.update_by_term("error", repl),
               lambda: w.merge_segments(sorted(w.reader().live_segs)[:2])):
        gen0 = w.commit_state()["generation"]
        commit_swaps.clear()
        op()
        assert len(commit_swaps) == 1
        _assert_one_complete_swap_per_commit(commit_swaps, gen0,
                                             ("del_gens",))
        assert commit_swaps[0][0]["del_gens"]


def test_stream_batch_commits_carry_the_stamp(spark, xs_transcripts,
                                              tmp_path, commit_swaps):
    """A stream batch that also merges publishes the append and every
    merge as one complete swap each, all stamped with the batch id."""
    from lucene_solr_spark.streaming.incremental import StreamingIndexer
    docs = xs_transcripts.drop("docid")
    early = F.col("conv_id") < "conv00000025"
    sink = StreamingIndexer(spark, str(tmp_path / "ix"),
                            docs_per_segment=128, merge_every=1,
                            merge_kwargs=dict(segs_per_tier=2,
                                              floor_bytes=1 << 30))
    sink.process_batch(docs.filter(early), 0)
    sink.writer.delete_docids([1, 2])
    gen0 = sink.writer.commit_state()["generation"]
    commit_swaps.clear()
    sink.process_batch(docs.filter(~early), 1)
    assert len(commit_swaps) >= 2  # the append and at least one merge
    _assert_one_complete_swap_per_commit(
        commit_swaps, gen0, ("del_gens", "last_stream_batch"))
    assert all(rec["last_stream_batch"] == 1 for rec, _ in commit_swaps)
