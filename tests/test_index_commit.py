"""The commit record is the segment catalog (INDEX/SegmentInfos.java).

``commit.json`` holds one record per live segment; ``doc_count``,
``sum_ttf`` and the next seg id and docid are derived from the records.
These tests pin the records to the rows they describe through every
kind of mutation, the docid high-water mark an expunging merge must
keep, the topic checkpoint built on it, and the catalog reads that no
longer run Spark jobs."""

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import check_index, open_segments
from lucene_solr_spark.index.splitter import live_docids
from lucene_solr_spark.index.writer import IndexWriter
from lucene_solr_spark.search.query import Term
from lucene_solr_spark.search.segment_searcher import SegmentSearcher

ROW_FIELDS = ("docid_min", "docid_end", "n_docs", "n_tokens", "n_terms",
              "n_postings", "packed_bytes")


@contextmanager
def _spark_jobs(spark, group):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _rows_aggregate(spark, six):
    """Each record's fields recomputed from its rows, read from the
    generation dir the record names."""
    out = {}
    for g in sorted({r["gen"] for r in six.segments}):
        ids = [r["seg_id"] for r in six.segments if r["gen"] == g]
        rows = (spark.read.parquet(f"{six.path}/segments/gen={g}")
                .filter(F.col("seg_id").isin(ids))
                .select("seg_id", "term", "df", "ttf", "packed_bytes",
                        "docid_min", "n_docs",
                        F.length("norm_blob").alias("width"))
                .collect())
        for r in rows:
            a = out.setdefault(r.seg_id, dict.fromkeys(ROW_FIELDS, 0))
            if r.term is None:
                a.update(docid_min=r.docid_min, n_docs=r.n_docs,
                         docid_end=r.docid_min + r.width)
            else:
                a["n_terms"] += 1
                a["n_postings"] += r.df
                a["n_tokens"] += r.ttf
                a["packed_bytes"] += r.packed_bytes
    return out


def _assert_records_match_rows(spark, six):
    recs = {r["seg_id"]: {k: r[k] for k in ROW_FIELDS}
            for r in six.segments}
    assert recs == _rows_aggregate(spark, six)
    assert six.doc_count == sum(r["n_docs"] for r in six.segments)
    assert six.sum_ttf == sum(r["n_tokens"] for r in six.segments)
    spans = sorted((r["docid_min"], r["docid_end"]) for r in six.segments)
    assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))
    assert six.catalog.count() == len(six.segments)


def test_records_track_rows_through_every_mutation(spark, xs_transcripts,
                                                   tmp_path):
    """Append (with a token-less segment), delete, bulk merge,
    expunging merge and vacuum: after each, every record equals the
    aggregate of its rows and the counters equal the records' sums."""
    w = IndexWriter.create(spark, str(tmp_path / "ix"), docs_per_segment=64)
    docs = xs_transcripts.filter(F.col("docid") < 150).drop("docid")
    w.append_raw(docs.select("conv_id", "turn_idx", "text"), lineage="a")
    blank = spark.createDataFrame(
        [(f"z{i:03d}", 0, "" if i % 2 else "?!") for i in range(10)],
        "conv_id STRING, turn_idx INT, text STRING")
    six = w.append_raw(blank, lineage="token-less")
    empty = [r for r in six.segments if r["lineage"] == "token-less"]
    assert len(empty) == 1 and empty[0]["n_docs"] == 10
    assert empty[0]["n_terms"] == empty[0]["n_tokens"] == 0
    _assert_records_match_rows(spark, six)
    # token-less docs are live docs too (norm byte 0, no postings)
    assert {r.docid for r in live_docids(six).collect()} == set(range(160))

    _assert_records_match_rows(spark, w.delete_docids([3, 70, 140]))
    assert w.maybe_merge(segs_per_tier=2, max_merge_at_once=2,
                         floor_bytes=1 << 30) > 0
    six = w.reader()
    assert any(r["lineage"].startswith("merge(") for r in six.segments)
    _assert_records_match_rows(spark, six)

    six = w.merge_segments(list(six.live_segs), expunge=True)
    assert len(six.segments) == 1 and six.doc_count == 157
    assert six.segments[0]["docid_end"] == 160
    _assert_records_match_rows(spark, six)

    before = w.commit_state()
    assert w.vacuum()
    assert w.commit_state() == before
    assert os.listdir(f"{w.path}/segments") == \
        [f"gen={six.segments[0]['gen']}"]
    assert not os.path.exists(f"{w.path}/catalog")
    _assert_records_match_rows(spark, w.reader())


def test_store_without_segment_records_is_rejected(spark, tmp_path):
    """A commit of an older store format (no ``segments`` list) is
    refused with a clear error instead of reading as an empty store."""
    import json
    (tmp_path / "commit.json").write_text(json.dumps(dict(
        generation=3, doc_count=10, sum_ttf=40, docs_per_segment=64,
        next_seg_id=1, live_segs=[0], data_gens={"1": [0]})))
    with pytest.raises(ValueError, match="no segment records"):
        open_segments(spark, str(tmp_path))


def test_idle_maybe_merge_runs_no_spark_job(spark, xs_transcripts,
                                            tmp_path):
    w = IndexWriter.create(spark, str(tmp_path / "ix"),
                           docs_per_segment=128)
    w.append_raw(xs_transcripts.filter(F.col("docid") < 300).drop("docid"))
    with _spark_jobs(spark, "idle-maybe-merge") as jobs:
        assert w.maybe_merge() == 0
    assert jobs == []


def test_append_after_expunging_merge_reuses_no_docid(spark,
                                                      xs_transcripts,
                                                      tmp_path):
    """An expunging merge lowers doc_count but keeps its range's width:
    the next append starts past the range, not at doc_count."""
    docs = xs_transcripts
    w = IndexWriter.create(spark, str(tmp_path / "ix"),
                           docs_per_segment=128)
    w.append_raw(docs.filter(F.col("docid") < 460).drop("docid"))
    w.delete_docids(range(5))
    w.merge_segments(list(w.reader().live_segs), expunge=True)
    six = w.append_raw(docs.filter((F.col("docid") >= 460)
                                   & (F.col("docid") < 588)).drop("docid"))
    hits = [r.docid for r in SegmentSearcher(six).scored(Term("the"))
            .select("docid").collect()]
    assert hits and len(hits) == len(set(hits))
    assert max(hits) >= 460
    assert check_index(six).count() == 0
    spans = sorted((r["docid_min"], r["docid_end"]) for r in six.segments)
    assert spans == [(0, 460), (460, 588)]


def test_topic_pull_skips_merged_and_expunged_docs(spark, xs_transcripts,
                                                   tmp_path):
    """A merge rewrites earlier docs under a new generation; the docid
    checkpoint still delivers each live doc exactly once, and never an
    expunged one."""
    from lucene_solr_spark.streaming.topic import Topic
    docs = xs_transcripts

    def batch(lo, hi):
        return docs.filter((F.col("docid") >= lo)
                           & (F.col("docid") < hi)).drop("docid")

    w = IndexWriter.create(spark, str(tmp_path / "ix"), docs_per_segment=64)
    ck = str(tmp_path / "ckpt.json")
    t = Topic(spark, w.path, ck, "sub")

    def pull(topic):
        got = [r.docid for r in topic.pull().collect()]
        assert len(got) == len(set(got))
        return set(got)

    w.append_raw(batch(0, 241))
    assert pull(t) == set(range(241))
    w.append_raw(batch(241, 460))
    w.maybe_merge(segs_per_tier=2, floor_bytes=1 << 30)
    assert pull(t) == set(range(241, 460))
    w.append_raw(batch(460, 520))
    w.delete_docids([10, 250, 470])
    six = w.merge_segments(list(w.reader().live_segs), expunge=True)
    assert not six.del_gens                 # every delete was expunged
    assert pull(t) == set(range(460, 520)) - {470}
    assert pull(t) == set()
    assert pull(Topic(spark, w.path, ck, "fresh")) == \
        set(range(520)) - {10, 250, 470}
