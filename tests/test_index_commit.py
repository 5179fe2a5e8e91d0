"""The commit record is the segment catalog (INDEX/SegmentInfos.java).

``commit.json`` holds one record per live segment; ``doc_count``,
``sum_ttf`` and the next seg id and docid are derived from the records.
These tests pin the records to the rows they describe through every
kind of mutation, the docid high-water mark an expunge must keep, the
topic checkpoint built on it, the catalog reads that no longer run
Spark jobs, and the one commit of ``expunge_deletes``."""

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
    expunge and vacuum: after each, every record equals the aggregate
    of its rows and the counters equal the records' sums; vacuum leaves
    only the generation dirs the commit references."""
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

    six = w.expunge_deletes()
    assert six.doc_count == 157 and not six.del_gens
    _assert_records_match_rows(spark, six)
    six = w.merge_segments(list(six.live_segs))
    assert len(six.segments) == 1 and six.doc_count == 157
    assert six.segments[0]["docid_end"] == 160
    _assert_records_match_rows(spark, six)

    before = w.commit_state()
    assert w.vacuum()
    assert w.commit_state() == before
    assert os.listdir(f"{w.path}/segments") == \
        [f"gen={six.segments[0]['gen']}"]
    assert not os.path.exists(f"{w.path}/catalog")
    st = w.commit_state()
    on_disk = {f"{sub}/{d}" for sub in ("segments", "term_stats", "deletes")
               for d in os.listdir(f"{w.path}/{sub}")}
    assert on_disk == {f"segments/gen={six.segments[0]['gen']}",
                       f"term_stats/gen={st['stats_gen']}"}
    assert st["del_gens"] == []
    _assert_records_match_rows(spark, w.reader())


def test_store_files_match_pinned_schemas(spark, xs_transcripts, tmp_path):
    """Store reads pass the writer's schema instead of inferring one
    from a file footer, so every file of every writer path (append,
    each delete kind, update_by_term, docvalue update, bulk merge,
    expunge) and of a replicated copy must carry that schema: the same
    column names and Arrow types."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from lucene_solr_spark.index.replicator import replicate
    from lucene_solr_spark.index.segments import (
        DELETES_SCHEMA, DV_UPDATES_SCHEMA, SEGDATA_SCHEMA, TERM_STATS_SCHEMA,
    )

    def fields(schema):
        return [(f.name, f.type) for f in schema]

    pinned = {sub: fields(to_arrow_schema(
        spark.createDataFrame([], sch).schema if isinstance(sch, str)
        else sch))
        for sub, sch in (("segments", SEGDATA_SCHEMA),
                         ("term_stats", TERM_STATS_SCHEMA),
                         ("deletes", DELETES_SCHEMA),
                         ("dv_updates", DV_UPDATES_SCHEMA))}
    w = IndexWriter.create(spark, str(tmp_path / "ix"), docs_per_segment=64)
    cols = ("conv_id", "turn_idx", "text")
    w.append_raw(xs_transcripts.filter(F.col("docid") < 150).select(*cols))
    w.delete_docids([3, 70])
    w.delete_docids_df(spark.createDataFrame([(5,)], "d LONG"))
    w.delete_by_term("error")
    w.delete_by_query(Term("retry"))
    w.expire_docs(spark.createDataFrame([(7, 10), (8, 99)],
                                        "docid LONG, ttl LONG"), "ttl", 50)
    w.update_by_term("ok", xs_transcripts.filter(
        F.col("docid").between(150, 199)).select(*cols))
    w.update_numeric_docvalue("w1", "rank", 7)
    replica = str(tmp_path / "replica")
    replicate(w.path, replica)
    segs = sorted(w.commit_state()["segments"], key=lambda r: r["docid_min"])
    w.merge_segments([r["seg_id"] for r in segs[:2]])
    w.expunge_deletes()
    want = {"segments": 4, "term_stats": 3, "deletes": 6, "dv_updates": 1}
    for root in (w.path, replica):
        for sub, cols in pinned.items():
            gen_dirs = glob.glob(f"{root}/{sub}/gen=*")
            if root == w.path:
                assert len(gen_dirs) == want[sub], (sub, gen_dirs)
            assert gen_dirs, (root, sub)
            for d in gen_dirs:
                files = glob.glob(f"{d}/*.parquet")
                assert files, d
                for f in files:
                    assert fields(pq.read_schema(f)) == cols, f


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
    """An expunge lowers doc_count but keeps its segment's width: the
    next append starts past the range, not at doc_count."""
    docs = xs_transcripts
    w = IndexWriter.create(spark, str(tmp_path / "ix"),
                           docs_per_segment=128)
    w.append_raw(docs.filter(F.col("docid") < 460).drop("docid"))
    w.delete_docids(range(5))
    w.expunge_deletes()
    w.merge_segments(list(w.reader().live_segs))
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
    six = w.expunge_deletes()
    assert not six.del_gens                 # every delete was expunged
    assert pull(t) == set(range(460, 520)) - {470}
    assert pull(t) == set()
    assert pull(Topic(spark, w.path, ck, "fresh")) == \
        set(range(520)) - {10, 250, 470}


def _tiny_store(spark, path, blank=()):
    """30 one-token docs, 10 per segment; docids in ``blank`` have
    empty text."""
    docs = spark.createDataFrame(
        [(f"c{i:02d}", 0, "" if i in blank else f"w{i} common")
         for i in range(30)],
        "conv_id STRING, turn_idx INT, text STRING")
    w = IndexWriter.create(spark, path, docs_per_segment=10)
    w.append_raw(docs)
    return w


def test_merge_rejects_non_adjacent_or_unknown_segments(spark, tmp_path):
    """A merge of segments 0 and 2 would give one record spanning
    segment 1's docids; it is refused before anything is written, and
    the delete set is untouched."""
    w = _tiny_store(spark, str(tmp_path / "ix"))
    w.delete_docids([15, 25])
    before = w.commit_state()
    for bad in ([0, 2], [0, 1, 7], []):
        with pytest.raises(ValueError, match="docid-adjacent"):
            w.merge_segments(bad)
        assert w.commit_state() == before
    assert {r.docid for r in w.reader().deleted.collect()} == {15, 25}
    assert 15 not in {r.docid for r in live_docids(w.reader()).collect()}


def test_expunge_counts_deleted_token_less_docs(spark, tmp_path):
    """An expunged token-less doc (norm byte 0) leaves doc_count like
    any other deleted doc, and a live token-less doc in the expunged
    segment stays live. A docid deleted again after its expunge is
    already a hole: the next expunge leaves doc_count and the live docs
    as they were."""
    w = _tiny_store(spark, str(tmp_path / "ix"), blank={4, 5})
    w.delete_docids([5, 6])
    six = w.expunge_deletes()
    assert six.doc_count == 28 and not six.del_gens
    live = {r.docid for r in live_docids(six).collect()}
    assert live == set(range(30)) - {5, 6}
    _assert_records_match_rows(spark, six)
    w.delete_docids([5])
    six = w.expunge_deletes()
    assert six.doc_count == 28 and not six.del_gens
    assert {r.docid for r in live_docids(six).collect()} == live
    _assert_records_match_rows(spark, six)


def test_expunge_deletes_is_one_commit(spark, tmp_path, commit_swaps):
    """Deletes in three segments are expunged by ONE commit.json swap
    that rewrites exactly those segments; with no deletes left, a
    second expunge runs no Spark job and commits nothing."""
    w = _tiny_store(spark, str(tmp_path / "ix"))
    w.delete_docids([3, 14, 15, 27])
    before = w.commit_state()
    commit_swaps.clear()
    six = w.expunge_deletes()
    assert len(commit_swaps) == 1
    rec = commit_swaps[0][0]
    assert rec["generation"] == before["generation"] + 1
    assert rec["del_gens"] == [] and rec["doc_count"] == 26
    assert [(r["seg_id"], r["docid_min"], r["n_docs"])
            for r in rec["segments"]] == [(3, 0, 9), (4, 10, 8), (5, 20, 9)]
    assert check_index(six).count() == 0
    _assert_records_match_rows(spark, six)
    commit_swaps.clear()
    with _spark_jobs(spark, "idle-expunge") as jobs:
        w.expunge_deletes()
    assert jobs == [] and commit_swaps == []


def test_out_of_range_deletes_are_dropped(spark, tmp_path):
    """A delete names only docids the store has handed out: ids past the
    next docid (or negative) are dropped, so the docs a later append
    gets under those ids are born live."""
    w = _tiny_store(spark, str(tmp_path / "ix"))
    before = w.commit_state()["generation"]
    six = w.delete_docids([35, -1])
    assert six.generation == before and not six.del_gens
    six = w.append_raw(spark.createDataFrame(
        [(f"d{i:02d}", 0, f"w{30 + i} common") for i in range(10)],
        "conv_id STRING, turn_idx INT, text STRING"))
    live = {r.docid for r in live_docids(six).collect()}
    assert six.doc_count == 40 and len(live) == 40 and 35 in live
    six = w.delete_docids_df(spark.createDataFrame([(5,), (99,)], "d LONG"))
    assert {r.docid for r in six.deleted.collect()} == {5}
