"""Two-phase commit (IndexWriter.prepareCommit/commit/rollback):
invisibility until promote, rollback abandonment, retry-after-rollback
store equality, double-prepare guard."""

import shutil
import tempfile

import pytest


@pytest.fixture()
def tmpdirs():
    ds = [tempfile.mkdtemp(prefix="2pc_") for _ in range(2)]
    yield ds
    for d in ds:
        shutil.rmtree(d, ignore_errors=True)


def _batches(spark):
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    a = gen_transcripts(spark, 6, seed=3)
    b = gen_transcripts(spark, 5, seed=9)
    return a, b


def _store_fingerprint(spark, path):
    from lucene_solr_spark.index.segments import open_segments
    six = open_segments(spark, path)
    rows = six.packed.orderBy("seg_id", "term").collect()
    return [tuple(str(v) for v in r) for r in rows]


def test_prepared_commit_is_invisible_until_commit(spark, tmpdirs):
    from lucene_solr_spark.index.writer import IndexWriter
    d, _ = tmpdirs
    w = IndexWriter.create(spark, d, docs_per_segment=512)
    a, b = _batches(spark)
    w.append_raw(a, lineage="base")
    base = w.commit_state()

    pending = w.prepare_commit(b, lineage="prepared")
    # reader + commit state still at the base generation
    assert w.commit_state() == base
    assert w.reader().doc_count == base["doc_count"]
    # the pending record is the real next commit
    assert pending["generation"] == base["generation"] + 1
    assert pending["doc_count"] > base["doc_count"]

    six = w.commit()
    assert w.commit_state()["generation"] == pending["generation"]
    assert six.doc_count == pending["doc_count"]


def test_rollback_then_retry_equals_direct_append(spark, tmpdirs):
    from lucene_solr_spark.index.writer import IndexWriter
    d1, d2 = tmpdirs
    a, b = _batches(spark)

    w1 = IndexWriter.create(spark, d1, docs_per_segment=512)
    w1.append_raw(a, lineage="base")
    base = w1.commit_state()
    w1.prepare_commit(b)
    w1.rollback()
    assert w1.commit_state() == base          # nothing visible
    w1.append_raw(b, lineage="retry")         # overwrites orphan dirs

    w2 = IndexWriter.create(spark, d2, docs_per_segment=512)
    w2.append_raw(a, lineage="base")
    w2.append_raw(b, lineage="direct")

    assert _store_fingerprint(spark, d1) == _store_fingerprint(spark, d2)


def test_double_prepare_raises(spark, tmpdirs):
    from lucene_solr_spark.index.writer import IndexWriter
    d, _ = tmpdirs
    w = IndexWriter.create(spark, d, docs_per_segment=512)
    a, b = _batches(spark)
    w.prepare_commit(a)
    with pytest.raises(RuntimeError, match="prepareCommit was already"):
        w.prepare_commit(b)
    w.commit()
    with pytest.raises(RuntimeError, match="no prepared commit"):
        w.commit()


def test_vacuum_keeps_prepared_commit_data(spark, tmpdirs):
    """vacuum() between prepare_commit and commit must not reap the
    prepared generation's segment data (a pending segments_N is
    referenced, as in Lucene's IndexFileDeleter)."""
    from lucene_solr_spark.index.segments import check_index
    from lucene_solr_spark.index.writer import IndexWriter
    d1, d2 = tmpdirs
    a, b = _batches(spark)

    w1 = IndexWriter.create(spark, d1, docs_per_segment=512)
    w1.append_raw(a, lineage="base")
    w1.prepare_commit(b)
    w1.vacuum()
    six1 = w1.commit()

    w2 = IndexWriter.create(spark, d2, docs_per_segment=512)
    w2.append_raw(a, lineage="base")
    six2 = w2.append_raw(b, lineage="direct")

    assert six1.doc_count == six2.doc_count
    assert _store_fingerprint(spark, d1) == _store_fingerprint(spark, d2)
    assert check_index(six1).count() == 0
