import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .appName("lucene_solr_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def xs_transcripts(spark):
    """~1k-turn deterministic transcript corpus with docids (FIXTURES xs)."""
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    from lucene_solr_spark.index.docids import assign_docids
    df = assign_docids(gen_transcripts(spark, 50), ["conv_id", "turn_idx"])
    df = df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def xs_index(xs_transcripts):
    from lucene_solr_spark.index.builder import build_index
    return build_index(xs_transcripts, text_col="text", docid_col="docid")


@pytest.fixture(scope="session")
def xs_segments(spark, xs_transcripts, tmp_path_factory):
    """Packed segment store of the xs corpus; docs_per_segment=128 so
    queries cross several segments. Read-only: tests that mutate a
    store build their own."""
    from lucene_solr_spark.index.writer import IndexWriter
    out = str(tmp_path_factory.mktemp("xs_segs") / "ix")
    return IndexWriter.create(spark, out, docs_per_segment=128) \
        .append_raw(xs_transcripts.drop("docid"), lineage="xs_transcripts")
