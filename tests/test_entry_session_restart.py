"""The contract module's index caches follow the live SparkContext: after
``spark.stop()`` and a new session, ``_searcher`` and ``_seg_searcher``
rebuild instead of returning searchers over the dead context.

Runs in a subprocess so the suite's shared session is never stopped."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent("""
    import sys
    import tempfile

    import pandas as pd
    from pyspark.sql import SparkSession

    repo, tmp = sys.argv[1], sys.argv[2]
    sys.path.insert(0, repo)
    tempfile.tempdir = tmp
    import __spark_entry__ as entry
    from lucene_solr_spark.search.query import Term

    sf = f"{tmp}/sf"
    pd.DataFrame({"doc_id": list(range(6)),
                  "text": [f"doc {'hot ' * (i % 3)}number {i}"
                           for i in range(6)]}) \\
        .to_parquet(f"{sf}/documents.parquet")

    def session():
        return (SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "2")
                .getOrCreate())

    def run(spark):
        q = Term("hot")
        return ([tuple(r) for r in
                 entry._searcher(spark, sf).topk(q, 3).collect()],
                [tuple(r) for r in
                 entry._seg_searcher(spark, sf).topk(q, 3).collect()])

    spark = session()
    before = run(spark)
    spark.stop()
    spark = session()
    after = run(spark)
    spark.stop()
    assert before[0] and before == after, (before, after)
    print("RESTART-OK")
""")


def test_entry_caches_survive_session_restart(tmp_path):
    (tmp_path / "sf").mkdir()
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env)
    assert res.returncode == 0 and "RESTART-OK" in res.stdout, \
        res.stdout[-2000:] + res.stderr[-4000:]
