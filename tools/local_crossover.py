"""Where the two SegmentSearcher.topk paths cross on latency.

``SegmentSearcher.candidates`` runs the per-segment kernel either on the
driver over one Arrow collect of the pushed scan (the local step) or in
one ``groupBy(seg_id).applyInPandas`` stage on the executors, and picks
by the scan-bytes estimate ``_scan_estimate``. This probe times both
paths, forced, on queries whose estimates span small to whole-commit
scans, so the cut-off ``segment_searcher.LOCAL_SCAN_BYTES`` can be read
off a measurement.

Usage (from the repository root):
  python tools/local_crossover.py <work dir> [n_convs ...]

For each ``n_convs`` (default 600 2400 4800) it builds the store
``gen_transcripts(spark, n_convs, seed=5)`` at 8192 docs per segment,
deletes ``Term("retry")``, and for every query prints one JSON line:
the estimate, the bytes the collect actually returned
(``toArrow().nbytes``), and the median wall time of ``topk(q, 10)``
per path over 5 runs, each on a fresh reader, the two paths
alternating. The session mirrors perfbench (local[cores], 1 GB driver).
"""

import json
import os
import statistics
import sys
import time


def _queries(q, hot):
    T = q.Term
    out = {
        "rare": T("w777"),
        "hot": T(hot[1]),
        "or_hot5": q.Bool(should=tuple(T(t) for t in hot)),
        "phrase_hot": q.Phrase((hot[0], hot[1])),
    }
    for p in ("w9", "w5", "w3", "w2", "w1", "w"):
        out["prefix_" + p] = q.Prefix(p)
    return out


def main(work, sizes, reps=5):
    sys.path.insert(0, os.getcwd())
    from pyspark.sql import SparkSession
    n = len(os.sched_getaffinity(0))
    spark = (SparkSession.builder.master(f"local[{n}]")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from lucene_solr_spark.datagen.transcripts import HOT_TERMS, \
        gen_transcripts
    from lucene_solr_spark.index.writer import IndexWriter
    from lucene_solr_spark.search import query as q
    from lucene_solr_spark.search import segment_searcher as m

    for n_convs in sizes:
        w = IndexWriter.create(spark, f"{work}/store-{n_convs}",
                               docs_per_segment=8192)
        w.append_raw(gen_transcripts(spark, n_convs, seed=5))
        six = w.delete_by_query(q.Term("retry"))
        for name, query in _queries(q, HOT_TERMS).items():
            ss = m.SegmentSearcher(six)
            spec = ss.compile(query, 10)
            est = ss._scan_estimate(spec)
            got = ss._segment_frame(spec).toArrow().nbytes
            times = {True: [], False: []}
            rows = {}
            for i in range(2 * reps + 2):
                local = bool(i % 2)
                m.LOCAL_SCAN_BYTES = float("inf") if local else -1
                t0 = time.perf_counter()
                out = m.SegmentSearcher(six).topk(query, 10).collect()
                dt = time.perf_counter() - t0
                rows[local] = [tuple(r) for r in out]
                if i >= 2:   # the first pair warms both paths
                    times[local].append(dt)
            print(json.dumps({
                "docs": six.doc_count,
                "segments": len(six.segments),
                "query": name,
                "estimate_bytes": int(est),
                "collected_bytes": got,
                "local_s": round(statistics.median(times[True]), 4),
                "executor_s": round(statistics.median(times[False]), 4),
                "same_rows": rows[True] == rows[False],
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1], [int(a) for a in sys.argv[2:]] or [600, 2400, 4800])
