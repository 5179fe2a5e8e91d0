"""Segment-kernel equivalence probe: dump every result set of a fixed
query list on a fixed store, scores as ``float.hex``, so two source
trees can be compared bit for bit.

Usage:
  python tools/kernel_probe.py dump <source root> <store dir> <out.json>
  python tools/kernel_probe.py compare <a.json> <b.json>

``dump`` imports ``lucene_solr_spark`` from ``<source root>`` (run each
tree in its own process), builds the store
``gen_transcripts(spark, 60, seed=3)`` at 256 docs per segment, deletes
``Term("retry")`` and docids 3, 70, 140, 141, 300, 399, and records for
every query ``topk``, ``topk(prune=False)`` and ``topk32`` at k = 1, 10
and 50 plus the sorted ``scored()`` rows. The multi-term queries run
again with ``engine.MAX_CLAUSE_COUNT = 3`` in scoring, FILTER, MUST_NOT
and ConstantScore positions (the predicate fallback). A query that
raises records the exception type. ``compare`` prints the differing
sets and exits 1 when there are any.
"""

import json
import os
import sys


def _queries(q):
    T = q.Term
    multi = {
        "prefix": q.Prefix("w12"),
        "wildcard": q.Wildcard("w1?3"),
        "revwild": q.ReversedWildcard("*77"),
        "regexp": q.Regexp("w1[0-9]5"),
        "range": q.TermRange("w500", "w510"),
        "inset": q.TermInSet(("w1", "w7", "w99", "w12", "w3", "w250")),
        "fuzzy": q.Fuzzy("w123", 1),
    }
    plain = {
        "term": T("error"),
        "term_rare": T("w77"),
        "bool_must": q.Bool(must=(T("ok"), T("the"))),
        "bool_should": q.Bool(should=(T("ok"), T("w1"), T("w2"))),
        "bool_msm": q.Bool(should=(T("ok"), T("w1"), T("w2"), T("error")),
                           minimum_should_match=2),
        "bool_mixed": q.Bool(must=(T("the"),), should=(T("w1"), T("w3")),
                             must_not=(T("error"),)),
        "bool_mixed_msm": q.Bool(must=(T("done"),),
                                 should=(T("w1"), T("w2"), T("ok")),
                                 minimum_should_match=1),
        "bool_filter": q.Bool(should=(T("w1"), T("w2")),
                              filter=(T("ok"),)),
        "bool_filter_absent": q.Bool(should=(T("w1"),),
                                     filter=(T("nope"),)),
        "phrase": q.Phrase(("w1", "w2")),
        "phrase_rep": q.Phrase(("w1", "w1")),
        "phrase3": q.Phrase(("w1", "w2", "w1")),
        "phrase_sloppy": q.Phrase(("w1", "w3"), 2),
        "phrase_in_bool": q.Bool(must=(q.Phrase(("w1", "w2")),),
                                 should=(T("ok"),)),
        "multiphrase": q.MultiPhrase((("w1", "w2"), ("w3", "w1"))),
        "synonym": q.Synonym(("w5", "w6", "error")),
        "dismax03": q.DisMax((T("ok"), T("w1"), T("w2")), 0.3),
        "dismax00": q.DisMax((T("ok"), T("w1"), T("w2")), 0.0),
        "boost": q.Bool(should=(q.Boost(T("ok"), 2.5), T("w1"))),
        "spannear": q.SpanNear(("w1", "w2"), 3),
        "constant": q.Bool(should=(q.ConstantScore(T("w1"), 1.5),
                                   T("error"))),
    }
    plain.update({"mt_" + k: v for k, v in multi.items()})
    fallback = {}
    for k, m in multi.items():
        fallback[f"fb_{k}_score"] = m
        fallback[f"fb_{k}_filter"] = q.Bool(must=(T("ok"),), filter=(m,))
        fallback[f"fb_{k}_mustnot"] = q.Bool(must=(T("ok"),),
                                             must_not=(m,))
        fallback[f"fb_{k}_const"] = q.Bool(
            should=(q.ConstantScore(m, 2.0), T("error")))
    return plain, fallback


def _result_sets(ss, query):
    runs = {"scored": lambda: ss.scored(query)}
    for k in (1, 10, 50):
        runs[f"topk@{k}"] = lambda k=k: ss.topk(query, k)
        runs[f"exhaustive@{k}"] = lambda k=k: ss.topk(query, k, prune=False)
        runs[f"topk32@{k}"] = lambda k=k: ss.topk32(query, k)
    out = {}
    for key, run in runs.items():
        try:
            rows = run().collect()
        except Exception as e:  # both trees must raise alike
            out[key] = type(e).__name__
            continue
        if key == "scored":
            out[key] = sorted((int(r.docid), float(r.score).hex())
                              for r in rows)
        else:
            out[key] = [(int(r.doc_id), float(r.score).hex()) for r in rows]
    return out


def dump(root, store, out_path):
    root, store, out_path = map(os.path.abspath, (root, store, out_path))
    # Spark's Python workers put their working directory first on
    # sys.path, so it must be the tree under test
    os.chdir(root)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    from lucene_solr_spark.index.writer import IndexWriter
    from lucene_solr_spark.search import engine
    from lucene_solr_spark.search import query as q
    from lucene_solr_spark.search.segment_searcher import SegmentSearcher

    w = IndexWriter.create(spark, store, docs_per_segment=256)
    w.append_raw(gen_transcripts(spark, 60, seed=3))
    w.delete_by_query(q.Term("retry"))
    ss = SegmentSearcher(w.delete_docids([3, 70, 140, 141, 300, 399]))
    plain, fallback = _queries(q)
    result = {name: _result_sets(ss, x) for name, x in plain.items()}
    engine.MAX_CLAUSE_COUNT = 3
    result.update({name: _result_sets(ss, x)
                   for name, x in fallback.items()})
    with open(out_path, "w") as f:
        json.dump(result, f, sort_keys=True)
    sets = [v for r in result.values() for v in r.values()]
    print(f"{len(sets)} result sets, "
          f"{sum(1 for v in sets if isinstance(v, list) and v)} non-empty")
    spark.stop()


def compare(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    keys = sorted({(n, k) for r in (a, b) for n in r for k in r[n]})
    diff = [(n, k) for n, k in keys
            if a.get(n, {}).get(k) != b.get(n, {}).get(k)]
    for n, k in diff:
        print("DIFF", n, k)
    print(f"{len(keys)} result sets, {len(diff)} differ")
    return 1 if diff else 0


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "dump":
        dump(*args)
    elif cmd == "compare":
        sys.exit(compare(*args))
    else:
        sys.exit(__doc__)
