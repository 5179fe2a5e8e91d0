"""Index splitting (lucene/misc PKIndexSplitter.java:38 /
MultiPassIndexSplitter.java:43 analogues, index/splitter.py).

Laws (docids are PRESERVED by this store's split — replicate + delete
+ expunge never renumbers — so hit sets compare directly across the
source and its splits):

- the two PK halves partition the corpus exactly (doc counts add up;
  for every probe query the halves' hit sets are disjoint and union
  to the source's hit set);
- the pass side's hit set for the split query IS the source's;
- a split store scores like a FRESH index built on the filtered
  corpus (same round-6 BM25 score multiset — collection/term stats
  shrink to the split on both paths);
- round-robin parts balance within 1 doc and reassemble the corpus;
- deletes are physically expunged (no del_gens remain).
"""

import pytest

from lucene_solr_spark.index.segments import open_segments
from lucene_solr_spark.index.splitter import (split_by_query,
                                              split_round_robin)
from lucene_solr_spark.index.writer import IndexWriter
from lucene_solr_spark.search.query import Term
from lucene_solr_spark.search.segment_searcher import SegmentSearcher
from pyspark.sql import functions as F

PROBES = ("ok", "retry", "error", "the")


# corpus and store are read-only: every split writes to its own
# destinations, so one store (and one PK split of it) serves the module


@pytest.fixture(scope="module")
def corpus(spark, xs_transcripts):
    return xs_transcripts.limit(400).drop("docid").persist()


@pytest.fixture(scope="module")
def store(spark, corpus, tmp_path_factory):
    w = IndexWriter.create(spark, str(tmp_path_factory.mktemp("split")
                                      / "ix"), docs_per_segment=128)
    w.append_raw(corpus)
    return w


@pytest.fixture(scope="module")
def pk_split(spark, store, tmp_path_factory):
    """``split_by_query(store, Term("error"))``: (pass reader, fail
    reader, pass path, fail path)."""
    root = tmp_path_factory.mktemp("pk")
    dst_pass, dst_fail = str(root / "pass"), str(root / "fail")
    a, b = split_by_query(spark, store.path, dst_pass, dst_fail,
                          Term("error"))
    return a, b, dst_pass, dst_fail


def _hits(spark, path, term):
    ss = SegmentSearcher(open_segments(spark, path))
    return {r["docid"] for r in
            ss.scored(Term(term)).select("docid").collect()}


def _score_multiset(spark, path, term, k=10_000):
    ss = SegmentSearcher(open_segments(spark, path))
    return sorted(round(r["score"], 6)
                  for r in ss.topk(Term(term), k).collect())


def test_pk_split_partitions_exactly(spark, store, corpus, pk_split):
    a, b, dst_pass, dst_fail = pk_split
    n = corpus.count()
    assert a.doc_count + b.doc_count == n
    src_hits = _hits(spark, store.path, "error")
    assert a.doc_count == len(src_hits)
    # physically expunged: no outstanding delete generations
    assert not a.del_gens and not b.del_gens
    # every probe's hit set splits exactly (docids preserved)
    for t in PROBES:
        src = _hits(spark, store.path, t)
        ha = _hits(spark, dst_pass, t)
        hb = _hits(spark, dst_fail, t)
        assert not (ha & hb)
        assert (ha | hb) == src
        assert ha == src & src_hits
    # the pass side is exactly the query's hit set
    assert _hits(spark, dst_pass, "error") == src_hits
    assert _hits(spark, dst_fail, "error") == set()


def test_pk_split_matches_fresh_index_on_filtered_corpus(
        spark, store, corpus, pk_split, tmp_path):
    """The fail half scores like an index built directly from the
    filtered corpus: identical round-6 BM25 score multisets (both
    paths shrink df/avgdl/sum_ttf to the survivors)."""
    dst_fail = pk_split[3]
    hit_ids = _hits(spark, store.path, "error")
    # rebuild the fail-side corpus by key: xs docids were assigned on
    # the same (conv_id, turn_idx) order the store indexed
    keep = corpus.withColumn(
        "rid", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.orderBy("conv_id", "turn_idx")) - 1) \
        .filter(~F.col("rid").isin([int(i) for i in hit_ids])) \
        .drop("rid")
    w2 = IndexWriter.create(spark, str(tmp_path / "fresh"),
                            docs_per_segment=128)
    w2.append_raw(keep)
    for t in PROBES:
        got = _score_multiset(spark, dst_fail, t)
        exp = _score_multiset(spark, str(tmp_path / "fresh"), t)
        assert got == exp
    assert open_segments(spark, dst_fail).doc_count == \
        open_segments(spark, str(tmp_path / "fresh")).doc_count


def test_round_robin_parts_reassemble(spark, store, corpus, tmp_path):
    n = corpus.count()
    paths = [str(tmp_path / f"p{i}") for i in range(3)]
    parts = split_round_robin(spark, store.path, paths)
    sizes = [p.doc_count for p in parts]
    assert sum(sizes) == n
    assert max(sizes) - min(sizes) <= 1          # modulo split balance
    for t in PROBES:
        src = _hits(spark, store.path, t)
        hs = [_hits(spark, p, t) for p in paths]
        assert set.union(*hs) == src
        assert all(not (hs[i] & hs[j])
                   for i in range(3) for j in range(i + 1, 3))
        # part i holds exactly the docid % 3 == i residue class
        for i, h in enumerate(hs):
            assert all(d % 3 == i for d in h)


def test_sequential_split_gives_contiguous_ranges(spark, store, corpus,
                                                  tmp_path):
    paths = [str(tmp_path / f"s{i}") for i in range(2)]
    parts = split_round_robin(spark, store.path, paths, sequential=True)
    assert sum(p.doc_count for p in parts) == corpus.count()
    h0 = set().union(*(_hits(spark, paths[0], t) for t in PROBES))
    h1 = set().union(*(_hits(spark, paths[1], t) for t in PROBES))
    assert h0 and h1 and max(h0) < min(h1)        # contiguous, ordered


def test_split_needs_two_parts(spark, store, tmp_path):
    with pytest.raises(ValueError):
        split_round_robin(spark, store.path, [str(tmp_path / "only")])


def test_sequential_split_more_parts_than_docs(spark, xs_transcripts,
                                               tmp_path):
    """MultiPassIndexSplitter --seq with numParts > maxDoc: partLen
    floors to 0, every part but the LAST is empty and the last
    absorbs everything."""
    corpus = xs_transcripts.limit(3).drop("docid")
    w = IndexWriter.create(spark, str(tmp_path / "tiny"),
                           docs_per_segment=128)
    w.append_raw(corpus)
    parts = split_round_robin(
        spark, w.path, [str(tmp_path / f"q{i}") for i in range(5)],
        sequential=True)
    assert [p.doc_count for p in parts] == [0, 0, 0, 0, 3]
