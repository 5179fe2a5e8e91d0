"""Live docs (deletes): query paths must exclude deleted documents
exactly like Lucene readers consulting the live-docs bitset
(codecs/lucene50/Lucene50LiveDocsFormat.java), while collection
statistics keep deleted docs until merge (Lucene stats semantics)."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import check_index
from lucene_solr_spark.index.writer import IndexWriter
from lucene_solr_spark.search.query import Bool, Phrase, Term
from lucene_solr_spark.search.segment_searcher import SegmentSearcher


@pytest.fixture()
def store(spark, xs_transcripts, tmp_path):
    w = IndexWriter.create(spark, str(tmp_path / "ix"),
                           docs_per_segment=128)
    w.append_raw(xs_transcripts.drop("docid"))
    return w


def test_expunge_drops_fully_deleted_rows(spark, tmp_path):
    """An expunge drops a posting row whose every doc is deleted (also
    when a whole input batch holds only such rows), re-encodes a
    touched row and passes untouched rows through; a bulk merge then
    concatenates the rewritten segment with the untouched one."""
    import numpy as np

    from lucene_solr_spark.index.writer import _expunge_packed
    docs = spark.createDataFrame(
        [("c0", 0, "a b"), ("c1", 0, "c d a"), ("c2", 0, "e a")],
        "conv_id STRING, turn_idx INT, text STRING")
    w = IndexWriter.create(spark, str(tmp_path / "ix"), docs_per_segment=2)
    six = w.append_raw(docs)
    nm = six.norms.select("seg_id", F.col("docid_min").alias("nlo"),
                          F.col("qdl_blob").alias("qblob"))
    only_doc1 = six.packed.filter(F.col("term").isin("c", "d")) \
        .join(nm, "seg_id").coalesce(1)
    assert _expunge_packed(only_doc1, {0: np.array([1])}).count() == 0
    w.delete_docids([1])
    w.expunge_deletes()
    six2 = w.merge_segments(list(w.reader().live_segs))
    assert sorted((r.term, r.df, r.ttf) for r in six2.packed.collect()) \
        == [("a", 2, 2), ("b", 1, 1), ("e", 1, 1)]
    assert six2.doc_count == 2 and check_index(six2).count() == 0


def test_delete_docids_excluded_everywhere(store):
    w = store
    six = w.reader()
    ss = SegmentSearcher(six)
    victims = [r.doc_id for r in ss.topk(Term("ok"), 5).collect()][:3]
    assert victims
    six2 = w.delete_docids(victims)
    ss2 = SegmentSearcher(six2)
    for q in (Term("ok"), Bool(must=(Term("ok"), Term("retry"))),
              Phrase(("ok", "the"))):
        hits = {r.doc_id for r in ss2.topk(q, 50).collect()}
        assert not (hits & set(victims)), q
        # pruned == exhaustive still holds with deletes active
        a = [(r.doc_id, r.score) for r in ss2.topk(q, 10).collect()]
        b = [(r.doc_id, r.score)
             for r in ss2.topk(q, 10, prune=False).collect()]
        assert a == b
    # count drops by exactly the deleted matches
    n_before = ss.count(Term("ok")).first()["n_hits"]
    n_after = ss2.count(Term("ok")).first()["n_hits"]
    assert n_after == n_before - len(victims)


def test_delete_by_term(store):
    w = store
    six = w.reader()
    n = SegmentSearcher(six).count(Term("error")).first()["n_hits"]
    assert n > 0
    six2 = w.delete_by_term("error")
    ss2 = SegmentSearcher(six2)
    assert ss2.count(Term("error")).first()["n_hits"] == 0
    # stats keep deleted docs until merge (Lucene semantics)
    assert six2.doc_count == six.doc_count


def test_deletes_survive_merge_and_commit_roundtrip(store, spark):
    from lucene_solr_spark.index.segments import open_segments
    w = store
    ss = SegmentSearcher(w.reader())
    victims = [r.doc_id for r in ss.topk(Term("retry"), 3).collect()]
    w.delete_docids(victims)
    w.maybe_merge(segs_per_tier=2, max_merge_at_once=4,
                  floor_bytes=1 << 30)
    six = open_segments(spark, w.path)
    assert check_index(six).count() == 0
    hits = {r.doc_id
            for r in SegmentSearcher(six).topk(Term("retry"), 50).collect()}
    assert not (hits & set(victims))


def test_expunge_merge_drops_docs_and_updates_stats(store, spark,
                                                    xs_transcripts):
    """expunge_deletes drops deleted docs like Lucene's
    forceMergeDeletes: deleted docs leave the postings, collection/term
    statistics move to the surviving corpus, and results equal a fresh
    index of the survivors (same docids)."""
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.engine import Searcher
    w = store
    six = w.reader()
    ss = SegmentSearcher(six)
    victims = [r.doc_id for r in ss.topk(Term("ok"), 4).collect()]
    w.delete_docids(victims)
    six2 = w.expunge_deletes()
    assert six2.doc_count == six.doc_count - len(victims)
    assert not six2.del_gens  # all deletions expunged
    assert check_index(six2).count() == 0
    # no posting references a victim anymore
    ss2 = SegmentSearcher(six2)
    hits = {r.doc_id for r in ss2.topk(Term("ok"), 1000).collect()}
    assert not (hits & set(victims))
    # reference: fresh naive index over the survivors with the SAME
    # docids — scores (which now use survivor stats) must match
    survivors = xs_transcripts.filter(~F.col("docid").isin(victims))
    ref = Searcher(build_index(survivors, docid_col="docid",
                               cache=False))
    for q in (Term("ok"), Bool(must=(Term("ok"), Term("retry"))),
              Phrase(("ok", "the"))):
        a = [(r.doc_id, r.score) for r in ref.topk(q, 10).collect()]
        b = [(r.doc_id, r.score) for r in ss2.topk(q, 10).collect()]
        assert a == b, q


def test_scores_of_survivors_unchanged(store):
    """Deleting docs must not change other docs' scores (stats are
    frozen until merge)."""
    w = store
    ss = SegmentSearcher(w.reader())
    before = [(r.doc_id, r.score) for r in ss.topk(Term("ok"), 20).collect()]
    victims = [before[0][0], before[2][0]]
    ss2 = SegmentSearcher(w.delete_docids(victims))
    after = [(r.doc_id, r.score) for r in ss2.topk(Term("ok"), 18).collect()]
    expect = [x for x in before if x[0] not in victims][:18]
    assert after == expect


def test_update_by_term_is_atomic_upsert(store, spark):
    """updateDocument(Term, doc): one commit deletes every live doc
    matching the term AND adds the replacement batch; searches see the
    new docs, never the old ones, and exactly one generation elapsed."""
    w = store
    six = w.reader()
    gen0 = w.commit_state()["generation"]
    n0 = six.doc_count
    old_hits = SegmentSearcher(six).count(Term("error")).first()["n_hits"]
    assert old_hits > 0
    repl = spark.createDataFrame(
        [("cX", i, "user", f"fresh replacement erratum w{i}", "", None)
         for i in range(4)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    six2 = w.update_by_term("error", repl)
    assert w.commit_state()["generation"] == gen0 + 1  # ONE commit
    ss2 = SegmentSearcher(six2)
    # every old 'error' doc is gone; replacements are searchable
    assert ss2.count(Term("error")).first()["n_hits"] == 0
    assert ss2.count(Term("erratum")).first()["n_hits"] == 4
    fresh = ss2.topk(Term("replacement"), 10).collect()
    assert {r.doc_id for r in fresh} == set(range(n0, n0 + 4))


def test_update_by_term_on_absent_term_is_plain_append(store, spark):
    w = store
    n0 = w.reader().doc_count
    repl = spark.createDataFrame(
        [("cY", 0, "user", "brandnewterm only", "", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    six2 = w.update_by_term("zzzzabsent", repl)
    assert six2.doc_count == n0 + 1
    assert not w.commit_state().get("del_gens")
    assert SegmentSearcher(six2).count(
        Term("brandnewterm")).first()["n_hits"] == 1


# -- numeric docvalue updates ------------------------------------------------

def test_update_numeric_docvalue_patches_matching_docs(store, spark):
    """updateNumericDocValue law (INDEX/IndexWriter.java +
    DocValuesFieldUpdates.java): docs matching the term get the new
    value without reindexing; everything else keeps its stored value;
    postings/scores are untouched."""
    from lucene_solr_spark.index.segments import open_segments
    w = store
    six = w.reader()
    ss = SegmentSearcher(six)
    matched = {r.doc_id for r in ss.topk(Term("error"), 10_000).collect()}
    assert matched
    # base docvalue: a synthetic per-doc numeric column
    base = spark.range(six.doc_count).select(
        F.col("id").alias("docid"), (F.col("id") * 10).alias("prio"))
    before = ss.topk(Term("ok"), 10).collect()

    six2 = w.update_numeric_docvalue("error", "prio", 999)
    resolved = {r.docid: r.prio
                for r in six2.resolve_docvalue(base, "prio").collect()}
    for d, v in resolved.items():
        if d in matched:
            assert v == 999
        else:
            assert v == d * 10
    # scoring is unaffected (the patch is docvalues-only)
    after = SegmentSearcher(six2).topk(Term("ok"), 10).collect()
    assert [(r.doc_id, r.score) for r in before] == \
        [(r.doc_id, r.score) for r in after]
    # commit roundtrip: a fresh open sees the patch generation
    six3 = open_segments(spark, w.path)
    assert six3.dv_gens == six2.dv_gens and six3.dv_gens


def test_update_numeric_docvalue_newest_generation_wins(store, spark):
    w = store
    six = w.reader()
    ss = SegmentSearcher(six)
    both = ({r.doc_id for r in ss.topk(Term("error"), 10_000).collect()}
            & {r.doc_id for r in ss.topk(Term("ok"), 10_000).collect()})
    w.update_numeric_docvalue("error", "prio", 111)
    six2 = w.update_numeric_docvalue("ok", "prio", 222)
    base = spark.range(six.doc_count).select(
        F.col("id").alias("docid"), F.lit(0).alias("prio"))
    resolved = {r.docid: r.prio
                for r in six2.resolve_docvalue(base, "prio").collect()}
    for d in both:
        assert resolved[d] == 222  # second update is the newer gen
    # a field we never touched resolves to pure base values
    untouched = {r.docid: r.other
                 for r in six2.resolve_docvalue(
                     base.withColumnRenamed("prio", "other"),
                     "other").collect()}
    assert all(v == 0 for v in untouched.values())


def _snapshot_dirs(path):
    import os
    return set(os.listdir(os.path.join(path, "term_stats")))


@pytest.mark.parametrize("how", ["docids", "docids_df", "term", "query"])
def test_delete_family_is_one_path(store, spark, how):
    """Every delete entry point removing the 'error' docs yields the
    same delete set and results, commits exactly one generation and
    writes no term_stats snapshot."""
    w = store
    ss = SegmentSearcher(w.reader())
    victims = {r.docid for r in ss.scored(Term("error"))
               .select("docid").collect()}
    assert victims
    before = [(r.doc_id, r.score)
              for r in ss.topk(Term("ok"), 1000, prune=False).collect()]
    gen0 = w.commit_state()["generation"]
    dirs0 = _snapshot_dirs(w.path)
    six = {"docids": lambda: w.delete_docids(sorted(victims)),
           "docids_df": lambda: w.delete_docids_df(spark.createDataFrame(
               [(d,) for d in sorted(victims)], "docid LONG")),
           "term": lambda: w.delete_by_term("error"),
           "query": lambda: w.delete_by_query(Term("error"))}[how]()
    assert {r.docid for r in six.deleted.collect()} == victims
    assert w.commit_state()["generation"] == gen0 + 1
    assert _snapshot_dirs(w.path) == dirs0
    ss2 = SegmentSearcher(six)
    assert ss2.count(Term("error")).first()["n_hits"] == 0
    # stats are frozen until merge, so the survivors keep their scores
    assert [(r.doc_id, r.score) for r in ss2.topk(Term("ok"), 10)
            .collect()] == [x for x in before if x[0] not in victims][:10]


def test_delete_docids_empty_commits_nothing(store):
    w = store
    gen0 = w.commit_state()["generation"]
    w.delete_docids([])
    assert w.commit_state()["generation"] == gen0


def test_empty_delete_by_query_leaves_no_delete_set(store):
    """A delete query without hits commits nothing and leaves no
    ``deletes/gen=N`` dir: the delete set is written once and its
    emptiness read from the written files."""
    import os
    w = store
    st0 = w.commit_state()
    w.delete_by_query(Term("zzzzabsent"))
    assert w.commit_state() == st0
    assert not os.path.exists(
        os.path.join(w.path, "deletes", f"gen={st0['generation'] + 1}"))


def test_live_docs_frames_do_not_pile_up(store, spark, monkeypatch):
    """Each delete commit's cached live-docs frame replaces the previous
    one: after three delete commits, each queried by a fresh reader, at
    most one frame of this store stays persisted, and every result
    equals an uncached run over the same commit."""
    from lucene_solr_spark.search import segment_searcher as ssm
    w = store
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    n0 = rdds().size()
    q = Bool(should=(Term("ok"), Term("retry")))
    victims = [r.doc_id for r in
               SegmentSearcher(w.reader()).topk(q, 6).collect()]
    assert len(victims) == 6
    readers, got = [], []
    for i in range(3):
        six = w.delete_docids(victims[2 * i:2 * i + 2])
        got.append([(r.doc_id, r.score) for r in
                    SegmentSearcher(six).topk(q, 10).collect()])
        readers.append(six)
    assert rdds().size() <= n0 + 1
    monkeypatch.setattr(ssm, "_live_docs_frame",
                        lambda six: six.deleted_by_segment())
    for six, rows in zip(readers, got):
        assert [(r.doc_id, r.score) for r in
                SegmentSearcher(six).topk(q, 10).collect()] == rows
        assert not {d for d, _ in rows} & set(victims[:2])
