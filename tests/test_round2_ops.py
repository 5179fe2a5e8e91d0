"""Round-2 operator tests: anchored Regexp, Damerau Fuzzy, Bool rewrite,
SpanOr/SpanNot, FieldExists, scored sloppy phrase (engine == oracle ==
segment kernel == direct SloppyPhraseMatcher port)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.search.engine import Searcher
from lucene_solr_spark.search.oracle import OracleBuilder
from lucene_solr_spark.search.query import (
    Bool, Boost, DisMax, FieldExists, Fuzzy, Phrase, Regexp, SpanNear,
    SpanNot, SpanOr, Term, rewrite, transposition_variants,
)
from lucene_solr_spark.search.sloppy import (
    chain_match_lengths_2, freq_denominator, sloppy_freq_f64,
    sloppy_match_lengths,
)

# a corpus whose vocabulary exposes anchoring/transposition bugs the
# 31-term driver fixtures mask (VERDICT r1 "what's wrong" #1/#2)
RICH_DOCS = [
    (0, "skill stack sock merge windows", "en", "s0"),
    (1, "stack the merge mereg skill", "en", "s1"),
    (2, "sk silk stark mereg windows skill", "de", "s2"),
    (3, "merge sock stack skill stark", "en", None),
    (4, "a b a y x a b", "en", "s4"),
    (5, "c b a f g a b c b a f g", "fr", "s5"),
]


@pytest.fixture(scope="module")
def rich(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("rich") / "documents.parquet")
    df = spark.createDataFrame(
        RICH_DOCS, "doc_id long, text string, lang string, source string")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)
    se = Searcher(build_index(docs))
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{p}/*.parquet'")
    return se, con


def _cmp(se, con, q, k=10):
    ob = OracleBuilder()
    eng = [(r.doc_id, r.score) for r in se.topk(q, k).collect()]
    ora = [(int(a), float(b))
           for a, b in con.execute(ob.topk_sql(q, k)).fetchall()]
    assert eng == ora, (eng, ora)
    return eng


# ---------------------------------------------------------------------------
# regexp / fuzzy
# ---------------------------------------------------------------------------

def test_regexp_is_anchored(rich):
    se, con = rich
    hits = {d for d, _ in _cmp(se, con, Regexp("s.*k"))}
    # 'skill' contains substring match s..k but is NOT a full-term match;
    # unanchored rlike would include docs matching only via 'skill'/'silk'
    assert 0 in hits          # 'stack', 'sock'
    m_sk = {r.docid for r in se.matching(Regexp("sk")).collect()}
    assert m_sk == {2}        # exactly the term 'sk', not 'skill'


def test_regexp_alternation_anchored(rich):
    se, con = rich
    _cmp(se, con, Regexp("sock|stark"))
    m = {r.docid for r in se.matching(Regexp("sock|stark")).collect()}
    assert m == {0, 2, 3}


def test_fuzzy_transposition_counts_one_edit(rich):
    se, con = rich
    # Damerau: 'mereg' ~1 'merge' (adjacent transposition). Classic
    # levenshtein distance is 2, so a non-transposition backend misses it.
    hits = {d for d, _ in _cmp(se, con, Fuzzy("merge", 1))}
    assert 2 in hits          # doc 2 contains only 'mereg'
    m = {r.docid for r in se.matching(Fuzzy("merge", 1)).collect()}
    assert m == {0, 1, 2, 3}


def test_fuzzy_no_transpositions_mode(rich):
    se, con = rich
    m = {r.docid for r in
         se.matching(Fuzzy("merge", 1, transpositions=False)).collect()}
    assert 2 not in m


def test_transposition_variants():
    assert set(transposition_variants("merge")) == {
        "emrge", "mrege", "megre", "mereg"}
    assert transposition_variants("aa") == ()


# ---------------------------------------------------------------------------
# rewrite
# ---------------------------------------------------------------------------

def test_rewrite_unwraps_single_clause():
    assert rewrite(Bool(must=(Term("a"),))) == Term("a")
    assert rewrite(Bool(should=(Term("a"),))) == Term("a")
    assert rewrite(Boost(Term("a"), 1.0)) == Term("a")
    assert rewrite(Boost(Boost(Term("a"), 2.0), 3.0)) == Boost(Term("a"), 6.0)
    assert rewrite(DisMax((Term("a"),), 0.5)) == Term("a")


def test_rewrite_dedups_should_into_boost():
    q = rewrite(Bool(should=(Term("a"), Term("a"), Term("b"))))
    assert q == Bool(should=(Boost(Term("a"), 2.0), Term("b")))


def test_rewrite_drops_filter_duplicating_must():
    q = rewrite(Bool(must=(Term("a"),), filter=(Term("a"), Term("b"))))
    assert q == Bool(must=(Term("a"),), filter=(Term("b"),))


def test_rewrite_preserves_scores(rich):
    se, con = rich
    raw = Bool(should=(Term("stack"), Term("stack"), Term("merge")))
    a = [(r.doc_id, r.score) for r in se.topk(raw, 10).collect()]
    b = [(r.doc_id, r.score) for r in se.topk(rewrite(raw), 10).collect()]
    assert a == b
    _cmp(se, con, raw)


# ---------------------------------------------------------------------------
# spans / field exists
# ---------------------------------------------------------------------------

def test_span_or_matches_oracle(rich):
    se, con = rich
    q = SpanOr((SpanNear(("a", "b"), 0), Term("sock")))
    _cmp(se, con, q)
    m = {r.docid for r in se.matching(q).collect()}
    assert m == {0, 3, 4, 5}


def test_span_not_excludes_overlapping_starts(rich):
    se, con = rich
    # 'a b' spans except those whose start is also a 'a b c' span start
    q = SpanNot(SpanNear(("a", "b"), 0), SpanNear(("a", "b", "c"), 0))
    _cmp(se, con, q)
    m = {r.docid for r in se.matching(q).collect()}
    # doc 4: 'a b' twice, never followed by c -> survives
    # doc 5: the only 'a b' is 'a b c' -> excluded
    assert m == {4}


def test_field_exists(rich):
    se, con = rich
    q = Bool(must=(Term("merge"),), filter=(FieldExists("source"),))
    _cmp(se, con, q)
    m = {r.docid for r in se.matching(FieldExists("source")).collect()}
    assert m == {0, 1, 2, 4, 5}   # doc 3 has NULL source


# ---------------------------------------------------------------------------
# sloppy phrase: direct port laws + chain equivalence
# ---------------------------------------------------------------------------

def test_sloppy_javadoc_example_ab():
    # SloppyPhraseMatcher.java:44-46: "a b"~2 over "x a b a y" matches
    # twice: distance 0 and distance 2
    mls = sloppy_match_lengths([[1, 3], [2]], 2)
    assert mls == [0, 2]
    assert sloppy_freq_f64(mls, 2) == pytest.approx(1 + 1 / 3)


def test_sloppy_javadoc_example_cb():
    # SloppyPhraseMatcher.java:52-54: "c b"~2 over "a b c b a f g"
    # finds only ONE match (the traversal propagates the least position)
    mls = sloppy_match_lengths([[2], [1, 3]], 2)
    assert mls == [0]


def test_sloppy_exact_occurrence_is_distance_zero():
    mls = sloppy_match_lengths([[5], [6]], 0)
    assert mls == [0]
    assert sloppy_match_lengths([[5], [8]], 1) == []
    assert sloppy_match_lengths([[5], [8]], 2) == [2]


def test_sloppy_reversed_pair():
    # "b a": term0 at 1, term1 at 0 -> adjusted [1], [-1]: ml = 2
    assert sloppy_match_lengths([[1], [0]], 2) == [2]
    assert sloppy_match_lengths([[1], [0]], 1) == []


def test_chain_matches_direct_randomized():
    rng = np.random.default_rng(42)
    for trial in range(500):
        na, nb = rng.integers(1, 8, size=2)
        a = sorted(rng.choice(60, size=na, replace=False).tolist())
        b = sorted(rng.choice(60, size=nb, replace=False).tolist())
        slop = int(rng.integers(0, 6))
        direct = sloppy_match_lengths([a, b], slop)
        chain = chain_match_lengths_2(a, b, slop)
        assert sorted(direct) == sorted(chain), (a, b, slop, direct, chain)


def test_freq_denominator():
    assert freq_denominator(0) == 1
    assert freq_denominator(2) == 6
    assert freq_denominator(4) == 60


# ---------------------------------------------------------------------------
# sloppy phrase: engine == oracle == kernel
# ---------------------------------------------------------------------------

def test_sloppy_phrase_engine_matches_oracle(rich):
    se, con = rich
    for slop in (1, 2, 4):
        hits = _cmp(se, con, Phrase(("a", "b"), slop))
        assert hits
    _cmp(se, con, Phrase(("c", "b"), 2))
    _cmp(se, con, Phrase(("merge", "skill"), 3))


def test_sloppy_phrase_widens_exact(rich):
    se, _ = rich
    exact = {r.doc_id for r in se.topk(Phrase(("a", "b")), 10).collect()}
    sloppy = {r.doc_id
              for r in se.topk(Phrase(("a", "b"), 3), 10).collect()}
    assert exact <= sloppy


def test_sloppy_phrase_kernel_matches_engine(spark, tmp_path_factory):
    from lucene_solr_spark.index.writer import IndexWriter
    from lucene_solr_spark.search.segment_searcher import SegmentSearcher
    out = str(tmp_path_factory.mktemp("segs_sloppy"))
    df = spark.createDataFrame(
        RICH_DOCS, "doc_id long, text string, lang string, source string")
    w = IndexWriter.create(spark, out, docs_per_segment=3)
    w.append_raw(df, order_cols=["doc_id"], lineage="sloppy test")
    ss = SegmentSearcher(w.reader())
    se = Searcher(build_index(df))
    for q in (Phrase(("a", "b"), 2), Phrase(("c", "b"), 2),
              Phrase(("merge", "skill"), 3),
              Bool(must=(Phrase(("a", "b"), 2),), should=(Term("y"),))):
        eng = [(r.doc_id, r.score) for r in se.topk(q, 10).collect()]
        ker = [(r.doc_id, r.score) for r in ss.topk(q, 10).collect()]
        assert eng == ker, (q, eng, ker)


def test_sloppy_phrase_f32_parity(spark, tmp_path_factory):
    """float32 mode: the kernel, pruned and exhaustive, equals the
    brute-force numpy float32 oracle of tests/test_lucene_parity bit for
    bit on sloppy freq scoring (chain-order float32 accumulation),
    DisMax with float tie-breaks and the constant-score Prefix."""
    from lucene_solr_spark.index.writer import IndexWriter
    from lucene_solr_spark.search.query import Prefix
    from lucene_solr_spark.search.segment_searcher import SegmentSearcher
    from test_lucene_parity import Oracle, kernel_topk32
    out = str(tmp_path_factory.mktemp("segs_sloppy32"))
    df = spark.createDataFrame(
        RICH_DOCS, "doc_id long, text string, lang string, source string")
    w = IndexWriter.create(spark, out, docs_per_segment=3)
    w.append_raw(df, order_cols=["doc_id"], lineage="sloppy f32")
    ss = SegmentSearcher(w.reader())
    oracle = Oracle([(d, text) for d, text, _, _ in RICH_DOCS])
    for q in (Phrase(("a", "b"), 2),
              DisMax((Term("merge"), Term("skill")), 0.3),
              DisMax((Term("merge"), Term("stack")), 0.0),
              Prefix("st")):
        want = oracle.topk(q, 10)
        assert want, q
        assert kernel_topk32(ss, q, 10) == [want, want], q


# ---------------------------------------------------------------------------
# widened WAND-path AST coverage (dismax / multiphrase / multi-term /
# spans on the packed-segment kernel)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def seg_pair(spark, tmp_path_factory):
    from lucene_solr_spark.index.writer import IndexWriter
    from lucene_solr_spark.search.segment_searcher import SegmentSearcher
    out = str(tmp_path_factory.mktemp("segs_wide"))
    df = spark.createDataFrame(
        RICH_DOCS, "doc_id long, text string, lang string, source string")
    w = IndexWriter.create(spark, out, docs_per_segment=2)
    w.append_raw(df, order_cols=["doc_id"], lineage="wide test")
    return Searcher(build_index(df)), SegmentSearcher(w.reader())


def _cmp_paths(se, ss, q, k=10):
    eng = [(r.doc_id, r.score) for r in se.topk(q, k).collect()]
    ker = [(r.doc_id, r.score) for r in ss.topk(q, k).collect()]
    assert eng == ker, (q, eng, ker)
    return eng


def test_kernel_dismax(seg_pair):
    se, ss = seg_pair
    from lucene_solr_spark.search.query import DisMax
    hits = _cmp_paths(se, ss, DisMax((Term("merge"), Term("skill")), 0.3))
    assert hits
    _cmp_paths(se, ss, DisMax((Term("merge"), Term("stack")), 0.0))


def test_kernel_multiphrase(seg_pair):
    se, ss = seg_pair
    from lucene_solr_spark.search.query import MultiPhrase
    hits = _cmp_paths(
        se, ss, MultiPhrase(((("skill", "sock"), ("stack", "merge")))))
    assert hits


def test_kernel_multi_term_expansion(seg_pair):
    se, ss = seg_pair
    from lucene_solr_spark.search.query import Prefix, Wildcard
    assert _cmp_paths(se, ss, Prefix("s"))
    assert _cmp_paths(se, ss, Wildcard("s?a*"))
    assert _cmp_paths(se, ss, Fuzzy("merge", 1))
    assert _cmp_paths(se, ss, Regexp("s.*k"))


def test_kernel_spannear_scoring_position(seg_pair):
    se, ss = seg_pair
    hits = _cmp_paths(se, ss, SpanNear(("a", "b"), 2))
    assert hits


def test_kernel_multi_term_in_filter_and_not(seg_pair):
    se, ss = seg_pair
    from lucene_solr_spark.search.query import Prefix
    q = Bool(must=(Term("merge"),), filter=(Prefix("st"),),
             must_not=(Prefix("soc"),))
    _cmp_paths(se, ss, q)


def test_kernel_dismax_inside_bool_still_engine_only(seg_pair):
    _, ss = seg_pair
    from lucene_solr_spark.search.query import DisMax
    # a single-MUST Bool rewrites to the bare DisMax (supported);
    # DisMax nested beside another clause stays engine-only
    q = Bool(must=(DisMax((Term("a"), Term("b")), 0.1), Term("merge")))
    with pytest.raises(TypeError):
        ss.compile(q, 10)


# ---------------------------------------------------------------------------
# LRU query cache (LRUQueryCache.java:90 + usage-tracking admission)
# ---------------------------------------------------------------------------

def test_query_cache_admission_and_eviction(spark):
    from lucene_solr_spark.search.cache import LRUQueryCache
    from lucene_solr_spark.search.query import Prefix
    df = spark.createDataFrame(
        RICH_DOCS, "doc_id long, text string, lang string, source string")
    cache = LRUQueryCache(max_entries=2, min_frequency=2)
    se = Searcher(build_index(df), query_cache=cache)
    q = Prefix("st")
    base = sorted(r.docid for r in se.matching(q).collect())
    # first use: counted but NOT persisted (usage-tracking admission)
    assert len(cache._cache) == 0 and cache.misses == 1
    m2 = se.matching(q)
    assert sorted(r.docid for r in m2.collect()) == base
    assert q in cache._cache          # second use: admitted + persisted
    assert m2.storageLevel.useMemory
    m3 = se.matching(q)
    assert cache.hits == 1
    assert sorted(r.docid for r in m3.collect()) == base
    # fill past capacity: LRU entry is evicted and unpersisted
    for other in (Prefix("so"), Prefix("me")):
        se.matching(other)
        se.matching(other)
    assert len(cache._cache) == 2
    assert q not in cache._cache
    assert not m2.storageLevel.useMemory
    cache.clear()


def test_query_cache_results_identical(rich):
    from lucene_solr_spark.search.cache import LRUQueryCache
    se, con = rich
    cached = Searcher(se.ix, query_cache=LRUQueryCache(min_frequency=1))
    q = Bool(must=(Term("merge"),), filter=(Term("stack"),),
             must_not=(Term("sock"),))
    a = [(r.doc_id, r.score) for r in se.topk(q, 10).collect()]
    for _ in range(2):
        b = [(r.doc_id, r.score) for r in cached.topk(q, 10).collect()]
        assert a == b
    cached.query_cache.clear()


# ---------------------------------------------------------------------------
# rich-vocabulary oracle sweep: the driver fixtures have a 31-term
# vocabulary that masks multi-term-query bugs (VERDICT r1); this runs
# engine-vs-DuckDB on the ~10k-term Zipf transcript corpus
# (datagen.transcripts, FIXTURES.md §1) for every multi-term operator
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def zipf(spark, tmp_path_factory):
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    from lucene_solr_spark.index.docids import assign_docids
    p = str(tmp_path_factory.mktemp("zipf") / "documents.parquet")
    df = assign_docids(gen_transcripts(spark, 60), ["conv_id", "turn_idx"])
    (df.select(F.col("docid").alias("doc_id"), "text")
       .coalesce(1).write.mode("overwrite").parquet(p))
    docs = spark.read.parquet(p)
    se = Searcher(build_index(docs))
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{p}/*.parquet'")
    n_vocab = se.ix.term_stats.count()
    assert n_vocab > 1000, n_vocab   # genuinely rich vocabulary
    return se, con


def test_rich_vocab_multi_term_oracle_sweep(zipf):
    se, con = zipf
    from lucene_solr_spark.search.query import (
        Prefix, TermInSet, TermRange, Wildcard,
    )
    for q in (
        Prefix("w1"), Prefix("w99"),
        Wildcard("w1?3*"), Wildcard("w*7"),
        Regexp("w1.2"), Regexp("w[0-9]*7"), Regexp("ok|w12"),
        Fuzzy("w123", 1), Fuzzy("w1234", 2), Fuzzy("retyr", 1),
        TermRange("w100", "w120"), TermInSet(("w1", "w17", "retry")),
    ):
        _cmp(se, con, q)


def test_kernel_predicate_fallback_past_max_clause(spark, tmp_path_factory):
    """A prefix expanding past maxClauseCount (>1024 dictionary terms)
    must NOT raise on the segment path: the constant-score rewrite
    ships the predicate itself (scoring, FILTER and MUST_NOT
    positions), matching the non-enumerating
    MultiTermQueryConstantScoreWrapper."""
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    from lucene_solr_spark.index.docids import assign_docids
    from lucene_solr_spark.index.writer import IndexWriter
    from lucene_solr_spark.search.query import Prefix
    from lucene_solr_spark.search.segment_searcher import SegmentSearcher
    df = assign_docids(gen_transcripts(spark, 40, seed=5),
                       ["conv_id", "turn_idx"]).persist()
    df.count()
    se = Searcher(build_index(df, docid_col="docid"))
    out = str(tmp_path_factory.mktemp("bigpfx"))
    w = IndexWriter.create(spark, out, docs_per_segment=200)
    w.append_raw(df.withColumnRenamed("docid", "doc_id"),
                 order_cols=["doc_id"], lineage="bigpfx")
    ss = SegmentSearcher(w.reader())
    big = Prefix("w1")          # >1024 matching terms in the 10k vocab
    n_terms = se.ix.term_stats.filter(
        F.col("term").like("w1%")).count()
    assert n_terms > 1024
    for q in (big,
              Bool(must=(Term("ok"),), filter=(big,)),
              Bool(must=(Term("ok"),), must_not=(big,))):
        eng = [(r.doc_id, r.score) for r in se.topk(q, 10).collect()]
        ker = [(r.doc_id, r.score) for r in ss.topk(q, 10).collect()]
        assert eng == ker, (q, eng[:3], ker[:3])
    df.unpersist()


def test_rich_vocab_phrase_and_bool_oracle(zipf):
    se, con = zipf
    for q in (
        Bool(should=(Term("ok"), Term("retry"), Term("w3"))),
        Bool(must=(Term("the"),), should=(Term("error"),),
             must_not=(Term("w9"),)),
        Phrase(("ok", "the"), 3),
        SpanNear(("retry", "error"), 4),
    ):
        _cmp(se, con, q)


# ---------------------------------------------------------------------------
# parser round-trips
# ---------------------------------------------------------------------------

def test_parser_sloppy_phrase_is_scored():
    from lucene_solr_spark.search.parser import parse
    q = parse('"slow batch"~4')
    assert q == Phrase(("slow", "batch"), 4)


def test_parser_quoted_boost_kept():
    from lucene_solr_spark.search.parser import parse
    q = parse('"table hash"^2')
    assert q == Boost(Phrase(("table", "hash")), 2.0)
    q2 = parse('"table hash"~3^2.5')
    assert q2 == Boost(Phrase(("table", "hash"), 3), 2.5)
