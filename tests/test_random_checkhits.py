"""Randomized CheckHits sweep (the reference's testing philosophy:
LuceneTestCase randomized corpora/queries with reproducible seeds —
lucene/test-framework/.../LuceneTestCase.java). Random corpora and
random query trees, pinned seeds: WAND-pruned top-k must equal
exhaustive and naive evaluation on every draw."""

import random

import pytest

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.docids import assign_docids
from lucene_solr_spark.index.writer import IndexWriter
from lucene_solr_spark.search.engine import Searcher
from lucene_solr_spark.search.query import (
    Bool, DisMax, MultiPhrase, Phrase, PhraseWildcard, Prefix, SpanNear,
    Synonym, Term,
)
from lucene_solr_spark.search.segment_searcher import SegmentSearcher


def _random_query(rng, vocab):
    kind = rng.choice(["term", "or", "and", "mixed", "phrase", "synonym",
                       "dismax", "multiphrase", "sloppy", "prefix",
                       "spannear", "phrasewildcard"])
    t = lambda: Term(rng.choice(vocab))  # noqa: E731
    if kind == "term":
        return t()
    if kind == "or":
        n = rng.randint(2, 5)
        return Bool(should=tuple(t() for _ in range(n)),
                    minimum_should_match=rng.choice([0, 0, 2]))
    if kind == "and":
        return Bool(must=tuple(t() for _ in range(rng.randint(2, 3))))
    if kind == "mixed":
        return Bool(must=(t(),),
                    should=tuple(t() for _ in range(rng.randint(1, 3))),
                    must_not=(t(),))
    if kind == "phrase":
        return Phrase((rng.choice(vocab), rng.choice(vocab)))
    if kind == "dismax":
        n = rng.randint(2, 4)
        return DisMax(tuple(t() for _ in range(n)),
                      rng.choice([0.0, 0.3, 1.0]))
    if kind == "multiphrase":
        s0 = tuple({rng.choice(vocab) for _ in range(2)})
        s1 = tuple({rng.choice(vocab) for _ in range(2)})
        return MultiPhrase((s0, s1))
    if kind == "sloppy":
        a = rng.choice(vocab)
        b = rng.choice([v for v in vocab if v != a])
        return Phrase((a, b), rng.randint(1, 4))
    if kind == "prefix":
        return Prefix(rng.choice(vocab)[:2])
    if kind == "spannear":
        a, b = rng.choice(vocab), rng.choice(vocab)
        return SpanNear((a, b), rng.randint(0, 3))
    if kind == "phrasewildcard":
        # literal slot + a pattern slot drawn from a corpus term's
        # prefix (guarantees non-trivial dictionary expansion)
        lit = rng.choice(vocab)
        pat = rng.choice(vocab)[:2] + "*"
        slots = (lit, pat) if rng.random() < 0.5 else (pat, lit)
        return PhraseWildcard(slots,
                              max_expansions=rng.choice([4, 128]))
    return Synonym(tuple({rng.choice(vocab) for _ in range(3)}))


@pytest.mark.parametrize("seed", [11, 23])
def test_random_corpus_checkhits(spark, tmp_path_factory, seed):
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    tr = assign_docids(gen_transcripts(spark, 40, seed=seed),
                       ["conv_id", "turn_idx"]).persist()
    tr.count()
    ix = build_index(tr, docid_col="docid")
    out = str(tmp_path_factory.mktemp(f"rnd{seed}") / "ix")
    six = IndexWriter.create(spark, out, docs_per_segment=100) \
        .append_raw(tr.drop("docid"))
    se, ss = Searcher(ix), SegmentSearcher(six)

    # vocabulary drawn from the corpus itself (mid + hot terms)
    vocab = [r["term"] for r in
             ix.term_stats.orderBy("term").limit(400).collect()
             if r["df"] >= 1][:200] + ["ok", "the", "retry"]
    rng = random.Random(seed)
    for i in range(12):
        q = _random_query(rng, vocab)
        k = rng.choice([1, 5, 10])
        naive = [(r.doc_id, r.score) for r in se.topk(q, k).collect()]
        pruned = [(r.doc_id, r.score) for r in ss.topk(q, k).collect()]
        exhaustive = [(r.doc_id, r.score)
                      for r in ss.topk(q, k, prune=False).collect()]
        assert pruned == exhaustive == naive, (seed, i, q, k)
    tr.unpersist()
    ix.unpersist()
