"""Query compiler: AST -> Spark DataFrame plans, in double precision.

The Spark realization of Lucene's Weight/Scorer stage
(SEARCH/IndexSearcher.java:459-505, Boolean2ScorerSupplier):

    term lookup      -> filter on the postings DataFrame (Catalyst prunes)
    MUST             -> inner join on docid   (ConjunctionDISI)
    SHOULD           -> union-all + groupBy(docid) (DisjunctionSumScorer)
    MUST_NOT         -> left_anti join        (ReqExclScorer)
    FILTER           -> left_semi join        (COMPLETE_NO_SCORES)
    phrase           -> position-list intersection (ExactPhraseMatcher)
    top-k            -> orderBy(score desc, docid asc).limit(k)
                        == TakeOrderedAndProject (per-partition heaps +
                        k-way merge = TopScoreDocCollector + TopDocs.merge)

``TermWeights`` is the createWeight step both searchers share (this
compiler and search.segment_searcher): term statistics are frozen at
compile time by one lookup on the term_stats table, idf is computed in
python doubles and inlined as a literal (libm == the DuckDB oracle's
libm, so engine and oracle share the same transcendental bits), and
multi-term queries expand against the term dictionary on the driver.

Scores here are float64 end-to-end: the "oracle-checkable" mode whose
arithmetic is expressible in ANSI SQL. Lucene's float32 arithmetic has
one implementation, the f32 mode of the segment kernel
(search.segment_searcher), which tests/test_lucene_parity.py pins to an
independent numpy oracle; rank order agrees between the two modes
except at float32-rounding ties.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import K1
from ..index.builder import InvertedIndex
from .bm25 import idf_sql, score_sql
from .payloads import payload_check_tf_sql, payload_factor_sql
from .query import (
    Bool, Boost, ConstantScore, DisMax, FieldExists, FieldTerm, Fuzzy,
    Interval, MatchAll,
    MultiPhrase, PayloadCheck, PayloadScore, Phrase, PhrasePositions,
    PhraseWildcard,
    Prefix, Query,
    Regexp, ReversedWildcard, SpanNear,
    SpanNot, SpanOr,
    Synonym, Term, TermInSet, TermRange, Wildcard, collect_terms,
    osa_le1_sql, osa_le2_sql, rewrite,
)


def _like_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")


def wildcard_to_like(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        else:
            out.append(_like_escape(ch))
    return "".join(out)


MAX_CLAUSE_COUNT = 1024  # IndexSearcher.maxClauseCount (IndexSearcher.java:91)


class TooManyClauses(ValueError):
    pass


def term_predicate(q: Query):
    """Column predicate over a ``term`` column for multi-term queries
    (the term-dictionary scan of MultiTermQuery.rewrite,
    SEARCH/MultiTermQuery.java:66) — shared by the naive engine and the
    segment searcher's driver-side expansion. None for non-multi-term
    nodes."""
    t = F.col("term")
    if isinstance(q, Prefix):
        return t.like(_like_escape(q.prefix) + "%")
    if isinstance(q, ReversedWildcard):
        # ReversedWildcardFilterFactory strategy: evaluate the reversed
        # pattern against the reversed term, so a leading wildcard
        # becomes a trailing one ('*tion' -> reverse(term) LIKE
        # 'noit%'). With the reversed tokens materialized at index
        # build (as the Solr factory does) this is a pushable
        # StringStartsWith on the term dictionary instead of a full
        # dictionary regex sweep.
        return F.reverse(t).like(wildcard_to_like(q.pattern[::-1]))
    if isinstance(q, Wildcard):
        return t.like(wildcard_to_like(q.pattern))
    if isinstance(q, TermRange):
        lo = t >= q.lower if q.include_lower else t > q.lower
        hi = t <= q.upper if q.include_upper else t < q.upper
        return lo & hi
    if isinstance(q, TermInSet):
        return t.isin(list(q.terms))
    if isinstance(q, Fuzzy):
        # exact OSA accept set of Lucene's transposition automata
        # (LevenshteinAutomata.java:36): the SAME SQL text as the
        # oracle (query.osa_le{1,2}_sql — decomposition proof in the
        # Fuzzy docstring), compiled to a Column via F.expr
        if q.transpositions and q.max_edits == 1:
            return F.expr(osa_le1_sql("term", q.term))
        if q.transpositions and q.max_edits == 2:
            return F.expr(osa_le2_sql("term", q.term))
        return F.levenshtein(t, F.lit(q.term)) <= q.max_edits
    if isinstance(q, Regexp):
        # Lucene RegExp DIALECT (RegExp.java grammar — '^'/'$'
        # literal, '\\d' = letter d, '<n-m>' intervals, a&b / ~a
        # automaton algebra as predicate AND/NOT where they span a
        # whole (sub)pattern) translated via search/regexp.py, then
        # full-term anchored like the automaton match
        # (RegexpQuery.java:48); unanchored rlike is substring search
        from .regexp import lucene_regexp_to_tree

        def _build(node):
            kind = node[0]
            if kind == "re":
                return t.rlike("^(?:" + node[1] + ")$")
            if kind in ("and", "or"):
                c = _build(node[1][0])
                for x in node[1][1:]:
                    c = (c & _build(x)) if kind == "and" \
                        else (c | _build(x))
                return c
            return ~_build(node[1])
        return _build(lucene_regexp_to_tree(q.pattern))
    return None


class TermWeights:
    """The createWeight step both searchers share (SEARCH/
    IndexSearcher.java:909-926): per-term (df, ttf) frozen at compile
    time, idf, and the driver-side term-dictionary rewrites.  ``index``
    is any index handle with a ``term_stats`` frame (term, df, ttf) and
    a ``doc_count``: the in-memory InvertedIndex or an on-disk
    SegmentIndex."""

    def __init__(self, index):
        self._stats_index = index
        self._stats_cache: dict[str, tuple[int, int]] = {}

    def _resolve_stats(self, terms) -> dict[str, tuple[int, int]]:
        """(df, ttf) per term: one term_stats collect for the terms not
        cached yet; absent terms are (0, 0)."""
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            rows = (self._stats_index.term_stats
                    .filter(F.col("term").isin(missing))
                    .select("term", "df", "ttf").collect())
            found = {r["term"]: (int(r["df"]), int(r["ttf"]))
                     for r in rows}
            for t in missing:
                self._stats_cache[t] = found.get(t, (0, 0))
        return {t: self._stats_cache[t] for t in terms}

    def _resolve_dfs(self, terms) -> dict[str, int]:
        return {t: st[0] for t, st in self._resolve_stats(terms).items()}

    def idf(self, df: int) -> float:
        n = self._stats_index.doc_count
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def expand_terms(self, q: Query) -> tuple:
        """The dictionary terms a multi-term query matches, sorted
        (MultiTermQuery.rewrite): one filtered scan of the small
        term_stats table, capped at maxClauseCount
        (IndexSearcher.TooManyClauses)."""
        pred = term_predicate(q)
        if pred is None:
            raise TypeError(f"not a multi-term query: {type(q).__name__}")
        rows = (self._stats_index.term_stats.filter(pred)
                .select("term").limit(MAX_CLAUSE_COUNT + 1).collect())
        if len(rows) > MAX_CLAUSE_COUNT:
            raise TooManyClauses(
                f"{type(q).__name__} expands past {MAX_CLAUSE_COUNT}")
        return tuple(sorted(r["term"] for r in rows))

    def scoring_bool_rewrite(self, q: Query) -> Bool:
        """MultiTermQuery.SCORING_BOOLEAN_REWRITE (ScoringRewrite.java:
        41): a SHOULD disjunction of TermQueries over the expanded
        terms, so each matched term contributes its own BM25, unlike
        the default CONSTANT_SCORE rewrite."""
        return Bool(should=tuple(Term(t) for t in self.expand_terms(q)))

    def _expand_phrase_wildcard(self, q: PhraseWildcard) -> MultiPhrase:
        """Expand pattern slots against the term dictionary
        (PhraseWildcardQuery.java:63 walks a TermsEnum per multi-term
        slot with a maxMultiTermExpansions cap): one bounded lookup per
        pattern slot, the first max_expansions terms in term order."""
        slots = []
        for s, is_pat in zip(q.slots, q.pattern_slots()):
            if not is_pat:
                slots.append((s,))
                continue
            rows = (self._stats_index.term_stats
                    .filter(F.col("term").like(wildcard_to_like(s)))
                    .select("term").orderBy("term")
                    .limit(int(q.max_expansions)).collect())
            slots.append(tuple(r["term"] for r in rows))
        return MultiPhrase(tuple(slots))


class Searcher(TermWeights):
    def __init__(self, ix: InvertedIndex, query_cache=None,
                 similarity=None):
        """``query_cache``: optional search.cache.LRUQueryCache — caches
        filter-context match sets per query node (LRUQueryCache.java:90
        with UsageTrackingQueryCachingPolicy-style admission).

        ``similarity``: optional non-default similarity from
        search.similarities (IndexSearcher.setSimilarity analogue,
        SEARCH/IndexSearcher.java).  ``None`` keeps the built-in BM25
        path; a similarity instance reroutes Term/Synonym/Phrase/
        MultiPhrase clause scoring through its portable-SQL formula
        (the same text the DuckDB oracle evaluates)."""
        super().__init__(ix)
        self.ix = ix
        self.query_cache = query_cache
        self.sim = similarity
        self._field_df_cache: dict[tuple[str, str], int] = {}

    def _field_df(self, fld: str, value: str) -> int:
        """docFreq of an exact stored-field value (FieldTerm stats),
        frozen per (field, value) like _resolve_stats."""
        key = (fld, value)
        if key not in self._field_df_cache:
            self._field_df_cache[key] = int(
                self.ix.source.filter(F.col(fld) == value).count())
        return self._field_df_cache[key]

    def common_terms(self, terms: tuple, max_term_frequency: float = 0.01,
                     low_msm: int = 0) -> Query:
        """CommonTermsQuery.buildQuery
        (lucene/queries/src/java/org/apache/lucene/queries/
        CommonTermsQuery.java:158-219): terms are classified by actual
        docFreq at compile time — high-frequency if
        ``df > ceil(maxTermFrequency * maxDoc)`` (or ``df > cutoff``
        when the cutoff is an absolute count >= 1) — then composed as
        ``MUST(low-freq SHOULD bool) + SHOULD(high-freq bool)``; with
        no low-frequency terms the high group becomes a plain
        conjunction.  Absent terms classify low (termStates == null
        branch, CommonTermsQuery.java:164-166).  Returns the rewritten
        Bool AST; run it with topk()/count() as usual."""
        st = self._resolve_stats(set(terms))
        n = self.ix.doc_count
        if max_term_frequency >= 1.0:
            cutoff = float(max_term_frequency)
        else:
            cutoff = math.ceil(max_term_frequency * float(n))
        low = tuple(Term(t) for t in terms if st[t][0] <= cutoff)
        high = tuple(Term(t) for t in terms if st[t][0] > cutoff)
        if not low:
            # all-high fallback: conjunction (CommonTermsQuery.java:189-197)
            return Bool(must=high)
        low_bool = Bool(should=low, minimum_should_match=low_msm)
        if not high:
            return low_bool
        return Bool(must=(low_bool,), should=(Bool(should=high),))

    # -- clause scoring -----------------------------------------------------

    def _score_expr(self, tf_expr: str, idf_value: float) -> F.Column:
        return F.expr(
            score_sql(tf_expr, "qdl", repr(idf_value), self.ix.avgdl_sql))

    def _clause_score(self, tf_expr: str,
                      term_stats: list[tuple[int, int]]) -> F.Column:
        """Similarity-dispatched clause score over frozen per-term
        (df, ttf) stats.  Default (BM25) keeps the historical summed-idf
        literal; a pluggable similarity emits its own formula with the
        per-term weights inlined as python-double literals
        (MultiSimilarity.MultiSimScorer shape for multi-term clauses,
        MultiSimilarity.java:66-72)."""
        if self.sim is None:
            idf_sum = sum(self.idf(df) for df, _ in term_stats)
            return self._score_expr(tf_expr, idf_sum)
        ws = [self.sim.weight(df, ttf, self.ix.doc_count, self.ix.sum_ttf)
              for df, ttf in term_stats]
        return F.expr(self.sim.doc_score_sql(
            tf_expr, "qdl", [repr(w) for w in ws], self.ix.avgdl_sql))

    def _with_qdl(self, df: DataFrame) -> DataFrame:
        return df.join(self.ix.docs.select("docid", "qdl"), "docid")

    def _scored_tf(self, freqs: DataFrame, term_stats: list) -> DataFrame:
        """(docid, score) from a (docid, tf) frame: the clause score
        over each doc's quantized length."""
        return self._with_qdl(freqs).select(
            "docid", self._clause_score("tf", term_stats).alias("score"))

    def scored(self, q: Query) -> DataFrame:
        """(docid long, score double) — one row per matching doc.

        The tree is canonicalized first (query.rewrite — the
        BooleanQuery.rewrite / IndexSearcher.rewrite fixpoint), and the
        stats of all its literal terms are frozen by one lookup."""
        q = rewrite(q)
        self._resolve_stats(collect_terms(q))
        ix = self.ix
        if isinstance(q, Term):
            st = self._resolve_stats({q.term})
            if st[q.term][0] == 0:
                return self._empty_scored()
            base = ix.postings.filter(F.col("term") == q.term)
            return self._scored_tf(base.select("docid", "tf"), [st[q.term]])

        if isinstance(q, Synonym):
            st = self._resolve_stats(set(q.terms))
            # pseudo-term stats: df = max, ttf = sum (SynonymQuery.java:55)
            df_max = max((df for df, _ in st.values()), default=0)
            ttf_sum = sum(ttf for _, ttf in st.values())
            if df_max == 0:
                return self._empty_scored()
            base = (ix.postings.filter(F.col("term").isin(list(q.terms)))
                    .groupBy("docid").agg(F.sum("tf").alias("tf")))
            return self._scored_tf(base, [(df_max, ttf_sum)])

        if isinstance(q, Phrase) and q.slop == 0:
            # an exact phrase is PhrasePositions at offsets 0..n-1
            q = PhrasePositions(q.terms, tuple(range(len(q.terms))))

        if isinstance(q, (Phrase, PhrasePositions)):
            return self._scored_phrase(q)

        if isinstance(q, MultiPhrase):
            return self._scored_multiphrase(q)

        if isinstance(q, PhraseWildcard):
            return self._scored_multiphrase(self._expand_phrase_wildcard(q))

        if isinstance(q, (SpanNear, SpanOr, SpanNot, FieldExists)):
            # spans / field-exists score under the constant-score rewrite
            # (see query.py)
            return self.scored(ConstantScore(q, 1.0))

        if isinstance(q, FieldTerm):
            # StrField term query (query.FieldTerm): per-doc constant
            # idf / (1 + k1); df/N frozen at compile time like
            # createWeight's TermStatistics. Same SQL expression text
            # as the oracle -> identical IEEE754 double graph.
            df = self._field_df(q.field, q.value)
            if df == 0:
                return self._empty_scored()
            # CAST to DOUBLE: with bare int literals Spark types the
            # formula's 0.5 constants as DECIMAL and decimal division
            # rounds at scale 6 (5.5/3.5 -> 1.571429), a ~1e-6 score
            # error the oracle (double math) doesn't make.
            sc = (f"({idf_sql(f'CAST({df} AS DOUBLE)', f'CAST({ix.doc_count} AS DOUBLE)')})"
                  f" / (1e0 + {K1!r})")
            return (ix.source.filter(F.col(q.field) == q.value)
                    .select("docid", F.expr(sc).alias("score")))

        if isinstance(q, Bool):
            return self._scored_bool(q)

        if isinstance(q, DisMax):
            parts = [self.scored(c) for c in q.clauses]
            u = reduce(DataFrame.unionAll, parts)
            agg = u.groupBy("docid").agg(
                F.max("score").alias("mx"), F.sum("score").alias("sm"))
            tb = float(q.tiebreak)
            return agg.select(
                "docid",
                F.expr(f"mx + {tb!r} * (sm - mx)").alias("score"))

        if isinstance(q, Boost):
            sub = self.scored(q.query)
            return sub.select(
                "docid", F.expr(f"score * {float(q.boost)!r}").alias("score"))

        if isinstance(q, ConstantScore):
            m = self.matching(q.query)
            return m.select(
                "docid", F.lit(float(q.score)).cast("double").alias("score"))

        if isinstance(q, MatchAll):
            return ix.docs.select(
                "docid", F.lit(1.0).cast("double").alias("score"))

        if isinstance(q, (Prefix, Wildcard, TermRange, TermInSet, Fuzzy,
                          Regexp)):
            # multi-term under constant-score rewrite
            # (MultiTermQueryConstantScoreWrapper)
            return self.scored(ConstantScore(q, 1.0))

        if isinstance(q, Interval):
            return self._scored_interval(q)

        if isinstance(q, PayloadScore):
            # PayloadScoreQuery.java:52 — payload factor from the
            # matched occurrences (PayloadFunction fold over the shared
            # position-keyed encoder, payloads.py), optionally times
            # the wrapped span's BM25 score (includeSpanScore)
            st = self._resolve_stats({q.term})
            if st[q.term][0] == 0:
                return self._empty_scored()
            base = self.ix.postings.filter(F.col("term") == q.term)
            pay = F.expr(payload_factor_sql("positions", "tf", q.func,
                                            "spark"))
            if q.include_span_score:
                score = pay * self._clause_score("tf", [st[q.term]])
            else:
                score = pay
            return (self._with_qdl(base.select("docid", "tf", "positions"))
                    .select("docid", score.alias("score")))

        if isinstance(q, PayloadCheck):
            # SpanPayloadCheckQuery.java:56 — freq = accepted-span
            # count (occurrences whose encoder payload equals the
            # required value); idf from the unfiltered term stats
            st = self._resolve_stats({q.term})
            if st[q.term][0] == 0:
                return self._empty_scored()
            tf2 = F.expr(payload_check_tf_sql("positions", q.payload,
                                              "spark"))
            base = (self.ix.postings.filter(F.col("term") == q.term)
                    .select("docid", tf2.alias("tf"))
                    .filter(F.col("tf") > 0))
            return self._scored_tf(base, [st[q.term]])

        raise TypeError(f"unsupported query node {type(q).__name__}")

    def _empty_scored(self) -> DataFrame:
        return (self.ix.docs.select("docid")
                .filter(F.lit(False))
                .select("docid", F.lit(0.0).cast("double").alias("score")))

    def _sloppy_udf(self, slop: int):
        """Vectorized UDF: per-doc position arrays -> exact sloppy freq
        (SloppyPhraseMatcher traversal + order-independent rational
        accumulation — see sloppy.py). Runs only on docs that already
        passed the docid intersection (TwoPhaseIterator shape)."""
        import pandas as pd

        from .sloppy import (
            chain_freqs_2_vec, sloppy_freq_f64, sloppy_match_lengths,
        )

        def f(*cols):
            if len(cols) == 2:
                # 2-term hot path: lockstep-vectorized chain (exact
                # same rational freq; property-tested vs the matcher)
                return pd.Series(chain_freqs_2_vec(
                    list(cols[0]), list(cols[1]), slop))
            out = []
            for row in zip(*cols):
                mls = sloppy_match_lengths(list(row), slop)
                out.append(sloppy_freq_f64(mls, slop))
            return pd.Series(out, dtype="float64")

        return F.pandas_udf(f, "double")

    def _positions(self, terms, optional=frozenset()) -> DataFrame:
        """docid + pos0..pos{n-1}: the terms' position arrays joined on
        docid, an inner join except for ``optional`` terms, which
        left-join (null where absent). Every positional query runs on
        this frame (TwoPhaseIterator shape: the docid intersection
        first, positions checked only on the survivors)."""
        joined = None
        for i, t in enumerate(terms):
            p = (self.ix.postings.filter(F.col("term") == t)
                 .select("docid", F.col("positions").alias(f"pos{i}")))
            joined = p if joined is None else joined.join(
                p, "docid", "left" if t in optional else "inner")
        return joined

    @staticmethod
    def _exact_freq(offsets) -> F.Column:
        """Exact-phrase freq over pos0..posN: the pos0 entries x with
        x + (offsets[i] - offsets[0]) in pos{i} for every i
        (ExactPhraseMatcher)."""
        conds = " AND ".join(
            f"array_contains(pos{i}, x + {o - offsets[0]})"
            for i, o in enumerate(offsets) if i)
        freq = f"size(filter(pos0, x -> {conds}))" if conds else "size(pos0)"
        return F.expr(freq).cast("long")

    def _scored_interval(self, q: Interval) -> DataFrame:
        """IntervalQuery: docid intersection over the source's required
        terms pre-filters candidates (TwoPhaseIterator shape); the
        minimal-interval algebra (intervals.py) runs in one vectorized
        UDF over the candidates' position arrays only — never the full
        corpus."""
        import pandas as pd

        from .intervals import (
            all_terms, interval_freq, required_terms, saturation_score,
        )
        req = sorted(required_terms(q.source))
        if not req:
            raise TypeError("interval source has no required terms")
        # required terms first: the base frame must be a required
        # posting list, optional terms (notContaining's small side)
        # left-join onto it
        opt = all_terms(q.source) - set(req)
        allt = req + sorted(opt)
        st = self._resolve_stats(set(allt))
        if any(st[t][0] == 0 for t in req):
            return self._empty_scored()
        src, pivot, boost = q.source, float(q.pivot), float(q.boost)

        def f(*cols):
            out = []
            for row in zip(*cols):
                positions = {t: list(v) for t, v in zip(allt, row)
                             if v is not None}
                out.append(saturation_score(
                    interval_freq(src, positions), pivot, boost))
            return pd.Series(out, dtype="float64")

        udf = F.pandas_udf(f, "double")
        return (self._positions(allt, opt).select(
            "docid",
            udf(*[F.col(f"pos{i}") for i in range(len(allt))])
            .alias("score"))
            .filter(F.col("score") > 0.0))

    def _scored_phrase(self, q: Phrase | PhrasePositions) -> DataFrame:
        """PhrasePositions (PhraseQuery.Builder.add(Term, position): term
        i sits at base + positions[i] - positions[0]; an exact Phrase
        arrives here with positions 0..n-1) or a sloppy Phrase."""
        terms = list(q.terms)
        st = self._resolve_stats(set(terms))
        if any(st[t][0] == 0 for t in terms):
            return self._empty_scored()
        if isinstance(q, PhrasePositions):
            tf = self._exact_freq(q.positions)
        else:
            if len(set(terms)) != len(terms):
                raise TypeError("sloppy phrase requires distinct terms "
                                "(no-repeats case)")
            tf = self._sloppy_udf(q.slop)(
                *[F.col(f"pos{i}") for i in range(len(terms))])
        out = (self._positions(terms).select("docid", tf.alias("tf"))
               .filter(F.col("tf") > 0))
        # per-term stats combined by the similarity: BM25 sums idfs in
        # double (BM25Similarity.idfExplain(termStats[])); pluggable
        # similarities follow MultiSimScorer (one addend per term)
        return self._scored_tf(out, [st[t] for t in terms])

    def _scored_multiphrase(self, q: MultiPhrase) -> DataFrame:
        all_terms = [t for slot in q.slots for t in slot]
        st = self._resolve_stats(set(all_terms))
        # a slot with NO indexed alternative can never match
        if any(all(st[t][0] == 0 for t in slot) for slot in q.slots):
            return self._empty_scored()
        # df=0 alternatives contribute no stats (engine skips them)
        stats_list = [st[t] for t in all_terms if st[t][0] > 0]
        joined = None
        for i, slot in enumerate(q.slots):
            # union the alternatives' position lists (UnionPostingsEnum)
            p = (self.ix.postings
                 .filter(F.col("term").isin([t for t in slot]))
                 .groupBy("docid")
                 .agg(F.sort_array(F.array_distinct(
                     F.flatten(F.collect_list("positions"))))
                     .alias(f"pos{i}")))
            joined = p if joined is None else joined.join(p, "docid")
        out = (joined.select(
            "docid", self._exact_freq(range(len(q.slots))).alias("tf"))
            .filter(F.col("tf") > 0))
        return self._scored_tf(out, stats_list)

    @staticmethod
    def _span_near_expr(q: SpanNear) -> str:
        """Predicate on a start position a0 of pos0: nested-lambda
        EXISTS over pos1..pos{k-1} for ordered positions with total gap
        <= slop."""
        k = len(q.terms)
        inner = (f"a{k - 1} > a{k - 2} AND "
                 f"a{k - 1} - a0 - {k - 1} <= {q.slop}")
        expr = f"exists(pos{k - 1}, a{k - 1} -> {inner})"
        for i in range(k - 2, 0, -1):
            expr = f"exists(pos{i}, a{i} -> a{i} > a{i - 1} AND {expr})"
        return expr

    def _scored_bool(self, q: Bool) -> DataFrame:
        n_clauses = (len(q.must) + len(q.should) + len(q.must_not)
                     + len(q.filter))
        if n_clauses > MAX_CLAUSE_COUNT:
            raise TooManyClauses(
                f"{n_clauses} clauses > maxClauseCount {MAX_CLAUSE_COUNT}")
        musts = [self.scored(m) for m in q.must]
        base = None
        if musts:
            base = musts[0].select("docid", F.col("score").alias("s0"))
            for i, m in enumerate(musts[1:], start=1):
                base = base.join(
                    m.select("docid", F.col("score").alias(f"s{i}")), "docid")
            total = "(" + " + ".join(f"s{i}" for i in range(len(musts))) + ")"
            base = base.select("docid", F.expr(total).alias("score"))

        if q.should:
            sh = reduce(DataFrame.unionAll, [self.scored(s) for s in q.should])
            sh = sh.groupBy("docid").agg(
                F.sum("score").alias("opt"), F.count("*").alias("nm"))
            if base is not None:
                base = base.join(sh, "docid", "left")
                if q.minimum_should_match > 0:
                    base = base.filter(
                        F.coalesce(F.col("nm"), F.lit(0))
                        >= q.minimum_should_match)
                base = base.select(
                    "docid",
                    (F.col("score") + F.coalesce(F.col("opt"), F.lit(0.0)))
                    .alias("score"))
            else:
                msm = max(q.minimum_should_match, 1)
                base = (sh.filter(F.col("nm") >= msm)
                        .select("docid", F.col("opt").alias("score")))
        flts = list(q.filter)
        if base is None:
            if not flts:
                raise ValueError("Bool query with no positive clauses")
            base = (self.matching(flts.pop(0))
                    .select("docid", F.lit(0.0).cast("double").alias("score")))
        for f in flts:
            base = base.join(self.matching(f), "docid", "left_semi")
        for x in q.must_not:
            base = base.join(self.matching(x), "docid", "left_anti")
        return base

    # -- non-scoring match sets ---------------------------------------------

    def matching(self, q: Query) -> DataFrame:
        """(docid) distinct — FILTER / MUST_NOT / constant-score contexts."""
        q = rewrite(q)
        if self.query_cache is not None:
            return self.query_cache.get_or_compute(
                q, lambda: self._matching_uncached(q))
        return self._matching_uncached(q)

    def _matching_uncached(self, q: Query) -> DataFrame:
        pred = term_predicate(q)
        if pred is not None:
            return (self.ix.postings.filter(pred)
                    .select("docid").distinct())
        if isinstance(q, Term):
            return (self.ix.postings.filter(F.col("term") == q.term)
                    .select("docid"))
        if isinstance(q, SpanNear):
            return (self._span_starts(q).filter(F.size("starts") > 0)
                    .select("docid"))
        if isinstance(q, SpanOr):
            # SpanOrQuery: union of clause match sets
            parts = [self.matching(c) for c in q.clauses]
            return reduce(DataFrame.unionAll, parts).distinct()
        if isinstance(q, SpanNot):
            # SpanNotQuery (pre/post=0): docs with an include span that
            # does not share a start position with any exclude span.
            # Position-granular realization: exclude docs where every
            # include start is covered — here simplified to doc
            # granularity minus docs whose include matches are all
            # excluded; with pre/post=0 and distinct-term spans, doc
            # has a surviving span iff it matches include and NOT
            # (every include start == an exclude start) — realized as
            # include minus (include ∩ exclude-all) via position sets
            return self._matching_span_not(q)
        if isinstance(q, FieldExists):
            # DocValuesFieldExistsQuery: stored column non-null
            return (self.ix.source
                    .filter(F.col(q.field).isNotNull())
                    .select("docid"))
        if isinstance(q, FieldTerm):
            return (self.ix.source
                    .filter(F.col(q.field) == q.value)
                    .select("docid"))
        if isinstance(q, MatchAll):
            return self.ix.docs.select("docid")
        return self.scored(q).select("docid")

    def _span_starts(self, q: Query) -> DataFrame | None:
        """(docid, starts array<long>) of span start positions, or None
        when the node is not a span primitive. Used by SpanNear
        matching and SpanNot."""
        if isinstance(q, Term):
            return (self.ix.postings.filter(F.col("term") == q.term)
                    .select("docid", F.col("positions").alias("starts")))
        if isinstance(q, SpanNear):
            dfs = self._resolve_dfs(set(q.terms))
            if any(dfs[t] == 0 for t in q.terms):
                return (self.ix.docs.select("docid").filter(F.lit(False))
                        .select("docid",
                                F.expr("array()").alias("starts")))
            starts = ("pos0" if len(q.terms) == 1 else
                      f"filter(pos0, a0 -> {self._span_near_expr(q)})")
            return self._positions(q.terms).select(
                "docid", F.expr(starts).alias("starts"))
        return None

    def _matching_span_not(self, q: SpanNot) -> DataFrame:
        inc = self._span_starts(q.include)
        exc = self._span_starts(q.exclude)
        if inc is None or exc is None:
            raise TypeError("SpanNot needs span primitives "
                            "(Term / SpanNear)")
        j = inc.join(exc.select("docid",
                                F.col("starts").alias("xstarts")),
                     "docid", "left")
        surv = ("size(filter(starts, s -> xstarts IS NULL OR "
                "NOT array_contains(xstarts, s))) > 0")
        return j.filter(F.expr(surv)).select("docid")

    # -- top-k ----------------------------------------------------------------

    def topk(self, q: Query, k: int = 10) -> DataFrame:
        """Top-k by (rounded score DESC, docid ASC) — rounding first makes
        the ordering identical between engine and DuckDB oracle at ulp
        noise levels; ties inside a rounded score break by docid exactly
        like HitQueue.lessThan."""
        s = self.scored(q).select(
            "docid", F.round(F.col("score"), 6).alias("score"))
        return (s.orderBy(F.desc("score"), F.asc("docid"))
                .limit(k)
                .select(F.col("docid").alias("doc_id"), "score"))

    def count(self, q: Query) -> DataFrame:
        """TotalHitCountCollector analogue."""
        return self.matching(q).agg(F.count("*").cast("long").alias("n_hits"))

    # -- explanations (Weight.explain / CheckHits.verifyExplanation) ---------

    def explain(self, q: Query, docid: int) -> dict:
        """Score breakdown for one document (Explanation tree analogue,
        SEARCH/Weight.java explain). Self-consistency contract: the
        returned ``value`` equals the scored() value for the doc
        (CheckHits.verifyExplanation, CheckHits.java:330)."""
        row = (self.scored(q).filter(F.col("docid") == docid)
               .select("score").first())
        value = float(row["score"]) if row is not None else 0.0
        node = {"value": value, "matched": row is not None,
                "description": type(q).__name__}
        if isinstance(q, Term):
            dfs = self._resolve_dfs({q.term})
            tf_row = (self.ix.postings
                      .filter((F.col("term") == q.term)
                              & (F.col("docid") == docid))
                      .select("tf").first())
            dl_row = (self.ix.docs.filter(F.col("docid") == docid)
                      .select("qdl").first())
            node["details"] = {
                "term": q.term,
                "df": dfs[q.term],
                "idf": self.idf(dfs[q.term]) if dfs[q.term] else 0.0,
                "tf": int(tf_row["tf"]) if tf_row else 0,
                "qdl": int(dl_row["qdl"]) if dl_row else None,
                "avgdl": self.ix.avgdl,
                "formula": "idf * tf / (tf + k1*((1-b) + b*qdl/avgdl))",
            }
        elif isinstance(q, Bool):
            node["details"] = {
                "must": [self.explain(m, docid) for m in q.must],
                "should": [self.explain(s1, docid) for s1 in q.should],
                "must_not_matched": [
                    bool(self.matching(x)
                         .filter(F.col("docid") == docid).first())
                    for x in q.must_not],
            }
        return node
