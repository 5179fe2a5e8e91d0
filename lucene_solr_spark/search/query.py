"""Query AST — the engine-side analogue of Lucene's Query tree.

Each node maps to a documented reference operator (SURVEY.md §2.2).
Semantics notes that both backends (Spark DataFrame compiler and the
DuckDB oracle-SQL generator) must honor identically:

- Term        TermQuery (SEARCH/TermQuery.java:108): BM25-scored postings.
- Bool        BooleanQuery (SEARCH/BooleanQuery.java:75): score = sum of
              scoring clauses (MUST + matching SHOULD); MUST_NOT excludes
              (ReqExclScorer), FILTER matches without scoring
              (ScoreMode.COMPLETE_NO_SCORES), minimumNumberShouldMatch.
- Phrase      exact PhraseQuery (SEARCH/PhraseQuery.java:70,
              ExactPhraseMatcher.java:36): freq = number of positions p
              with term_i at p+i for all i; idf = sum of per-term idfs
              (double sum of float idfs, BM25Similarity.java:172-181).
- Synonym     SynonymQuery (SEARCH/SynonymQuery.java:203-219):
              pseudo-term with df = max(df_i), per-doc freq = sum tf_i.
- Prefix / Wildcard / TermRange / TermInSet / Fuzzy / Regexp
              multi-term queries under the constant-score rewrite
              (MultiTermQueryConstantScoreWrapper): every matching doc
              scores boost * 1.0.
- DisMax      DisjunctionMaxQuery (SEARCH/DisjunctionMaxQuery.java:45):
              max(clause scores) + tiebreak * (sum - max).
- Boost       BoostQuery: multiply subquery scores.
- ConstantScore  ConstantScoreQuery: fixed score for matching docs.
- MatchAll    MatchAllDocsQuery: every doc, score 1.0.

Tie-breaking everywhere: score DESC, docid ASC
(SEARCH/HitQueue.java:76-79, TopDocs.merge TopDocs.java:33-34).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Tuple, Union

Query = Union[
    "Term", "Bool", "Phrase", "MultiPhrase", "PhraseWildcard",
    "SpanNear", "SpanOr", "SpanNot",
    "Synonym", "Prefix", "Wildcard", "TermRange", "TermInSet", "Fuzzy",
    "Regexp", "DisMax", "Boost", "ConstantScore", "MatchAll", "FieldExists",
    "FieldTerm", "PayloadScore", "PayloadCheck",
]


@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class Bool:
    must: Tuple[Query, ...] = ()
    should: Tuple[Query, ...] = ()
    must_not: Tuple[Query, ...] = ()
    filter: Tuple[Query, ...] = ()
    minimum_should_match: int = 0


@dataclass(frozen=True)
class Phrase:
    """PhraseQuery. ``slop=0`` = exact (ExactPhraseMatcher.java:36);
    ``slop>0`` = sloppy (SloppyPhraseMatcher.java:56): freq is the sum of
    1/(1+matchLength) over the matches found by the advance-least-
    position traversal, and the doc is scored by BM25 on that (float)
    freq. Both backends implement the reference's no-repeats traversal
    exactly (terms must be distinct); see engine._sloppy_* / the
    segment kernel's matcher."""

    terms: Tuple[str, ...]
    slop: int = 0


@dataclass(frozen=True)
class PhrasePositions:
    """PhraseQuery built with EXPLICIT term positions
    (PhraseQuery.Builder.add(Term, position), SEARCH/PhraseQuery.java
    builder — positions must be non-decreasing; gaps encode removed
    stopwords / position increments). A doc matches at base position p
    when term i occurs at p + (positions[i] - positions[0]); freq =
    number of such p, scored like an exact phrase (sum of idfs).
    Positions here must be STRICTLY increasing (equal positions are
    MultiPhrase's slot territory)."""

    terms: Tuple[str, ...]
    positions: Tuple[int, ...]

    def __post_init__(self):
        if len(self.terms) != len(self.positions):
            raise ValueError("terms/positions length mismatch")
        if any(b <= a for a, b in zip(self.positions,
                                      self.positions[1:])):
            raise ValueError("positions must be strictly increasing")


@dataclass(frozen=True)
class MultiPhrase:
    """Phrase with term alternatives per slot (MultiPhraseQuery,
    SEARCH/MultiPhraseQuery.java:56). freq = number of start positions
    p with SOME alternative of slot i at p+i for every i; idf = double
    sum of every alternative's idf (BM25Similarity.idfExplain over all
    terms, MultiPhraseQuery weight construction)."""

    slots: Tuple[Tuple[str, ...], ...]


@dataclass(frozen=True)
class PhraseWildcard:
    """Phrase with multi-term pattern slots (PhraseWildcardQuery,
    lucene/sandbox/src/java/org/apache/lucene/search/
    PhraseWildcardQuery.java:63). A slot containing ``*`` / ``?`` is a
    wildcard expanded against the term dictionary in term-sort order,
    capped at ``max_expansions`` (the sandbox query's
    ``maxMultiTermExpansions`` segment cap); the expanded query then
    matches and scores exactly as the equivalent MultiPhraseQuery."""

    slots: Tuple[str, ...]
    max_expansions: int = 128

    def pattern_slots(self) -> Tuple[bool, ...]:
        return tuple(("*" in s) or ("?" in s) for s in self.slots)


@dataclass(frozen=True)
class SpanNear:
    """Ordered proximity filter (SpanNearQuery,
    lucene/core/src/java/org/apache/lucene/search/spans/
    SpanNearQuery.java, in_order=true): matches docs containing
    positions p_1 < p_2 < ... < p_k for the k terms with total gap
    p_k - p_1 - (k-1) <= slop. Used in constant-score / FILTER
    contexts (our engine scores spans under the constant-score
    rewrite rather than Lucene's sloppyFreq)."""

    terms: Tuple[str, ...]
    slop: int = 0


@dataclass(frozen=True)
class Synonym:
    terms: Tuple[str, ...]


@dataclass(frozen=True)
class Prefix:
    prefix: str


@dataclass(frozen=True)
class Wildcard:
    pattern: str  # Lucene syntax: * = any run, ? = one char


@dataclass(frozen=True)
class ReversedWildcard(Wildcard):
    """Leading-wildcard query executed against the REVERSED term
    dictionary (Solr's ReversedWildcardFilterFactory,
    solr/core/src/java/org/apache/solr/analysis/
    ReversedWildcardFilterFactory.java: tokens are also indexed
    reversed so ``*tion`` rewrites to the trailing-wildcard ``noit*``
    over the reversed terms — a prefix scan instead of a full
    dictionary sweep). Semantics are identical to ``Wildcard`` (it IS
    a Wildcard for every matcher/oracle path); only the engine's
    term-dictionary predicate differs: ``reverse(term) LIKE
    reverse(pattern)``, which on a materialized reversed-term column
    is a pushable StringStartsWith at 100 TB scale."""


@dataclass(frozen=True)
class TermRange:
    lower: str
    upper: str
    include_lower: bool = True
    include_upper: bool = True


@dataclass(frozen=True)
class TermInSet:
    terms: Tuple[str, ...]


@dataclass(frozen=True)
class Fuzzy:
    """FuzzyQuery with transpositions=true (FuzzyQuery.java:56
    default). Lucene's semantics are the OSA / restricted
    Damerau-Levenshtein distance of its transposition-aware
    Levenshtein automata (LevenshteinAutomata.java:36): adjacent
    transposition is a primitive edit consuming an ORIGINAL-string
    pair, edits apply in parallel — LuceneLevenshteinDistance.java's
    own example: distance("ab", "bca") = 3, NOT 2.

    Both backends realize the automaton's accept set EXACTLY for
    max_edits <= 2 (the only values FuzzyQuery supports) via a closed
    form over the builtin ``levenshtein`` shared by Spark and DuckDB —
    see ``osa_distance`` for the reference DP and engine/oracle
    ``_term_pred`` for the decomposition:

      OSA(q, t) <= 2  iff
        lev(q, t) <= 2                                  (0 transp.)
        OR exists swap position i in q and j in {i-1, i, i+1}:
           t[j:j+2] == q[i+1] + q[i]
           AND lev(q[:i], t[:j]) + lev(q[i+2:], t[j+2:]) <= 1
                                                        (1 transp.)
        OR t in double_swap_variants(q)                 (2 transp.)

    (the 1-transposition case is exact because the OSA DP's
    transposition move goes d[i-2][j-2] -> d[i][j], so the alignment
    splits into an independent prefix + suffix each bounded by plain
    levenshtein, and a prefix alignment costs at least |i - j|;
    two OVERLAPPING swaps compose to a 3-window rotation, which is a
    delete+insert = lev 2, already inside the first branch).

    ``transpositions=False`` reproduces classic Levenshtein
    (FuzzyQuery(..., transpositions=false))."""

    term: str
    max_edits: int = 2
    transpositions: bool = True

    def __post_init__(self):
        # FuzzyQuery.java:103 rejects maxEdits outside
        # [0, LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE = 2]
        if not 0 <= self.max_edits <= 2:
            raise ValueError(
                f"max_edits must be 0..2, got {self.max_edits}")


def transposition_variants(term: str) -> Tuple[str, ...]:
    """Distinct single-adjacent-transposition variants of ``term``
    (excluding ``term`` itself)."""
    out: list = []
    for i in range(len(term) - 1):
        if term[i] != term[i + 1]:
            v = term[:i] + term[i + 1] + term[i] + term[i + 2:]
            if v != term and v not in out:
                out.append(v)
    return tuple(out)


def swap_positions(term: str) -> Tuple[int, ...]:
    """Positions i where swapping term[i], term[i+1] changes the
    string (the candidate OSA transposition sites)."""
    return tuple(i for i in range(len(term) - 1)
                 if term[i] != term[i + 1])


def double_swap_variants(term: str) -> Tuple[str, ...]:
    """Variants reachable by TWO transpositions of DISJOINT adjacent
    original-string pairs (i2 >= i1 + 2) — the exhaustive
    2-transposition/0-other-edit accept set of the OSA DP."""
    out: list = []
    ps = swap_positions(term)
    for a in range(len(ps)):
        for b in range(a + 1, len(ps)):
            i, j = ps[a], ps[b]
            if j < i + 2:
                continue
            v = list(term)
            v[i], v[i + 1] = v[i + 1], v[i]
            v[j], v[j + 1] = v[j + 1], v[j]
            v = "".join(v)
            if v != term and v not in out:
                out.append(v)
    return tuple(out)


def osa_distance(a: str, b: str) -> int:
    """Reference OSA / restricted Damerau-Levenshtein DP (the distance
    of Lucene's transposition automata; LuceneLevenshteinDistance.java
    semantics). Used by tests and the spell surfaces; the search path
    compiles the <=2 accept set to SQL instead (Fuzzy docstring)."""
    n, m = len(a), len(b)
    d = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n + 1):
        d[i][0] = i
    for j in range(m + 1):
        d[0][j] = j
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                          d[i - 1][j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[n][m]


@dataclass(frozen=True)
class Regexp:
    pattern: str


@dataclass(frozen=True)
class DisMax:
    clauses: Tuple[Query, ...]
    tiebreak: float = 0.0


@dataclass(frozen=True)
class Boost:
    query: Query
    boost: float


@dataclass(frozen=True)
class ConstantScore:
    query: Query
    score: float = 1.0


@dataclass(frozen=True)
class MatchAll:
    pass


@dataclass(frozen=True)
class SpanOr:
    """Union of span sub-clauses (SpanOrQuery, lucene/core/src/java/org/
    apache/lucene/search/spans/SpanOrQuery.java): a doc matches when any
    clause's spans match. Clauses are SpanNear trees or plain term
    tuples; used in constant-score / filter contexts like SpanNear."""

    clauses: Tuple[Query, ...]


@dataclass(frozen=True)
class SpanNot:
    """Spans of ``include`` that do not overlap a span of ``exclude``
    (SpanNotQuery, spans/SpanNotQuery.java, pre/post = 0): here realized
    at position granularity — an include match survives unless an
    exclude match occupies an overlapping position window."""

    include: Query
    exclude: Query


@dataclass(frozen=True)
class FieldExists:
    """Field-present filter (SEARCH/DocValuesFieldExistsQuery.java /
    NormsFieldExistsQuery): matches every doc whose stored column is
    non-null. Constant-score."""

    field: str


@dataclass(frozen=True)
class FieldTerm:
    """Exact-match TermQuery on a non-tokenized stored field — the
    analogue of a term query against a Solr ``StrField``
    (solr/core/src/java/org/apache/solr/schema/StrField.java: single
    raw token per value, ``omitNorms=true`` / ``omitTermFreqAndPositions``
    by default).  With freqs and norms omitted the BM25 scorer sees
    tf = 1 and a unit length factor, so the score collapses to the
    constant  idf / (1 + k1)  per matching doc (BM25Similarity.java
    score with freq=1, norm factor 1); Boost wraps multiply as usual.
    Collection statistics come from the stored column itself
    (df = docs with field == value, N = doc_count)."""

    field: str
    value: str


@dataclass(frozen=True)
class PayloadScore:
    """PayloadScoreQuery over a single span-term (lucene/queries/src/
    java/org/apache/lucene/queries/payloads/PayloadScoreQuery.java:52):
    score = span score * payload factor when ``include_span_score``
    (PayloadScoreQuery's includeSpanScore), else the payload factor
    alone.  The factor aggregates the per-occurrence payload values
    with a PayloadFunction — ``min`` / ``max`` / ``avg`` / ``sum``
    (payloads/{Min,Max,Average,Sum}PayloadFunction.java; Sum is the
    docFreq-independent fold of PayloadFunction.currentScore).

    Payload source: the reference attaches payloads during analysis
    (DelimitedPayloadTokenFilter.java:42 + a PayloadDecoder at query
    time).  The synthetic corpus has no in-band payload markup, so both
    backends derive the occurrence payload from the same deterministic
    position-keyed encoder  payload(pos) = 1 + (pos mod 7)  — the
    encoder is one shared SQL fragment (search/payloads.py) and is the
    pluggable analogue of the decoder slot."""

    term: str
    func: str = "avg"
    include_span_score: bool = True


@dataclass(frozen=True)
class PayloadCheck:
    """SpanPayloadCheckQuery over a single span-term (lucene/queries/
    src/java/org/apache/lucene/queries/payloads/
    SpanPayloadCheckQuery.java:56): only occurrences whose payload
    equals ``payload`` are accepted spans; docs with zero accepted
    spans do not match, and the scorer's freq is the accepted-span
    count (each 1-term span contributes sloppyFreq 1, so freq =
    matching-occurrence count).  Collection stats (idf) come from the
    underlying term unchanged — SpanWeight builds them from the span's
    termStates before payload filtering.  Payloads come from the same
    deterministic position-keyed encoder as PayloadScore
    (payload(pos) = 1 + (pos mod 7), search/payloads.py)."""

    term: str
    payload: int


@dataclass(frozen=True)
class Interval:
    """IntervalQuery (queries/intervals/IntervalQuery.java:73): matches
    docs where ``source`` (an intervals.ISource tree — the minimal-
    interval algebra in search/intervals.py) yields >=1 interval;
    score = boost * saturation(freq, pivot) with freq =
    sum 1/max(length - minExtent + 1, 1) over the minimal intervals
    (IntervalScorer.java:66-68)."""

    source: object
    pivot: float = 1.0
    boost: float = 1.0


def rewrite(q: Query) -> Query:
    """Query-tree canonicalization to fixpoint — the engine-side
    analogue of BooleanQuery.rewrite (SEARCH/BooleanQuery.java:235-430)
    + IndexSearcher.rewrite (IndexSearcher.java:757-764):

    - single-clause unwrap (one MUST or one SHOULD, nothing else);
    - duplicate SHOULD clauses fold into Boost(clause, n) when
      minimumNumberShouldMatch == 0 (scores are identical: n equal
      float64 addends == n * x exactly in IEEE754);
    - FILTER clauses duplicating a MUST are dropped;
    - MatchAll FILTER clauses are dropped when another positive clause
      constrains the match set;
    - Boost(1.0) unwraps, nested Boosts multiply
      (BoostQuery.rewrite);
    - single-clause DisMax unwraps (DisjunctionMaxQuery.rewrite).

    Semantics-preserving: both backends may run the rewritten or the
    raw tree and produce identical rows/scores.
    """
    if isinstance(q, Bool):
        must = tuple(rewrite(c) for c in q.must)
        should = tuple(rewrite(c) for c in q.should)
        must_not = tuple(rewrite(c) for c in q.must_not)
        filt = tuple(rewrite(c) for c in q.filter)
        filt = tuple(f for f in filt if f not in must)
        if must or should:
            filt = tuple(f for f in filt if not isinstance(f, MatchAll))
        if q.minimum_should_match == 0 and len(set(should)) < len(should):
            counts: dict = {}
            for s in should:
                counts[s] = counts.get(s, 0) + 1
            should = tuple(s if n == 1 else rewrite(Boost(s, float(n)))
                           for s, n in counts.items())
        if len(must) == 1 and not (should or must_not or filt):
            return must[0]
        if (len(should) == 1 and not (must or must_not or filt)
                and q.minimum_should_match <= 1):
            return should[0]
        return Bool(must, should, must_not, filt, q.minimum_should_match)
    if isinstance(q, Boost):
        sub = rewrite(q.query)
        if q.boost == 1.0:
            return sub
        if isinstance(sub, Boost):
            return Boost(sub.query, sub.boost * q.boost)
        return Boost(sub, q.boost)
    if isinstance(q, DisMax):
        cl = tuple(rewrite(c) for c in q.clauses)
        if len(cl) == 1:
            return cl[0]
        return DisMax(cl, q.tiebreak)
    if isinstance(q, ConstantScore):
        return ConstantScore(rewrite(q.query), q.score)
    return q


def collect_terms(q: Query) -> set:
    """All literal terms referenced by the tree (for stats resolution;
    TermInSet is a multi-term query, resolved by dictionary expansion)."""
    if isinstance(q, Term):
        return {q.term}
    if isinstance(q, (Phrase, PhrasePositions, Synonym, SpanNear)):
        return set(q.terms)
    if isinstance(q, MultiPhrase):
        return {t for slot in q.slots for t in slot}
    if isinstance(q, PhraseWildcard):
        # literal slots only — pattern slots resolve at expansion time
        return {s for s, is_pat in zip(q.slots, q.pattern_slots())
                if not is_pat}
    if isinstance(q, Bool):
        out = set()
        for sub in (*q.must, *q.should, *q.must_not, *q.filter):
            out |= collect_terms(sub)
        return out
    if isinstance(q, (DisMax, SpanOr)):
        out = set()
        for sub in q.clauses:
            out |= collect_terms(sub)
        return out
    if isinstance(q, SpanNot):
        return collect_terms(q.include) | collect_terms(q.exclude)
    if isinstance(q, (Boost, ConstantScore)):
        return collect_terms(q.query)
    if isinstance(q, PayloadScore):
        return {q.term}
    return set()


def _sq(s: str) -> str:
    return s.replace("'", "''")


def osa_le1_sql(col: str, s: str) -> str:
    """Boolean SQL (portable Spark/DuckDB): OSA(col, s) <= 1 — exact
    (lev <= 1 plus the single-adjacent-transposition variants). The
    ONE shared implementation of the accept set; the engine compiles
    it via F.expr, the oracle embeds it, osa_capped_dist_sql tiers
    it."""
    pred = f"levenshtein({col}, '{_sq(s)}') <= 1"
    singles = transposition_variants(s)
    if singles:
        ins = ", ".join(f"'{_sq(v)}'" for v in singles)
        pred = f"({pred} OR {col} IN ({ins}))"
    return pred


def osa_le2_sql(col: str, s: str) -> str:
    """Boolean SQL (portable Spark/DuckDB): OSA(col, s) <= 2 — exact,
    using the closed-form decomposition proved in the Fuzzy
    docstring: lev <= 2, OR a pair-anchored single transposition with
    lev(prefix) + lev(suffix) <= 1, OR a disjoint double swap."""
    parts = [f"levenshtein({col}, '{_sq(s)}') <= 2"]
    for i in swap_positions(s):
        pair = _sq(s[i + 1] + s[i])
        for j in (i - 1, i, i + 1):
            if j < 0:
                continue
            parts.append(
                f"(substr({col}, {j + 1}, 2) = '{pair}'"
                f" AND levenshtein(substr({col}, 1, {j}),"
                f" '{_sq(s[:i])}')"
                f" + levenshtein(substr({col}, {j + 3}),"
                f" '{_sq(s[i + 2:])}') <= 1)")
    doubles = double_swap_variants(s)
    if doubles:
        ins = ", ".join(f"'{_sq(v)}'" for v in doubles)
        parts.append(f"{col} IN ({ins})")
    return "(" + " OR ".join(parts) + ")"


def osa_capped_dist_sql(col: str, s: str) -> str:
    """Exact OSA distance of ``col`` vs the literal ``s``, capped at 3
    (any value > 2 reports 3) — LuceneLevenshteinDistance's metric as
    DirectSpellChecker consumes it (distances beyond maxEdits=2 are
    never ranked, so the cap is semantically free)."""
    return (f"(CASE WHEN {col} = '{_sq(s)}' THEN 0 "
            f"WHEN {osa_le1_sql(col, s)} THEN 1 "
            f"WHEN {osa_le2_sql(col, s)} THEN 2 ELSE 3 END)")
