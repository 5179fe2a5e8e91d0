"""Oracle-SQL generator: query AST -> standalone DuckDB SQL.

Mirrors search/engine.py clause by clause so the driver's DuckDB
comparison validates the Spark plans. The two backends share:

- the tokenizer definition (ASCII-alnum runs, lowercased),
- the SmallFloat norm-quantization CASE ladder (codecs.smallfloat.qdl_sql
  — pure integer arithmetic, bit-identical),
- the BM25 double formula text (search.bm25.score_sql),
- tie-breaking and rounding: ORDER BY round(score, 6) DESC, docid ASC.

Engine-side idf/avgdl are python-double literals; oracle-side they are
computed by DuckDB from the same exact integers with the same libm, so
values agree to <= 1 ulp and round(score, 6) hashes equal.
"""

from __future__ import annotations

from .. import K1
from ..codecs.smallfloat import qdl_sql
from .bm25 import idf_sql, score_sql
from .engine import _like_escape, wildcard_to_like
from .payloads import payload_check_tf_sql, payload_factor_sql
from .query import (
    Bool, Boost, ConstantScore, DisMax, FieldExists, FieldTerm, Fuzzy,
    MatchAll,
    MultiPhrase, PayloadCheck, PayloadScore, Phrase, PhrasePositions,
    PhraseWildcard,
    Prefix, Query,
    Regexp, SpanNear,
    SpanNot, SpanOr,
    Synonym, Term, TermInSet, TermRange, Wildcard,
    osa_le1_sql, osa_le2_sql, rewrite,
)
from .sloppy import freq_denominator


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class OracleBuilder:
    """Builds DuckDB SQL over a registered view of the corpus table."""

    def __init__(self, table: str = "documents", id_col: str = "doc_id",
                 text_col: str = "text", similarity=None):
        """``similarity``: optional non-default similarity from
        search.similarities; ``None`` keeps the historical BM25 SQL.
        A similarity reroutes Term/Synonym/Phrase scoring through its
        formula text (the same text the Spark engine evaluates), with
        per-term constants computed as SQL over the ts/st CTEs."""
        self.table = table
        self.id_col = id_col
        self.text_col = text_col
        self.sim = similarity

    # -- shared CTE prolog ---------------------------------------------------

    def base_ctes(self) -> str:
        return f"""
toks AS (
  SELECT {self.id_col} AS docid,
         list_transform(regexp_extract_all({self.text_col}, '[A-Za-z0-9]+', 0),
                        t -> lower(t)) AS tokens
  FROM {self.table}
),
docs AS (
  SELECT docid, len(tokens) AS dl, {qdl_sql('len(tokens)')} AS qdl
  FROM toks
),
px AS (
  SELECT docid, unnest(tokens) AS term,
         generate_subscripts(tokens, 1) - 1 AS pos
  FROM toks
),
postings AS (
  SELECT docid, term, COUNT(*) AS tf, list(pos ORDER BY pos) AS positions
  FROM px GROUP BY docid, term
),
st AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM docs),
ts AS (SELECT term, COUNT(*) AS df, SUM(tf) AS ttf FROM postings GROUP BY term)
""".strip()

    @property
    def n_sql(self) -> str:
        return "(SELECT n FROM st)"

    @property
    def avgdl_sql(self) -> str:
        return f"(CAST((SELECT sumdl FROM st) AS DOUBLE) / {self.n_sql})"

    def term_idf_sql(self, term: str) -> str:
        df = f"(SELECT df FROM ts WHERE term = {_q(term)})"
        return idf_sql(df, self.n_sql)

    def _term_weight_sql(self, term: str) -> str:
        """Similarity weight constant for one term, as SQL over ts/st —
        the oracle mirror of Searcher._clause_score's python-double
        literal (same IEEE-754 double graph)."""
        df = f"(SELECT df FROM ts WHERE term = {_q(term)})"
        ttf = f"(SELECT ttf FROM ts WHERE term = {_q(term)})"
        return self.sim.weight_sql(df, ttf, self.n_sql,
                                   "(SELECT sumdl FROM st)")

    def _sim_score_sql(self, tf_expr: str, qdl_expr: str,
                       terms: list[str]) -> str:
        return self.sim.doc_score_sql(
            tf_expr, qdl_expr,
            [self._term_weight_sql(t) for t in terms], self.avgdl_sql)

    # -- scored fragments ----------------------------------------------------

    def scored(self, q: Query) -> str:
        """SQL producing (docid, score) — embeddable subquery body."""
        if isinstance(q, Term):
            if self.sim is not None:
                sc = self._sim_score_sql("p.tf", "d.qdl", [q.term])
            else:
                sc = score_sql("p.tf", "d.qdl", self.term_idf_sql(q.term),
                               self.avgdl_sql)
            return (f"SELECT p.docid, {sc} AS score "
                    f"FROM postings p JOIN docs d ON d.docid = p.docid "
                    f"WHERE p.term = {_q(q.term)}")

        if isinstance(q, Synonym):
            terms = ", ".join(_q(t) for t in q.terms)
            df = ("(SELECT COALESCE(MAX(df), 0) FROM ts "
                  f"WHERE term IN ({terms}))")
            if self.sim is not None:
                # pseudo-term stats: df = max, ttf = sum (SynonymQuery.java:55)
                ttf = ("(SELECT COALESCE(SUM(ttf), 0) FROM ts "
                       f"WHERE term IN ({terms}))")
                w = self.sim.weight_sql(df, ttf, self.n_sql,
                                        "(SELECT sumdl FROM st)")
                sc = self.sim.doc_score_sql("g.tf", "d.qdl", [w],
                                            self.avgdl_sql)
            else:
                sc = score_sql("g.tf", "d.qdl", idf_sql(df, self.n_sql),
                               self.avgdl_sql)
            return (
                f"SELECT g.docid, {sc} AS score FROM ("
                f"SELECT docid, SUM(tf) AS tf FROM postings "
                f"WHERE term IN ({terms}) GROUP BY docid) g "
                f"JOIN docs d ON d.docid = g.docid")

        if isinstance(q, Phrase):
            if q.slop > 0:
                return self._scored_phrase_sloppy(q)
            return self._scored_phrase(q)

        if isinstance(q, PhrasePositions):
            return self._scored_phrase_positions(q)

        if isinstance(q, MultiPhrase):
            return self._scored_multiphrase(q)

        if isinstance(q, PhraseWildcard):
            return self._scored_phrase_wildcard(q)

        if isinstance(q, (SpanNear, SpanOr, SpanNot, FieldExists)):
            return self.scored(ConstantScore(q, 1.0))

        if isinstance(q, FieldTerm):
            # StrField term query (query.FieldTerm): idf / (1 + k1) per
            # matching doc; df/N from the stored column. Same formula
            # text as the engine's F.expr.
            df = (f"(SELECT CAST(COUNT(*) AS DOUBLE) FROM {self.table} "
                  f"WHERE {q.field} = {_q(q.value)})")
            sc = (f"({idf_sql(df, f'CAST({self.n_sql} AS DOUBLE)')})"
                  f" / (1e0 + {K1!r})")
            return (f"SELECT {self.id_col} AS docid, {sc} AS score "
                    f"FROM {self.table} WHERE {q.field} = {_q(q.value)}")

        if isinstance(q, Bool):
            return self._scored_bool(q)

        if isinstance(q, DisMax):
            parts = " UNION ALL ".join(
                f"({self.scored(c)})" for c in q.clauses)
            tb = repr(float(q.tiebreak))
            return (
                f"SELECT docid, mx + {tb} * (sm - mx) AS score FROM ("
                f"SELECT docid, MAX(score) AS mx, SUM(score) AS sm "
                f"FROM ({parts}) u GROUP BY docid) a")

        if isinstance(q, Boost):
            return (f"SELECT docid, score * {float(q.boost)!r} AS score "
                    f"FROM ({self.scored(q.query)}) b")

        if isinstance(q, ConstantScore):
            return (f"SELECT docid, CAST({float(q.score)!r} AS DOUBLE) "
                    f"AS score FROM ({self.matching(q.query)}) m")

        if isinstance(q, MatchAll):
            return "SELECT docid, CAST(1.0 AS DOUBLE) AS score FROM docs"

        if isinstance(q, (Prefix, Wildcard, TermRange, TermInSet, Fuzzy,
                          Regexp)):
            return self.scored(ConstantScore(q, 1.0))

        if isinstance(q, PayloadScore):
            # PayloadScoreQuery.java:52 — same PayloadFunction fold over
            # the shared position-keyed encoder (payloads.py); payload
            # sums are exact integer doubles so accumulation order
            # cannot diverge between the two dialects
            pay = payload_factor_sql("p.positions", "p.tf", q.func,
                                     "duckdb")
            if q.include_span_score:
                sc = score_sql("p.tf", "d.qdl", self.term_idf_sql(q.term),
                               self.avgdl_sql)
                expr = f"({pay}) * ({sc})"
            else:
                expr = pay
            return (f"SELECT p.docid, {expr} AS score "
                    f"FROM postings p JOIN docs d ON d.docid = p.docid "
                    f"WHERE p.term = {_q(q.term)}")

        if isinstance(q, PayloadCheck):
            # SpanPayloadCheckQuery.java:56 — freq = accepted-span count
            # (same shared encoder as PayloadScore); idf from the
            # unfiltered term stats (SpanWeight termStates)
            tf2 = payload_check_tf_sql("p.positions", q.payload, "duckdb")
            sc = score_sql(f"({tf2})", "d.qdl", self.term_idf_sql(q.term),
                           self.avgdl_sql)
            return (f"SELECT p.docid, {sc} AS score "
                    f"FROM postings p JOIN docs d ON d.docid = p.docid "
                    f"WHERE p.term = {_q(q.term)} AND ({tf2}) > 0")

        raise TypeError(f"unsupported query node {type(q).__name__}")

    def _scored_phrase_positions(self, q: PhrasePositions) -> str:
        """Exact phrase with explicit positions (PhraseQuery.Builder
        .add(Term, position)) — _scored_phrase with per-term offsets
        positions[i] - positions[0] instead of i."""
        terms = list(q.terms)
        offs = [p - q.positions[0] for p in q.positions]
        idf_parts = " + ".join(f"({self.term_idf_sql(t)})" for t in terms)
        joins = ["postings g0"]
        for i in range(1, len(terms)):
            joins.append(
                f"JOIN postings g{i} ON g{i}.docid = g0.docid "
                f"AND g{i}.term = {_q(terms[i])}")
        conds = " AND ".join(
            f"list_contains(g{i}.positions, x + {offs[i]})"
            for i in range(1, len(terms)))
        freq = (f"len(list_filter(g0.positions, x -> {conds}))"
                if conds else "len(g0.positions)")
        if self.sim is not None:
            sc = self._sim_score_sql("f.tf", "d.qdl", terms)
        else:
            sc = score_sql("f.tf", "d.qdl", f"({idf_parts})",
                           self.avgdl_sql)
        return (
            f"SELECT f.docid, {sc} AS score FROM ("
            f"SELECT g0.docid, CAST({freq} AS BIGINT) AS tf "
            f"FROM {' '.join(joins)} WHERE g0.term = {_q(terms[0])}) f "
            f"JOIN docs d ON d.docid = f.docid WHERE f.tf > 0")

    def _scored_phrase(self, q: Phrase) -> str:
        terms = list(q.terms)
        idf_parts = " + ".join(f"({self.term_idf_sql(t)})" for t in terms)
        joins = ["postings p0"]
        for i in range(1, len(terms)):
            joins.append(
                f"JOIN postings p{i} ON p{i}.docid = p0.docid "
                f"AND p{i}.term = {_q(terms[i])}")
        conds = " AND ".join(
            f"list_contains(p{i}.positions, x + {i})"
            for i in range(1, len(terms)))
        freq = (f"len(list_filter(p0.positions, x -> {conds}))"
                if conds else "len(p0.positions)")
        if self.sim is not None:
            # per-term weights in term order (MultiSimScorer shape);
            # a df=0 term yields no postings rows, so the weight SQL is
            # never evaluated on a NULL df
            sc = self._sim_score_sql("f.tf", "d.qdl", terms)
        else:
            sc = score_sql("f.tf", "d.qdl", f"({idf_parts})",
                           self.avgdl_sql)
        return (
            f"SELECT f.docid, {sc} AS score FROM ("
            f"SELECT p0.docid, CAST({freq} AS BIGINT) AS tf "
            f"FROM {' '.join(joins)} WHERE p0.term = {_q(terms[0])}) f "
            f"JOIN docs d ON d.docid = f.docid WHERE f.tf > 0")

    def _scored_phrase_sloppy(self, q: Phrase) -> str:
        """Two-term sloppy phrase: the recursive-CTE mirror of
        search/sloppy.py chain_match_lengths_2 (derived from
        SloppyPhraseMatcher.nextMatch, SloppyPhraseMatcher.java:163-195).
        tag 0 = current target in the term-0 list; each step hops to the
        least opposite-list position strictly greater than the current
        target; match length = target minus the greatest advancing-list
        position <= target (inclusive). freq = (Σ D//(1+ml)) / D with
        D = lcm(1..slop+1) — an exact integer sum, so it is
        order-independent and bit-identical to the engine's python
        matcher."""
        if len(q.terms) != 2:
            raise TypeError(
                "oracle sloppy phrase supports exactly 2 terms "
                "(engine/kernel support any arity via the python matcher)")
        if self.sim is not None:
            raise TypeError("oracle sloppy phrase is BM25-only "
                            "(engine supports any similarity)")
        t0, t1 = q.terms
        slop, d = q.slop, freq_denominator(q.slop)
        idf_parts = (f"({self.term_idf_sql(t0)}) + "
                     f"({self.term_idf_sql(t1)})")
        sc = score_sql("f.tf", "dd.qdl", f"({idf_parts})", self.avgdl_sql)
        nb = "list_min(list_filter(pb, y -> y > t))"
        na = "list_min(list_filter(pa, y -> y > t))"
        return f"""
WITH RECURSIVE spl AS (
  SELECT a.docid, a.positions AS pa,
         list_transform(b.positions, x -> x - 1) AS pb
  FROM postings a JOIN postings b ON b.docid = a.docid
  WHERE a.term = {_q(t0)} AND b.term = {_q(t1)}
),
schain AS (
  SELECT docid, pa, pb,
         CASE WHEN pa[1] > pb[1] THEN 0 ELSE 1 END AS tag,
         CASE WHEN pa[1] > pb[1] THEN pa[1] ELSE pb[1] END AS t,
         CASE WHEN pa[1] > pb[1]
              THEN pa[1] - list_max(list_filter(pb, y -> y <= pa[1]))
              ELSE pb[1] - list_max(list_filter(pa, y -> y <= pb[1]))
         END AS ml
  FROM spl
  UNION ALL
  SELECT docid, pa, pb, 1 - tag,
         CASE WHEN tag = 0 THEN {nb} ELSE {na} END,
         CASE WHEN tag = 0
              THEN {nb} - list_max(list_filter(pa, z -> z <= {nb}))
              ELSE {na} - list_max(list_filter(pb, z -> z <= {na}))
         END
  FROM schain
  WHERE (CASE WHEN tag = 0 THEN {nb} ELSE {na} END) IS NOT NULL
),
sfreq AS (
  SELECT docid,
         CAST(SUM(CASE WHEN ml <= {slop} THEN {d} // (1 + ml)
                       ELSE 0 END) AS DOUBLE) / {d} AS tf
  FROM schain GROUP BY docid
)
SELECT f.docid, {sc} AS score
FROM sfreq f JOIN docs dd ON dd.docid = f.docid WHERE f.tf > 0"""

    def _scored_multiphrase(self, q: MultiPhrase) -> str:
        if self.sim is not None:
            raise TypeError("oracle multiphrase is BM25-only "
                            "(engine supports any similarity)")
        all_terms = [t for slot in q.slots for t in slot]
        # idf sum over alternatives that exist in the index (engine skips
        # df=0 alternatives identically)
        idf_parts = " + ".join(
            f"(CASE WHEN EXISTS (SELECT 1 FROM ts WHERE term = {_q(t)}) "
            f"THEN {self.term_idf_sql(t)} ELSE 0.0 END)"
            for t in all_terms)
        slot_sql = []
        for i, slot in enumerate(q.slots):
            terms = ", ".join(_q(t) for t in slot)
            slot_sql.append(
                f"(SELECT docid, list_sort(list_distinct(flatten("
                f"list(positions)))) AS positions FROM postings "
                f"WHERE term IN ({terms}) GROUP BY docid) s{i}")
        joins = [slot_sql[0]]
        for i in range(1, len(q.slots)):
            joins.append(f"JOIN {slot_sql[i]} ON s{i}.docid = s0.docid")
        conds = " AND ".join(
            f"list_contains(s{i}.positions, x + {i})"
            for i in range(1, len(q.slots)))
        freq = (f"len(list_filter(s0.positions, x -> {conds}))"
                if conds else "len(s0.positions)")
        sc = score_sql("f.tf", "d.qdl", f"({idf_parts})", self.avgdl_sql)
        return (
            f"SELECT f.docid, {sc} AS score FROM ("
            f"SELECT s0.docid, CAST({freq} AS BIGINT) AS tf "
            f"FROM {' '.join(joins)}) f "
            f"JOIN docs d ON d.docid = f.docid WHERE f.tf > 0")

    def _scored_phrase_wildcard(self, q: PhraseWildcard) -> str:
        """PhraseWildcardQuery.java:63 as pure SQL: each pattern slot
        expands to the first max_expansions dictionary terms in term
        order (same cap/order as engine._expand_phrase_wildcard), then
        the body is the MultiPhrase union-positions formula."""
        if self.sim is not None:
            raise TypeError("oracle phrase-wildcard is BM25-only "
                            "(engine supports any similarity)")
        n_exp = int(q.max_expansions)
        idf_parts, slot_sql = [], []
        for i, (s, is_pat) in enumerate(zip(q.slots, q.pattern_slots())):
            if is_pat:
                pred = (f"term LIKE {_q(wildcard_to_like(s))} "
                        f"ESCAPE '\\'")
                exp = (f"(SELECT term FROM ts WHERE {pred} "
                       f"ORDER BY term LIMIT {n_exp})")
                idf_parts.append(
                    f"(SELECT COALESCE(SUM({idf_sql('df', self.n_sql)}),"
                    f" 0.0) FROM ts WHERE term IN {exp})")
                member = f"term IN {exp}"
            else:
                idf_parts.append(
                    f"(CASE WHEN EXISTS (SELECT 1 FROM ts "
                    f"WHERE term = {_q(s)}) "
                    f"THEN {self.term_idf_sql(s)} ELSE 0.0 END)")
                member = f"term = {_q(s)}"
            slot_sql.append(
                f"(SELECT docid, list_sort(list_distinct(flatten("
                f"list(positions)))) AS positions FROM postings "
                f"WHERE {member} GROUP BY docid) s{i}")
        joins = [slot_sql[0]]
        for i in range(1, len(q.slots)):
            joins.append(f"JOIN {slot_sql[i]} ON s{i}.docid = s0.docid")
        conds = " AND ".join(
            f"list_contains(s{i}.positions, x + {i})"
            for i in range(1, len(q.slots)))
        freq = (f"len(list_filter(s0.positions, x -> {conds}))"
                if conds else "len(s0.positions)")
        sc = score_sql("f.tf", "d.qdl", f"({' + '.join(idf_parts)})",
                       self.avgdl_sql)
        return (
            f"SELECT f.docid, {sc} AS score FROM ("
            f"SELECT s0.docid, CAST({freq} AS BIGINT) AS tf "
            f"FROM {' '.join(joins)}) f "
            f"JOIN docs d ON d.docid = f.docid WHERE f.tf > 0")

    def _matching_span(self, q: SpanNear) -> str:
        k = len(q.terms)
        if k == 1:
            return self.matching(Term(q.terms[0]))
        joins = [f"(SELECT docid, positions AS pos0 FROM postings "
                 f"WHERE term = {_q(q.terms[0])}) s0"]
        for i in range(1, k):
            joins.append(
                f"JOIN (SELECT docid, positions AS pos{i} FROM postings "
                f"WHERE term = {_q(q.terms[i])}) s{i} "
                f"ON s{i}.docid = s0.docid")
        inner = (f"a{k - 1} > a{k - 2} AND "
                 f"a{k - 1} - a0 - {k - 1} <= {q.slop}")
        expr = (f"len(list_filter(s{k - 1}.pos{k - 1}, "
                f"a{k - 1} -> {inner})) > 0")
        for i in range(k - 2, 0, -1):
            expr = (f"len(list_filter(s{i}.pos{i}, a{i} -> "
                    f"a{i} > a{i - 1} AND {expr})) > 0")
        expr = f"len(list_filter(s0.pos0, a0 -> {expr})) > 0"
        return (f"SELECT s0.docid FROM {' '.join(joins)} WHERE {expr}")

    def _scored_bool(self, q: Bool) -> str:
        base = None
        if q.must:
            sel = ["m0.docid"]
            frm = [f"({self.scored(q.must[0])}) m0"]
            for i, m in enumerate(q.must[1:], start=1):
                frm.append(
                    f"JOIN ({self.scored(m)}) m{i} ON m{i}.docid = m0.docid")
            total = "(" + " + ".join(
                f"m{i}.score" for i in range(len(q.must))) + ")"
            base = (f"SELECT {sel[0]} AS docid, {total} AS score "
                    f"FROM {' '.join(frm)}")

        if q.should:
            parts = " UNION ALL ".join(
                f"({self.scored(s)})" for s in q.should)
            sh = (f"SELECT docid, SUM(score) AS opt, COUNT(*) AS nm "
                  f"FROM ({parts}) u GROUP BY docid")
            if base is not None:
                msm_filter = (
                    f" WHERE COALESCE(sh.nm, 0) >= {q.minimum_should_match}"
                    if q.minimum_should_match > 0 else "")
                base = (
                    f"SELECT b.docid, b.score + COALESCE(sh.opt, 0.0) AS score "
                    f"FROM ({base}) b LEFT JOIN ({sh}) sh "
                    f"ON sh.docid = b.docid{msm_filter}")
            else:
                msm = max(q.minimum_should_match, 1)
                base = (f"SELECT docid, opt AS score FROM ({sh}) sh "
                        f"WHERE nm >= {msm}")

        flts = list(q.filter)
        if base is None:
            if not flts:
                raise ValueError("Bool query with no positive clauses")
            base = (f"SELECT docid, CAST(0.0 AS DOUBLE) AS score "
                    f"FROM ({self.matching(flts.pop(0))}) f0")
        for i, f in enumerate(flts):
            base = (f"SELECT b.docid, b.score FROM ({base}) b "
                    f"WHERE b.docid IN (SELECT docid FROM "
                    f"({self.matching(f)}) ff{i})")
        for i, x in enumerate(q.must_not):
            base = (f"SELECT b.docid, b.score FROM ({base}) b "
                    f"WHERE b.docid NOT IN (SELECT docid FROM "
                    f"({self.matching(x)}) xx{i})")
        return base

    # -- match sets ------------------------------------------------------------

    def _term_pred(self, q: Query) -> str | None:
        if isinstance(q, Prefix):
            return f"term LIKE {_q(_like_escape(q.prefix) + '%')} ESCAPE '\\'"
        if isinstance(q, Wildcard):
            return f"term LIKE {_q(wildcard_to_like(q.pattern))} ESCAPE '\\'"
        if isinstance(q, TermRange):
            lo = ">=" if q.include_lower else ">"
            hi = "<=" if q.include_upper else "<"
            return f"term {lo} {_q(q.lower)} AND term {hi} {_q(q.upper)}"
        if isinstance(q, TermInSet):
            return f"term IN ({', '.join(_q(t) for t in q.terms)})"
        if isinstance(q, Fuzzy):
            # the ONE shared exact-OSA accept set (query.osa_le{1,2}
            # _sql — the engine compiles the same text via F.expr)
            if q.transpositions and q.max_edits == 1:
                return osa_le1_sql("term", q.term)
            if q.transpositions and q.max_edits == 2:
                return osa_le2_sql("term", q.term)
            return f"levenshtein(term, {_q(q.term)}) <= {q.max_edits}"
        if isinstance(q, Regexp):
            # same RegExp-dialect translation as the engine
            # (search/regexp.py; the emitted subset is Java/RE2-common;
            # top-level a&b / ~a compose as SQL AND / NOT)
            from .regexp import lucene_regexp_to_tree

            def _sqlw(node):
                kind = node[0]
                if kind == "re":
                    return ("regexp_matches(term, "
                            f"{_q('^(?:' + node[1] + ')$')})")
                if kind in ("and", "or"):
                    op = " AND " if kind == "and" else " OR "
                    return ("(" + op.join(_sqlw(x)
                                          for x in node[1]) + ")")
                return "(NOT " + _sqlw(node[1]) + ")"
            return _sqlw(lucene_regexp_to_tree(q.pattern))
        return None

    def matching(self, q: Query) -> str:
        pred = self._term_pred(q)
        if pred is not None:
            return f"SELECT DISTINCT docid FROM postings WHERE {pred}"
        if isinstance(q, Term):
            return (f"SELECT docid FROM postings "
                    f"WHERE term = {_q(q.term)}")
        if isinstance(q, SpanNear):
            return self._matching_span(q)
        if isinstance(q, SpanOr):
            parts = " UNION ".join(
                f"SELECT docid FROM ({self.matching(c)}) so{i}"
                for i, c in enumerate(q.clauses))
            return parts
        if isinstance(q, SpanNot):
            return self._matching_span_not(q)
        if isinstance(q, FieldExists):
            return (f"SELECT {self.id_col} AS docid FROM {self.table} "
                    f"WHERE {q.field} IS NOT NULL")
        if isinstance(q, FieldTerm):
            return (f"SELECT {self.id_col} AS docid FROM {self.table} "
                    f"WHERE {q.field} = {_q(q.value)}")
        if isinstance(q, MatchAll):
            return "SELECT docid FROM docs"
        return f"SELECT docid FROM ({self.scored(q)}) s"

    def _span_starts_sql(self, q: Query) -> str:
        """(docid, starts LIST) of span start positions — SpanNot feed.
        Mirrors engine._span_starts."""
        if isinstance(q, Term):
            return (f"SELECT docid, positions AS starts FROM postings "
                    f"WHERE term = {_q(q.term)}")
        if isinstance(q, SpanNear):
            k = len(q.terms)
            if k == 1:
                return self._span_starts_sql(Term(q.terms[0]))
            joins = [f"(SELECT docid, positions AS pos0 FROM postings "
                     f"WHERE term = {_q(q.terms[0])}) s0"]
            for i in range(1, k):
                joins.append(
                    f"JOIN (SELECT docid, positions AS pos{i} FROM postings "
                    f"WHERE term = {_q(q.terms[i])}) s{i} "
                    f"ON s{i}.docid = s0.docid")
            inner = (f"a{k - 1} > a{k - 2} AND "
                     f"a{k - 1} - a0 - {k - 1} <= {q.slop}")
            expr = (f"len(list_filter(s{k - 1}.pos{k - 1}, "
                    f"a{k - 1} -> {inner})) > 0")
            for i in range(k - 2, 0, -1):
                expr = (f"len(list_filter(s{i}.pos{i}, a{i} -> "
                        f"a{i} > a{i - 1} AND {expr})) > 0")
            return (f"SELECT s0.docid, "
                    f"list_filter(s0.pos0, a0 -> {expr}) AS starts "
                    f"FROM {' '.join(joins)}")
        raise TypeError("SpanNot needs span primitives (Term / SpanNear)")

    def _matching_span_not(self, q: SpanNot) -> str:
        inc = self._span_starts_sql(q.include)
        exc = self._span_starts_sql(q.exclude)
        return (
            f"SELECT i.docid FROM ({inc}) i "
            f"LEFT JOIN ({exc}) x ON x.docid = i.docid "
            f"WHERE len(list_filter(i.starts, s -> x.starts IS NULL OR "
            f"NOT list_contains(x.starts, s))) > 0")

    # -- entry points ------------------------------------------------------------

    def topk_sql(self, q: Query, k: int = 10) -> str:
        q = rewrite(q)
        return (
            f"WITH {self.base_ctes()} "
            f"SELECT docid AS doc_id, ROUND(score, 6) AS score "
            f"FROM ({self.scored(q)}) fin "
            f"ORDER BY ROUND(score, 6) DESC, docid ASC "
            f"LIMIT {k}")

    def common_terms_topk_sql(self, terms: tuple,
                              max_term_frequency: float = 0.01,
                              k: int = 10) -> str:
        """Standalone SQL mirror of Searcher.common_terms + topk
        (CommonTermsQuery.java:158-219).  The df classification runs
        inside SQL (the oracle cannot freeze stats at compile time), so
        both backends classify from the same corpus: high-frequency iff
        df > ceil(maxTermFrequency * N).  Matching: >= 1 low-freq term
        when any low-freq (incl. absent) query terms exist, else ALL
        high-freq terms (the conjunction fallback).  Score: sum of the
        matched terms' BM25 scores (the optional high clause adds score
        only, exactly like the engine's req-opt composition)."""
        tl = ", ".join(_q(t) for t in terms)
        if max_term_frequency >= 1.0:
            cut = repr(float(max_term_frequency))
        else:
            cut = (f"CEIL({max_term_frequency!r} * "
                   f"CAST({self.n_sql} AS DOUBLE))")
        sc = score_sql("p.tf", "d.qdl", idf_sql("c.df", self.n_sql),
                       self.avgdl_sql)
        return f"""
WITH {self.base_ctes()},
cls AS (
  SELECT term, df, CAST(df AS DOUBLE) > {cut} AS is_high
  FROM ts WHERE term IN ({tl})
),
qstat AS (
  SELECT {len(terms)} - COUNT(CASE WHEN is_high THEN 1 END) AS nlowq,
         COUNT(CASE WHEN is_high THEN 1 END) AS nhighq
  FROM cls
),
csc AS (
  SELECT p.docid, c.is_high, {sc} AS s
  FROM postings p JOIN cls c ON c.term = p.term
  JOIN docs d ON d.docid = p.docid
),
cagg AS (
  SELECT docid,
         SUM(CASE WHEN NOT is_high THEN 1 ELSE 0 END) AS nlow,
         SUM(CASE WHEN is_high THEN 1 ELSE 0 END) AS nhigh,
         SUM(s) AS score
  FROM csc GROUP BY docid
)
SELECT docid AS doc_id, ROUND(score, 6) AS score
FROM cagg, qstat
WHERE (qstat.nlowq > 0 AND cagg.nlow >= 1)
   OR (qstat.nlowq = 0 AND cagg.nhigh = qstat.nhighq)
ORDER BY ROUND(score, 6) DESC, docid ASC
LIMIT {k}"""

    def count_sql(self, q: Query) -> str:
        q = rewrite(q)
        return (
            f"WITH {self.base_ctes()} "
            f"SELECT COUNT(*) AS n_hits "
            f"FROM ({self.matching(q)}) fin")
