"""Analyzers: text -> token stream (terms + positions).

Each analyzer mirrors the reference's Analyzer abstraction
(lucene/core/src/java/org/apache/lucene/analysis/Analyzer.java:85: a
tokenizer plus a chain of token filters).  ``build_index(analyzer=)``
picks one of:

``simple``  — ASCII-alnum runs, lowercased. Expressed with Spark
   built-ins (regexp_extract_all + transform/lower) so the whole invert
   stage stays inside whole-stage codegen, AND as the identical SQL in
   DuckDB for oracle checks. This is the default for corpora whose
   vocabulary is ASCII (the synthetic test corpora are).

``standard`` — StandardAnalyzer = the EXACT StandardTokenizer
   (lucene/core/.../standard/StandardTokenizer.java:29-69; JFlex
   grammar StandardTokenizerImpl.jflex) + LowerCaseFilter with an
   EMPTY stop set (StandardAnalyzer.java:52-54): full UAX#29 word
   break + TR51 emoji sequences with JFlex longest-match semantics,
   CJK/Hiragana per-char tokens, Katakana/Hangul/Thai runs, and
   maxTokenLength=255 CHOPPING (the reference's %buffer behavior —
   over-long runs split, nothing dropped). Zero divergences against
   the reference DFA across the committed multilingual fixture corpus
   and 10k+ differential fuzz cases (tools/fuzz_uax29.py); lowercasing
   is per-codepoint Character.toLowerCase parity (uax29.simple_lower).

``english`` — the simple tokenizer + English stop set + Porter stem.

a language code — the per-language analyzers: the 30 token-local
   chains of analysis/chains.CHAINS run through its one batch runner
   (``analyze_batch``); ``cjk`` (cross-token bigrams) and ``ja``
   (Viterbi lattice) keep their own batch functions.

Every non-SQL analyzer runs as the same vectorized pandas UDF
(``_struct_udf``) over a whole Arrow batch and returns
struct(terms, positions).  Positions are 0-based token indexes; a
token dropped by a stop filter leaves a position gap.
"""

from __future__ import annotations

import functools
import re
from typing import Callable, Iterator, List

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_TOKEN_LENGTH = 255

# --------------------------------------------------------------------------
# simple analyzer (SQL-expressible; identical text for Spark and DuckDB)
# --------------------------------------------------------------------------

# Spark: transform(); DuckDB: list_transform(). Everything else is shared.
_SIMPLE_RE = "[A-Za-z0-9]+"

SIMPLE_TOKENS_SQL_SPARK = (
    f"transform(regexp_extract_all({{col}}, '{_SIMPLE_RE}', 0), t -> lower(t))"
)
SIMPLE_TOKENS_SQL_DUCKDB = (
    f"list_transform(regexp_extract_all({{col}}, '{_SIMPLE_RE}', 0), t -> lower(t))"
)


def simple_tokens_col(col: str = "text") -> Column:
    """tokens array<string> column via JVM built-ins (no Python in the path)."""
    return F.expr(SIMPLE_TOKENS_SQL_SPARK.format(col=col))


def simple_tokens_sql(col: str = "text", dialect: str = "duckdb") -> str:
    tpl = SIMPLE_TOKENS_SQL_DUCKDB if dialect == "duckdb" else SIMPLE_TOKENS_SQL_SPARK
    return tpl.format(col=col)


def simple_tokenize(text: str) -> list[str]:
    """Pure-python reference of the simple analyzer (tests/oracle)."""
    return [t.lower() for t in re.findall(_SIMPLE_RE, text or "")]


# --------------------------------------------------------------------------
# standard analyzer (UAX#29-ish), vectorized pandas UDF
# --------------------------------------------------------------------------

# Exact ASCII fast path: on pure-ASCII text the UAX#29 grammar
# collapses (no Hebrew/Katakana/CJK/SA/emoji/extend classes reach it;
# '#'/'*' keycaps need U+20E3). ASCII class members per the probed
# tables (uax29_tables.py): ALetter=[A-Za-z], Numeric=[0-9],
# ExtendNumLet='_', MidNumLet=".'", MidNum=",;", MidLetter=':',
# SingleQuote="'" — so digit joiners are [.,;'] and letter joiners
# [.:'].  The WORD rule subsumes the NUMERIC rule's language and the
# greedy-vs-longest traps (Hebrew trailing quote, emoji ZWJ suffix
# ambiguity) cannot occur, so ONE compiled regex is exact —
# differentially verified against the NFA scanner (and transitively
# the reference DFA) by tests/test_r5e_uax29_parity.py's ASCII sweep.
_ASCII_CORE = (r"(?:[0-9](?:(?:_*|[.,;'])[0-9])*"
               r"|[A-Za-z](?:(?:_*|[.:'])[A-Za-z])*)+")
_ASCII_WORD_RE = re.compile(
    r"_*" + _ASCII_CORE + r"(?:_+" + _ASCII_CORE + r")*_*")


def standard_tokenize(text: str) -> tuple[list[str], list[int]]:
    """(terms, positions): StandardAnalyzer = StandardTokenizer +
    LowerCaseFilter with EXACT reference semantics (analysis/uax29.py,
    fuzz-verified against the reference DFA by tools/fuzz_uax29.py):
    UAX#29 word break + TR51 emoji sequences, CJK/Hiragana per-char,
    and maxTokenLength CHOPS over-long runs into window-sized tokens
    (StandardTokenizer.setMaxTokenLength javadoc: "Tokens larger than
    this will be chopped up at this token length and emitted as
    multiple tokens"); casing is Character.toLowerCase per codepoint
    (LowerCaseFilter), not python full casemapping. Pure-ASCII text
    takes the single-regex fast path (~50x the NFA scanner); any
    non-ASCII codepoint or >255-char token falls back to the scanner.
    """
    text = text or ""
    if text.isascii():
        terms: list[str] = []
        positions: list[int] = []
        pos = -1
        for m in _ASCII_WORD_RE.finditer(text):
            tok = m.group(0)
            if len(tok) > MAX_TOKEN_LENGTH:
                break  # needs window chopping: NFA path below
            pos += 1
            terms.append(tok.lower())
            positions.append(pos)
        else:
            return terms, positions
    from .uax29 import simple_lower
    from .uax29 import tokenize as _uax29_tokenize
    terms = []
    positions = []
    pos = -1
    for tok, inc, _typ in _uax29_tokenize(text, MAX_TOKEN_LENGTH):
        pos += inc
        terms.append(simple_lower(tok))
        positions.append(pos)
    return terms, positions


def _struct_udf(analyze_batch: Callable[[List[str]], list]):
    """pandas UDF text -> struct(terms, positions), the shape every
    non-SQL analyzer returns: ``analyze_batch`` maps a whole Arrow
    batch of texts (None read as "") to [(terms, positions)]."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    ret = StructType([
        StructField("terms", ArrayType(StringType())),
        StructField("positions", ArrayType(IntegerType())),
    ])

    @F.pandas_udf(ret)
    def _tok(s: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for chunk in s:
            res = analyze_batch(
                ["" if t is None else t for t in chunk.tolist()])
            yield pd.DataFrame({
                "terms": [r[0] for r in res],
                "positions": [r[1] for r in res],
            })

    return _tok


def standard_tokenize_udf():
    """StandardAnalyzer UDF over the whole-batch C/dense DFA kernel
    (uax29_vec — same automaton, differentially verified vs
    standard_tokenize)."""
    from .uax29_vec import standard_tokenize_batch
    return _struct_udf(functools.partial(
        standard_tokenize_batch, max_token_length=MAX_TOKEN_LENGTH))


# --------------------------------------------------------------------------
# english analyzer (EnglishAnalyzer-lite): simple tokenize + stop filter
# (position gaps preserved) + Porter stem — the analysis-common
# extension-point slice (analysis/common .../en/EnglishAnalyzer.java:
# StandardTokenizer + LowerCase + StopFilter + PorterStemFilter; the
# possessive filter is a no-op for the alnum tokenizer)
# --------------------------------------------------------------------------

def english_analyze(text: str) -> tuple:
    """Pure-python english pipeline: (terms, positions)."""
    from .filters import porter_stem, stop_filter
    toks = simple_tokenize(text)
    toks, pos = stop_filter(toks, list(range(len(toks))))
    return [porter_stem(t) for t in toks], pos


def _english_batch(texts: List[str]) -> list:
    return [english_analyze(t) for t in texts]


def english_analyze_udf():
    """Vectorized pandas UDF of the english pipeline, same struct shape
    as the standard analyzer (terms + positions with stop-word gaps)."""
    return _struct_udf(_english_batch)


def lang_analyze_udf(lang: str):
    """Vectorized pandas UDF of a per-language analyzer: the
    token-local chains of analysis/chains.CHAINS through its one batch
    runner, or the cross-token cjk (bigram) and ja (Viterbi lattice)
    batch functions; same struct shape as the standard analyzer."""
    from .chains import CHAINS, analyze_batch
    from .cjk import cjk_analyze_batch
    from .ja import ja_analyze_batch

    batch = {"cjk": cjk_analyze_batch, "ja": ja_analyze_batch}.get(lang)
    if batch is None:
        if lang not in CHAINS:
            raise ValueError(f"unknown analyzer language {lang!r}")
        batch = functools.partial(analyze_batch, lang)
    return _struct_udf(batch)
