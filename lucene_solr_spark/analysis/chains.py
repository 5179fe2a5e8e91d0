"""Token-local language analyzers as one table plus one batch runner.

A reference language Analyzer is a declarative chain
(Analyzer.createComponents: StandardTokenizer + a list of
TokenFilters).  Every filter in the chains below looks at one token
only, so the whole filter list collapses to ONE function
``term(surface) -> str | None`` per language — ``None`` drops the
token and leaves a position gap (StopFilter/FilteringTokenFilter
posIncr semantics).  ``CHAINS`` maps each language to that function;
``analyze_batch`` runs the exact UAX#29 scan once over a whole Arrow
batch (analysis/uax29_vec) and maps each DISTINCT surface through the
chain once per batch.

Reference chains (each {Lang}Analyzer.createComponents; Std =
StandardTokenizer, LC = LowerCase with Character.toLowerCase parity):

  de es pt ru sv no fi hu  Std > LC > Stop > light stemmer (lang.py)
  fr it    Std > Elision > LC > Stop > light stemmer
  ar  Std > LC > DecimalDigit > Stop > ArabicNormalization > ArabicStem
  fa  PersianCharFilter (ZWNJ -> space, the one pre-tokenizer char
      filter) > Std > LC > DecimalDigit > ArabicNormalization >
      PersianNormalization > Stop
  hi  Std > LC > DecimalDigit > IndicNormalization >
      HindiNormalization > Stop > HindiStem
  bg cz id lv  Std > LC > Stop > stemmer (lang2.py)
  da ro sv_sb no_sb  Std > LC > Stop > Snowball (snowball.py)
  nl  Std > LC > Stop > StemOverride > Snowball
  tr  Std > Apostrophe > TurkishLowerCase > Stop > Snowball
  el  Std > GreekLowerCase > Stop > GreekStem
  gl hy lt eu  Std > LC > Stop > stemmer (gl/hy/lt/eu.py)
  ga  Std > Stop(h/n/t, case-insensitive) > Elision > IrishLowerCase >
      Stop > Snowball
  ca  Std > Elision > LC > Stop > Snowball

(``sv_sb``/``no_sb`` are the Snowball-default Swedish/Norwegian
chains; ``sv``/``no`` are the reference's light-stemmer chains.)
CJK bigrams and the Japanese Viterbi lattice look across tokens, so
``cjk`` and ``ja`` keep their own batch functions.

Every chain is verified token for token against the compiled
reference analyzers' goldens (tests/test_analysis_chains.py) and, for
the light-stemmer languages, against the scalar lang.lang_analyze
(tests/test_r6a_uax29_vec.py).
"""

from __future__ import annotations

import unicodedata
from typing import Callable, Dict, List, Optional, Tuple

from .analyzers import MAX_TOKEN_LENGTH
from .ca import stem_ca
from .el import greek_lower, stem_el
from .eu import stem_eu
from .ga import irish_lower, stem_ga
from .gl import stem_gl
from .hy import stem_hy
from .lang import ELISION_ARTICLES, STEMMERS as LIGHT_STEMMERS, elide
from .lang2 import (arabic_normalize, arabic_stem, bulgarian_stem,
                    czech_stem, decimal_digit, hindi_normalize,
                    hindi_stem, indic_normalize, indonesian_stem,
                    latvian_stem, persian_char_filter, persian_normalize)
from .lang2_stop import STOP_SETS2
from .lang_stop import STOP_SETS as LIGHT_STOPS
from .lt import stem_lt
from .snowball import STEMMERS as SNOWBALL_STEMMERS
from .snowball_stop import STOP_SETS as SNOWBALL_STOPS
from .uax29 import simple_lower
from .uax29_vec import segment_batch

# ------------------------------------------------- chain-only filters

#: StemmerOverrideFilter defaults (DutchAnalyzer.java:78-84): matches
#: mark the token keyword, so the stemmer is skipped.
NL_STEM_OVERRIDE = {"fiets": "fiets", "bromfiets": "bromfiets",
                    "ei": "eier", "kind": "kinder"}

_COMBINING_DOT = "̇"


def apostrophe(token: str) -> str:
    """ApostropheFilter.java:47 — strip the first apostrophe
    (' or U+2019) and everything after it."""
    for i, ch in enumerate(token):
        if ch == "'" or ch == "’":
            return token[:i]
    return token


def _before_dot(cps: List[str], pos: int) -> bool:
    for k in range(pos, len(cps)):
        if unicodedata.category(cps[k]) != "Mn":
            return False
        if cps[k] == _COMBINING_DOT:
            return True
    return False


def turkish_lower(term: str) -> str:
    """TurkishLowerCaseFilter.java:55 — Turkish casing: I -> ı unless
    followed (across combining marks) by U+0307, in which case I -> i
    and the dot is removed; all else Character.toLowerCase."""
    cps = list(term)
    out: List[str] = []
    i_or_after = False
    i = 0
    while i < len(cps):
        ch = cps[i]
        i_or_after = ch == "I" or (
            i_or_after and unicodedata.category(ch) == "Mn")
        if i_or_after:
            if ch == _COMBINING_DOT:
                i += 1
                continue
            if ch == "I":
                if _before_dot(cps, i + 1):
                    out.append("i")
                else:
                    out.append("ı")
                    i_or_after = False
                i += 1
                continue
        out.append(simple_lower(ch))
        i += 1
    return "".join(out)


#: IrishAnalyzer's first StopFilter: hyphenation particles, matched
#: case-insensitively before elision and lowercasing.
_GA_HYPHENATION = frozenset(("h", "n", "t"))

# ------------------------------------------------------------ chains

Term = Callable[[str], Optional[str]]


def _lower_stop_stem(lang: str, stops: frozenset,
                     stem: Callable[[str], str]) -> Term:
    """[Elision >] LowerCase > Stop > stem — the shape most chains
    share; elision only where ``lang`` has an article set."""
    if lang in ELISION_ARTICLES:
        def term(tok: str) -> Optional[str]:
            t = simple_lower(elide(lang, tok))
            return None if t in stops else stem(t)
    else:
        def term(tok: str) -> Optional[str]:
            t = simple_lower(tok)
            return None if t in stops else stem(t)
    return term


_AR_STOP, _FA_STOP, _HI_STOP = (STOP_SETS2[k] for k in ("ar", "fa", "hi"))
_NL_STOP, _TR_STOP = SNOWBALL_STOPS["nl"], SNOWBALL_STOPS["tr"]
_EL_STOP, _GA_STOP = SNOWBALL_STOPS["el"], SNOWBALL_STOPS["ga"]
_stem_nl, _stem_tr = SNOWBALL_STEMMERS["nl"], SNOWBALL_STEMMERS["tr"]


def _ar(tok: str) -> Optional[str]:
    t = decimal_digit(simple_lower(tok))
    return None if t in _AR_STOP else arabic_stem(arabic_normalize(t))


def _fa(tok: str) -> Optional[str]:
    t = persian_normalize(arabic_normalize(decimal_digit(simple_lower(tok))))
    return None if t in _FA_STOP else t


def _hi(tok: str) -> Optional[str]:
    t = hindi_normalize(indic_normalize(decimal_digit(simple_lower(tok))))
    return None if t in _HI_STOP else hindi_stem(t)


def _nl(tok: str) -> Optional[str]:
    t = simple_lower(tok)
    if t in _NL_STOP:
        return None
    override = NL_STEM_OVERRIDE.get(t)
    return _stem_nl(t) if override is None else override


def _tr(tok: str) -> Optional[str]:
    t = turkish_lower(apostrophe(tok))
    return None if t in _TR_STOP else _stem_tr(t)


def _el(tok: str) -> Optional[str]:
    t = greek_lower(tok)
    return None if t in _EL_STOP else stem_el(t)


def _ga(tok: str) -> Optional[str]:
    if tok.lower() in _GA_HYPHENATION:
        return None
    t = irish_lower(elide("ga", tok))
    return None if t in _GA_STOP else stem_ga(t)


#: language -> term(surface): the analyzed term, or None to drop the
#: token (leaving a position gap).
CHAINS: Dict[str, Term] = {
    **{lang: _lower_stop_stem(lang, LIGHT_STOPS[lang], stem)
       for lang, stem in LIGHT_STEMMERS.items()},
    **{lang: _lower_stop_stem(lang, STOP_SETS2[lang], stem)
       for lang, stem in (("bg", bulgarian_stem), ("cz", czech_stem),
                          ("id", indonesian_stem), ("lv", latvian_stem))},
    **{lang: _lower_stop_stem(lang, SNOWBALL_STOPS[lang], stem)
       for lang, stem in (("da", SNOWBALL_STEMMERS["da"]),
                          ("ro", SNOWBALL_STEMMERS["ro"]),
                          ("sv_sb", SNOWBALL_STEMMERS["sv"]),
                          ("no_sb", SNOWBALL_STEMMERS["no"]),
                          ("gl", stem_gl), ("hy", stem_hy),
                          ("lt", stem_lt), ("eu", stem_eu),
                          ("ca", stem_ca))},
    "ar": _ar, "fa": _fa, "hi": _hi, "nl": _nl, "tr": _tr, "el": _el,
    "ga": _ga,
}

#: Pre-tokenizer char filters (length-preserving, so UAX#29 spans over
#: the filtered text index the same codepoints).
CHAR_FILTERS: Dict[str, Callable[[str], str]] = {"fa": persian_char_filter}

_MISS = object()


def analyze_batch(lang: str, texts: List[str]
                  ) -> List[Tuple[List[str], List[int]]]:
    """[(terms, positions)] for every text under ``CHAINS[lang]``: one
    UAX#29 scan over the batch, each distinct surface analyzed once,
    results scattered back with their token positions."""
    term = CHAINS[lang]
    char_filter = CHAR_FILTERS.get(lang)
    if char_filter is not None:
        texts = [char_filter(t) for t in texts]
    memo: Dict[str, Optional[str]] = {}
    out = []
    for text, spans in zip(texts, segment_batch(texts, MAX_TOKEN_LENGTH)):
        terms: List[str] = []
        positions: List[int] = []
        for pos, (a, b, _typ) in enumerate(spans):
            surface = text[a:b]
            t = memo.get(surface, _MISS)
            if t is _MISS:
                t = memo[surface] = term(surface)
            if t is not None:
                terms.append(t)
                positions.append(pos)
        out.append((terms, positions))
    return out
