"""Galician analyzer chain (round 5):
GalicianAnalyzer.createComponents:96 — StandardTokenizer + LowerCase
+ StopFilter + GalicianStemFilter, where the stemmer is the RSLP
(Removedor de Sufixos da Língua Portuguesa) rules engine running the
published Galician rules file.

The engine realizes pt/RSLPStemmerBase.java:35 semantics: a step is
an ordered rule list with a step-level minimum length and optional
step-level suffix gate; a rule is (suffix, min-stem-length,
replacement, exceptions) where exceptions are whole-word (type 1
steps) or suffix (type 0 steps) matches; the FIRST matching rule in
a step applies and ends the step.  The step flow is
gl/GalicianStemmer.java:45: plural -> unification -> adverb ->
augmentative (to fixpoint) -> noun -> (verb only if noun was a
no-op) -> vowel -> deaccent.

``gl_data/galician.rslp`` is the reference's bundled PUBLIC rules
resource, copied verbatim by tools/gen_snowball_fixtures.py (data,
not code — same adjudication as analysis/ja_dict); the parser here
mirrors RSLPStemmerBase.parse's grammar.

Verified token-for-token against the COMPILED reference
GalicianAnalyzer (tests/test_analysis_chains.py).
"""

from __future__ import annotations

import os
import re
from typing import Optional, Tuple

_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "gl_data", "galician.rslp")

_HEADER = re.compile(
    r'^\{\s*"([^"]*)",\s*([0-9]+),\s*(0|1),\s*\{(.*)\},\s*$')
_STRIP = re.compile(r'^\{\s*"([^"]*)",\s*([0-9]+)\s*\}\s*(,|(\}\s*;))$')
_REP = re.compile(
    r'^\{\s*"([^"]*)",\s*([0-9]+),\s*"([^"]*)"\}\s*(,|(\}\s*;))$')
_EXC = re.compile(
    r'^\{\s*"([^"]*)",\s*([0-9]+),\s*"([^"]*)",'
    r'\s*\{(.*)\}\s*\}\s*(,|(\}\s*;))$')


class _Rule:
    __slots__ = ("suffix", "min", "replacement", "exc_words",
                 "exc_sufs")

    def __init__(self, suffix, mn, replacement, exc_words=None,
                 exc_sufs=None):
        self.suffix = suffix
        self.min = mn
        self.replacement = replacement
        self.exc_words = exc_words
        self.exc_sufs = exc_sufs

    def matches(self, w: str) -> bool:
        if len(w) - len(self.suffix) < self.min \
                or not w.endswith(self.suffix):
            return False
        if self.exc_words is not None and w in self.exc_words:
            return False
        if self.exc_sufs is not None:
            for e in self.exc_sufs:
                if w.endswith(e):
                    return False
        return True

    def replace(self, w: str) -> str:
        return w[:len(w) - len(self.suffix)] + self.replacement


class _Step:
    __slots__ = ("name", "rules", "min", "suffixes")

    def __init__(self, name, rules, mn, suffixes):
        self.name = name
        self.rules = rules
        if mn == 0:
            mn = min(r.min + len(r.suffix) for r in rules)
        self.min = mn
        self.suffixes = suffixes or None

    def apply(self, w: str) -> str:
        if len(w) < self.min:
            return w
        if self.suffixes is not None \
                and not any(w.endswith(x) for x in self.suffixes):
            return w
        for r in self.rules:
            if r.matches(w):
                return r.replace(w)
        return w


def _parse_list(s: str) -> Optional[Tuple[str, ...]]:
    if not s:
        return None
    return tuple(x.strip()[1:-1] for x in s.split(","))


def _load_steps():
    steps = {}
    with open(_DATA, encoding="utf-8") as f:
        lines = [ln.strip() for ln in f
                 if ln.strip() and not ln.strip().startswith("#")]
    i = 0
    while i < len(lines):
        m = _HEADER.match(lines[i])
        if not m:
            raise ValueError(f"bad step header: {lines[i]!r}")
        name = m.group(1)
        mn = int(m.group(2))
        typ = int(m.group(3))
        gate = _parse_list(m.group(4))
        i += 1
        rules = []
        while True:
            line = lines[i]
            i += 1
            m = _STRIP.match(line)
            if m:
                rules.append(_Rule(m.group(1), int(m.group(2)), ""))
            else:
                m = _REP.match(line)
                if m:
                    rules.append(_Rule(m.group(1), int(m.group(2)),
                                       m.group(3)))
                else:
                    m = _EXC.match(line)
                    if not m:
                        raise ValueError(f"bad rule: {line!r}")
                    exc = _parse_list(m.group(4)) or ()
                    if typ == 0:
                        rules.append(_Rule(m.group(1),
                                           int(m.group(2)),
                                           m.group(3),
                                           exc_sufs=tuple(exc)))
                    else:
                        rules.append(_Rule(m.group(1),
                                           int(m.group(2)),
                                           m.group(3),
                                           exc_words=frozenset(exc)))
            if line.endswith(";"):
                break
        steps[name] = _Step(name, rules, mn, gate)
    return steps


_steps = None


def _get_steps():
    global _steps
    if _steps is None:
        _steps = _load_steps()
    return _steps


_GL_DEACCENT = str.maketrans("áéêíóú", "aeeiou")


def stem_gl(word: str) -> str:
    """GalicianStemmer.stem (gl/GalicianStemmer.java:45)."""
    st = _get_steps()
    w = st["Plural"].apply(word)
    w = st["Unification"].apply(w)
    w = st["Adverb"].apply(w)
    while True:
        old = w
        w = st["Augmentative"].apply(w)
        if w == old:
            break
    old = w
    w = st["Noun"].apply(w)
    if w == old:
        w = st["Verb"].apply(w)
    w = st["Vowel"].apply(w)
    return w.translate(_GL_DEACCENT)
