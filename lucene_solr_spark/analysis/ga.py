"""Irish analyzer chain (round 5b):
IrishAnalyzer.createComponents:133 — StandardTokenizer +
StopFilter(hyphenation particles h/n/t, case-insensitive) +
ElisionFilter(articles d/m/b) + IrishLowerCaseFilter (t-prothesis /
n-eclipsis: leading lowercase n/t before an UPPER vowel gains a
hyphen) + StopFilter + SnowballFilter(IrishStemmer).  The stemmer
realizes the published Snowball "irish" algorithm
(IrishStemmer.java:35): initial mutation morphology as a longest
PREFIX match (eclipsis/lenition unwinding), then RV/R1/R2 regions on
the mutated word, then noun, derivational and verb suffix tables.

Verified token-for-token against the COMPILED reference
IrishAnalyzer (tools/gen_snowball_fixtures.py goldens,
tests/test_analysis_chains.py).
"""

from __future__ import annotations

_GA_VOWELS = frozenset("aeiou\u00e1\u00e9\u00ed\u00f3\u00fa")
_GA_UPPER_V = frozenset("AEIOU\u00c1\u00c9\u00cd\u00d3\u00da")

#: initial-morphology prefixes -> replacement (longest prefix wins)
_GA_PREFIX = {"b'": '', 'bh': 'b', 'bhf': 'f', 'bp': 'p', 'ch': 'c', "d'": '', "d'fh": 'f', 'dh': 'd', 'dt': 't', 'fh': 'f', 'gc': 'c', 'gh': 'g', 'h-': '', "m'": '', 'mb': 'b', 'mh': 'm', 'n-': '', 'nd': 'd', 'ng': 'g', 'ph': 'p', 'sh': 's', 't-': '', 'th': 't', 'ts': 's'}

#: noun suffixes -> 1 (R1 delete) / 2 (R2 delete)
_GA_NOUN = {'íochta': 1, 'aíochta': 1, 'ire': 2, 'aire': 2, 'abh': 1, 'eabh': 1, 'ibh': 1, 'aibh': 1, 'amh': 1, 'eamh': 1, 'imh': 1, 'aimh': 1, 'íocht': 1, 'aíocht': 1, 'irí': 2, 'airí': 2}

#: derivational suffixes -> replacement (None = R2 delete)
_GA_DERIV = {'óideacha': 'óid', 'patacha': 'paite', 'achta': None, 'arcachta': 'arc', 'eachta': None, 'grafaíochta': 'graf', 'paite': 'paite', 'ach': None, 'each': None, 'óideach': 'óid', 'gineach': 'gin', 'patach': 'paite', 'grafaíoch': 'graf', 'pataigh': 'paite', 'óidigh': 'óid', 'achtúil': None, 'eachtúil': None, 'gineas': 'gin', 'ginis': 'gin', 'acht': None, 'arcacht': 'arc', 'eacht': None, 'grafaíocht': 'graf', 'arcachtaí': 'arc', 'grafaíochtaí': 'graf'}

#: verb suffixes -> 1 (RV delete) / 2 (R1 delete)
_GA_VERB = {'imid': 1, 'aimid': 1, 'ímid': 1, 'aímid': 1, 'adh': 2, 'eadh': 2, 'faidh': 1, 'fidh': 1, 'áil': 2, 'ain': 2, 'tear': 2, 'tar': 2}


def _regions(word: str):
    n = len(word)
    pV = p1 = p2 = n
    i = 0
    while i < n and word[i] not in _GA_VOWELS:
        i += 1
    if i < n:
        pV = i + 1
        j = pV
        while j < n and word[j] in _GA_VOWELS:
            j += 1
        if j < n:
            p1 = j + 1
            k = p1
            while k < n and word[k] not in _GA_VOWELS:
                k += 1
            while k < n and word[k] in _GA_VOWELS:
                k += 1
            if k < n:
                p2 = k + 1
    return pV, p1, p2


def _longest_pfx(word: str, table):
    best = None
    for s in table:
        if word.startswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def _longest_sfx(word: str, table):
    best = None
    for s in table:
        if word.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def stem_ga(word: str) -> str:
    """IrishStemmer.stem: initial_morph -> mark_regions -> noun_sfx
    -> deriv -> verb_sfx."""
    p = _longest_pfx(word, _GA_PREFIX)
    if p is not None:
        word = _GA_PREFIX[p] + word[len(p):]
    pV, p1, p2 = _regions(word)
    s = _longest_sfx(word, _GA_NOUN)
    if s is not None:
        need = p1 if _GA_NOUN[s] == 1 else p2
        if len(word) - len(s) >= need:
            word = word[:len(word) - len(s)]
    s = _longest_sfx(word, _GA_DERIV)
    if s is not None:
        r = _GA_DERIV[s]
        if r is None:
            if len(word) - len(s) >= p2:
                word = word[:len(word) - len(s)]
        else:
            word = word[:len(word) - len(s)] + r
    s = _longest_sfx(word, _GA_VERB)
    if s is not None:
        need = pV if _GA_VERB[s] == 1 else p1
        if len(word) - len(s) >= need:
            word = word[:len(word) - len(s)]
    return word


def irish_lower(term: str) -> str:
    """IrishLowerCaseFilter.incrementToken: leading lowercase n/t
    before an upper vowel gains a hyphen (nAthair -> n-athair); the
    rest lowercases via Character.toLowerCase."""
    from .uax29 import simple_lower
    if len(term) > 1 and term[0] in ("n", "t") \
            and term[1] in _GA_UPPER_V:
        return term[0] + "-" + "".join(
            simple_lower(c) for c in term[1:])
    return "".join(simple_lower(c) for c in term)
