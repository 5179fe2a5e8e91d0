"""Lithuanian analyzer chain (round 5b):
LithuanianAnalyzer.createComponents:96 — StandardTokenizer +
LowerCase + StopFilter + SnowballFilter(LithuanianStemmer).  The
stemmer realizes the published Snowball "lithuanian" algorithm
(LithuanianStemmer.java:35): R1 computed from position 1 instead of 0
when the word starts with 'a' and is longer than 6 chars; flow =
fix_conflicts -> step1 (delete one noun/adjective ending in R1) ->
fix_chdz -> step2 (repeatedly delete further endings in R1) ->
fix_chdz -> fix_gd.

Verified token-for-token against the COMPILED reference
LithuanianAnalyzer (tools/gen_snowball_fixtures.py goldens,
tests/test_analysis_chains.py).
"""

from __future__ import annotations

_LT_VOWELS = frozenset("aąeęėiįyouųū")

_LT_STEP1 = (
    'a', 'ia', 'eria', 'osna', 'iosna', 'uosna', 'iuosna', 'ysna', 
    'ėsna', 'e', 'ie', 'enie', 'erie', 'oje', 'ioje', 'uje', 'iuje', 
    'yje', 'enyje', 'eryje', 'ėje', 'ame', 'iame', 'sime', 'ome', 
    'ėme', 'tumėme', 'ose', 'iose', 'uose', 'iuose', 'yse', 'enyse', 
    'eryse', 'ėse', 'ate', 'iate', 'ite', 'kite', 'site', 'ote', 
    'tute', 'ėte', 'tumėte', 'i', 'ai', 'iai', 'eriai', 'ei', 
    'tumei', 'ki', 'imi', 'erimi', 'umi', 'iumi', 'si', 'asi', 
    'iasi', 'esi', 'iesi', 'siesi', 'isi', 'aisi', 'eisi', 'tumeisi', 
    'uisi', 'osi', 'ėjosi', 'uosi', 'iuosi', 'siuosi', 'usi', 'ausi', 
    'čiausi', 'ąsi', 'ėsi', 'ųsi', 'tųsi', 'ti', 'enti', 'inti', 
    'oti', 'ioti', 'uoti', 'iuoti', 'auti', 'iauti', 'yti', 'ėti', 
    'telėti', 'inėti', 'terėti', 'ui', 'iui', 'eniui', 'oj', 'ėj', 
    'k', 'am', 'iam', 'iem', 'im', 'sim', 'om', 'tum', 'ėm', 'tumėm', 
    'an', 'on', 'ion', 'un', 'iun', 'ėn', 'o', 'io', 'enio', 'ėjo', 
    'uo', 's', 'as', 'ias', 'es', 'ies', 'is', 'ais', 'iais', 
    'tumeis', 'imis', 'enimis', 'omis', 'iomis', 'umis', 'ėmis', 
    'enis', 'asis', 'ysis', 'ams', 'iams', 'iems', 'ims', 'enims', 
    'erims', 'oms', 'ioms', 'ums', 'ėms', 'ens', 'os', 'ios', 'uos', 
    'iuos', 'ers', 'us', 'aus', 'iaus', 'ius', 'ys', 'enys', 'erys', 
    'ąs', 'iąs', 'ės', 'amės', 'iamės', 'imės', 'kimės', 'simės', 
    'omės', 'ėmės', 'tumėmės', 'atės', 'iatės', 'sitės', 'otės', 
    'ėtės', 'tumėtės', 'įs', 'ūs', 'tųs', 'at', 'iat', 'it', 'sit', 
    'ot', 'ėt', 'tumėt', 'u', 'au', 'iau', 'čiau', 'iu', 'eniu', 
    'siu', 'y', 'ą', 'ią', 'ė', 'ę', 'į', 'enį', 'erį', 'ų', 'ių', 
    'erų', 
)

_LT_STEP2 = (
    'ing', 'aj', 'iaj', 'iej', 'oj', 'ioj', 'uoj', 'iuoj', 'auj', 
    'ąj', 'iąj', 'ėj', 'ųj', 'iųj', 'ok', 'iok', 'iuk', 'uliuk', 
    'učiuk', 'išk', 'iul', 'yl', 'ėl', 'am', 'dam', 'jam', 'zgan', 
    'ain', 'esn', 'op', 'iop', 'ias', 'ies', 'ais', 'iais', 'os', 
    'ios', 'uos', 'iuos', 'aus', 'iaus', 'ąs', 'iąs', 'ęs', 'utėait', 
    'ant', 'iant', 'siant', 'int', 'ot', 'uot', 'iuot', 'yt', 'ėt', 
    'ykšt', 'iau', 'dav', 'sv', 'šv', 'ykšč', 'ę', 'ėję', 
)

_LT_CONFLICTS = {
    'ojime': 'ojimas',
    'ėjime': 'ėjimas',
    'avime': 'avimas',
    'okate': 'okatė',
    'aite': 'aitė',
    'uote': 'uotė',
    'asius': 'asys',
    'okatės': 'okatė',
    'aitės': 'aitė',
    'uotės': 'uotė',
    'esiu': 'esys'}

_LT_CHDZ = {"č": "t", "dž": "d"}


def _lt_p1(word: str) -> int:
    n = len(word)
    start = 1 if n > 6 and word.startswith("a") else 0
    i = start
    while i < n and word[i] not in _LT_VOWELS:
        i += 1
    while i < n and word[i] in _LT_VOWELS:
        i += 1
    if i >= n:
        return n
    return i + 1  # past the first non-vowel after a vowel


def _longest_in(word: str, p1: int, sufs):
    best = None
    for s in sufs:
        if word.endswith(s) and len(word) - len(s) >= p1 \
                and (best is None or len(s) > len(best)):
            best = s
    return best


def _fix_chdz(word: str) -> str:
    # dž is longer, matches first in the among
    if word.endswith("dž"):
        return word[:-2] + "d"
    if word.endswith("č"):
        return word[:-1] + "t"
    return word


def stem_lt(word: str) -> str:
    """LithuanianStemmer.stem: fix_conflicts -> step1 -> fix_chdz ->
    step2 (repeat) -> fix_chdz -> fix_gd."""
    p1 = _lt_p1(word)
    best = None
    for s in _LT_CONFLICTS:
        if word.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    if best is not None:
        word = word[:len(word) - len(best)] + _LT_CONFLICTS[best]
    s = _longest_in(word, p1, _LT_STEP1)
    if s is not None:
        word = word[:len(word) - len(s)]
    word = _fix_chdz(word)
    while True:
        s = _longest_in(word, p1, _LT_STEP2)
        if s is None:
            break
        word = word[:len(word) - len(s)]
    word = _fix_chdz(word)
    if word.endswith("gd"):
        word = word[:-2] + "g"
    return word
