"""Armenian analyzer chain (round 5b):
ArmenianAnalyzer.createComponents:96 — StandardTokenizer + LowerCase
+ StopFilter + SnowballFilter(ArmenianStemmer).  The stemmer realizes
the published Snowball "armenian" algorithm
(ArmenianStemmer.java:35): RV = after the first vowel, R2 standard;
four plain suffix tables applied in sequence — case endings (R2),
verb, adjective, noun — each deleting the longest suffix that lies
entirely inside RV.  Armenian vowels: \u0561 \u0565 \u0567 \u0568
\u056b \u0578 \u0582 \u0585.

Verified token-for-token against the COMPILED reference
ArmenianAnalyzer (tools/gen_snowball_fixtures.py goldens,
tests/test_analysis_chains.py).
"""

from __future__ import annotations

_HY_VOWELS = frozenset("աեէըիուօ")

_HY_A_0 = (
    'րորդ', 'երորդ', 'ալի', 'ակի', 'որակ', 'եղ', 'ական', 'արան', 
    'են', 'եկեն', 'երեն', 'որէն', 'ին', 'գին', 'ովին', 'լայն', 
    'վուն', 'պես', 'իվ', 'ատ', 'ավետ', 'կոտ', 'բար', 
)
_HY_A_1 = (
    'ա', 'ացա', 'եցա', 'վե', 'ացրի', 'ացի', 'եցի', 'վեցի', 'ալ', 
    'ըալ', 'անալ', 'ենալ', 'ացնալ', 'ել', 'ըել', 'նել', 'ցնել', 
    'եցնել', 'չել', 'վել', 'ացվել', 'եցվել', 'տել', 'ատել', 'ոտել', 
    'կոտել', 'ված', 'ում', 'վում', 'ան', 'ցան', 'ացան', 'ացրին', 
    'ացին', 'եցին', 'վեցին', 'ալիս', 'ելիս', 'ավ', 'ացավ', 'եցավ', 
    'ալով', 'ելով', 'ար', 'ացար', 'եցար', 'ացրիր', 'ացիր', 'եցիր', 
    'վեցիր', 'աց', 'եց', 'ացրեց', 'ալուց', 'ելուց', 'ալու', 'ելու', 
    'աք', 'ցաք', 'ացաք', 'ացրիք', 'ացիք', 'եցիք', 'վեցիք', 'անք', 
    'ցանք', 'ացանք', 'ացրինք', 'ացինք', 'եցինք', 'վեցինք', 
)
_HY_A_2 = (
    'որդ', 'ույթ', 'ուհի', 'ցի', 'իլ', 'ակ', 'յակ', 'անակ', 'իկ', 
    'ուկ', 'ան', 'պան', 'ստան', 'արան', 'եղէն', 'յուն', 'ություն', 
    'ածո', 'իչ', 'ուս', 'ուստ', 'գար', 'վոր', 'ավոր', 'ոց', 'անօց', 
    'ու', 'ք', 'չեք', 'իք', 'ալիք', 'անիք', 'վածք', 'ույք', 'ենք', 
    'ոնք', 'ունք', 'մունք', 'իչք', 'արք', 
)
_HY_A_3 = (
    'սա', 'վա', 'ամբ', 'դ', 'անդ', 'ությանդ', 'վանդ', 'ոջդ', 'երդ', 
    'ներդ', 'ուդ', 'ը', 'անը', 'ությանը', 'վանը', 'ոջը', 'երը', 
    'ները', 'ի', 'վի', 'երի', 'ների', 'անում', 'երում', 'ներում', 
    'ն', 'ան', 'ության', 'վան', 'ին', 'երին', 'ներին', 'ությանն', 
    'երն', 'ներն', 'ուն', 'ոջ', 'ությանս', 'վանս', 'ոջս', 'ով', 
    'անով', 'վով', 'երով', 'ներով', 'եր', 'ներ', 'ց', 'ից', 'վանից', 
    'ոջից', 'վից', 'երից', 'ներից', 'ցից', 'ոց', 'ուց', 
)


def _regions(word: str):
    """pV = after the first vowel; p2 = after the first non-vowel
    that follows the vowel that follows the first non-vowel after pV
    (the four-scan sequence of r_mark_regions)."""
    n = len(word)
    pV = p2 = n
    i = 0
    while i < n and word[i] not in _HY_VOWELS:
        i += 1
    if i >= n:
        return pV, p2
    pV = i + 1
    j = pV
    while j < n and word[j] in _HY_VOWELS:
        j += 1
    if j >= n:
        return pV, p2
    j += 1  # consumed the first non-vowel
    while j < n and word[j] not in _HY_VOWELS:
        j += 1
    if j >= n:
        return pV, p2
    j += 1  # consumed the second vowel
    while j < n and word[j] in _HY_VOWELS:
        j += 1
    if j >= n:
        return pV, p2
    p2 = j + 1  # consumed the following non-vowel
    return pV, p2


def _del_longest(word: str, pV: int, sufs, p2=None):
    best = None
    for s in sufs:
        if word.endswith(s) and len(word) - len(s) >= pV                 and (best is None or len(s) > len(best)):
            best = s
    if best is None:
        return word
    if p2 is not None and len(word) - len(best) < p2:
        return word
    return word[:len(word) - len(best)]


def stem_hy(word: str) -> str:
    """ArmenianStemmer.stem: ending (R2) -> verb -> adjective -> noun,
    all within RV."""
    pV, p2 = _regions(word)
    if len(word) < pV:
        return word
    word = _del_longest(word, pV, _HY_A_3, p2=p2)   # case endings
    word = _del_longest(word, pV, _HY_A_1)          # verb
    word = _del_longest(word, pV, _HY_A_0)          # adjective
    word = _del_longest(word, pV, _HY_A_2)          # noun
    return word
