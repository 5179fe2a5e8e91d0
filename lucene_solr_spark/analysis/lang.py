"""Multilingual light stemmers + stop sets (the analyzer starter set
beyond English).

Each stemmer realizes the same published algorithm as the reference's
analysis-common class (Savoy's UniNE / CLEF light stemmers):

  de GermanLightStemmer.java:62      fr FrenchLightStemmer.java:64
  es SpanishLightStemmer.java:62     it ItalianLightStemmer.java:62
  pt PortugueseLightStemmer.java:64  ru RussianLightStemmer.java:63
  sv SwedishLightStemmer.java:64     no NorwegianLightStemmer.java:85
  fi FinnishLightStemmer.java:64     hu HungarianLightStemmer.java:65

All ten are verified token-for-token against the reference classes by
tools/gen_lang_fixtures.py (Java harness) + tests/test_r5f_lang.py —
zero divergences over stop-list, inflected and random vocabularies.
Norwegian runs the default BOKMAAL flag set
(NorwegianLightStemFilter.java:46).

Stop sets live in lang_stop.py (generated from the published snowball
/ reference stop lists by tools/gen_lang_fixtures.py).
"""

from __future__ import annotations


def _ends(s: list, suf: str) -> bool:
    n = len(suf)
    return len(s) >= n and s[-n:] == list(suf)


def _norm_map(s: list, table: dict) -> None:
    for i, c in enumerate(s):
        if c in table:
            s[i] = table[c]


_DE_MAP = {**dict.fromkeys("äàáâ", "a"), **dict.fromkeys("öòóô", "o"),
           **dict.fromkeys("ïìíî", "i"), **dict.fromkeys("üùúû", "u")}
_ST_END = set("bdfghklmnt")


def stem_de(word: str) -> str:
    s = list(word)
    _norm_map(s, _DE_MAP)
    # step1
    n = len(s)
    if n > 5 and s[-3:] == list("ern"):
        s = s[:-3]
    elif n > 4 and len(s) >= 2 and s[-2] == "e" and s[-1] in "mnrs":
        s = s[:-2]
    elif n > 3 and s[-1] == "e":
        s = s[:-1]
    elif n > 3 and s[-1] == "s" and s[-2] in _ST_END:
        s = s[:-1]
    # step2
    n = len(s)
    if n > 5 and s[-3:] == list("est"):
        s = s[:-3]
    elif n > 4 and s[-2] == "e" and s[-1] in "rn":
        s = s[:-2]
    elif n > 4 and s[-2] == "s" and s[-1] == "t" and s[-3] in _ST_END:
        s = s[:-2]
    return "".join(s)


_ES_IT_MAP = {**dict.fromkeys("àáâä", "a"), **dict.fromkeys("òóôö", "o"),
              **dict.fromkeys("èéêë", "e"), **dict.fromkeys("ùúûü", "u"),
              **dict.fromkeys("ìíîï", "i")}


def stem_es(word: str) -> str:
    s = list(word)
    if len(s) < 5:
        return word
    _norm_map(s, _ES_IT_MAP)
    c = s[-1]
    if c in "oae":
        return "".join(s[:-1])
    if c == "s":
        if s[-2] == "e" and s[-3] == "s" and s[-4] == "e":
            return "".join(s[:-2])
        if s[-2] == "e" and s[-3] == "c":
            s[-3] = "z"
            return "".join(s[:-2])
        if s[-2] in "oae":
            return "".join(s[:-2])
    return "".join(s)


def stem_it(word: str) -> str:
    s = list(word)
    if len(s) < 6:
        return word
    _norm_map(s, _ES_IT_MAP)
    c, p = s[-1], s[-2]
    if c == "e":
        return "".join(s[:-2] if p in "ih" else s[:-1])
    if c == "i":
        return "".join(s[:-2] if p in "hi" else s[:-1])
    if c == "a":
        return "".join(s[:-2] if p == "i" else s[:-1])
    if c == "o":
        return "".join(s[:-2] if p == "i" else s[:-1])
    return "".join(s)


_PT_MAP = {**dict.fromkeys("àáâäã", "a"), **dict.fromkeys("òóôöõ", "o"),
           **dict.fromkeys("èéêë", "e"), **dict.fromkeys("ùúûü", "u"),
           **dict.fromkeys("ìíîï", "i"), "ç": "c"}


def _pt_remove_suffix(s: list) -> list:
    n = len(s)
    if n > 4 and _ends(s, "es") and s[-3] in "rslz":
        return s[:-2]
    if n > 3 and _ends(s, "ns"):
        s[-2] = "m"
        return s[:-1]
    if n > 4 and (_ends(s, "eis") or _ends(s, "éis")):
        s[-3] = "e"
        s[-2] = "l"
        return s[:-1]
    if n > 4 and _ends(s, "ais"):
        s[-2] = "l"
        return s[:-1]
    if n > 4 and _ends(s, "óis"):
        s[-3] = "o"
        s[-2] = "l"
        return s[:-1]
    if n > 4 and _ends(s, "is"):
        s[-1] = "l"
        return s
    if n > 3 and (_ends(s, "ões") or _ends(s, "ães")):
        s = s[:-1]
        s[-2] = "ã"
        s[-1] = "o"
        return s
    if n > 6 and _ends(s, "mente"):
        return s[:-5]
    if n > 3 and s[-1] == "s":
        return s[:-1]
    return s


def _pt_norm_feminine(s: list) -> list:
    n = len(s)
    if n > 7 and (_ends(s, "inha") or _ends(s, "iaca")
                  or _ends(s, "eira")):
        s[-1] = "o"
        return s
    if n > 6:
        if (_ends(s, "osa") or _ends(s, "ica") or _ends(s, "ida")
                or _ends(s, "ada") or _ends(s, "iva")
                or _ends(s, "ama")):
            s[-1] = "o"
            return s
        if _ends(s, "ona"):
            s[-3] = "ã"
            s[-2] = "o"
            return s[:-1]
        if _ends(s, "ora"):
            return s[:-1]
        if _ends(s, "esa"):
            s[-3] = "ê"
            return s[:-1]
        if _ends(s, "na"):
            s[-1] = "o"
            return s
    return s


def stem_pt(word: str) -> str:
    s = list(word)
    if len(s) < 4:
        return word
    s = _pt_remove_suffix(s)
    if len(s) > 3 and s[-1] == "a":
        s = _pt_norm_feminine(s)
    if len(s) > 4 and s[-1] in "eao":
        s = s[:-1]
    _norm_map(s, _PT_MAP)
    return "".join(s)


_RU_4 = ("иями", "оями")
_RU_3 = ("иям", "иях", "оях", "ями", "оям", "оьв", "ами", "его", "ему",
         "ери", "ими", "ого", "ому", "ыми", "оев")
_RU_2 = ("ая", "яя", "ях", "юю", "ах", "ею", "их", "ия", "ию", "ьв",
         "ою", "ую", "ям", "ых", "ея", "ам", "ем", "ей", "ём", "ев",
         "ий", "им", "ое", "ой", "ом", "ов", "ые", "ый", "ым", "ми")


def stem_ru(word: str) -> str:
    s = list(word)
    n = len(s)
    # removeCase
    if n > 6 and any(_ends(s, x) for x in _RU_4):
        s = s[:-4]
    elif n > 5 and any(_ends(s, x) for x in _RU_3):
        s = s[:-3]
    elif n > 4 and any(_ends(s, x) for x in _RU_2):
        s = s[:-2]
    elif n > 3 and s[-1] in "аеиоуйыяь":
        s = s[:-1]
    # normalize
    n = len(s)
    if n > 3:
        if s[-1] in "ьи":
            s = s[:-1]
        elif s[-1] == "н" and s[-2] == "н":
            s = s[:-1]
    return "".join(s)


def stem_sv(word: str) -> str:
    s = list(word)
    if len(s) > 4 and s[-1] == "s":
        s = s[:-1]
    n = len(s)
    if n > 7 and (_ends(s, "elser") or _ends(s, "heten")):
        return "".join(s[:-5])
    if n > 6 and (_ends(s, "arne") or _ends(s, "erna")
                  or _ends(s, "ande") or _ends(s, "else")
                  or _ends(s, "aste") or _ends(s, "orna")
                  or _ends(s, "aren")):
        return "".join(s[:-4])
    if n > 5 and (_ends(s, "are") or _ends(s, "ast")
                  or _ends(s, "het")):
        return "".join(s[:-3])
    if n > 4 and (_ends(s, "ar") or _ends(s, "er") or _ends(s, "or")
                  or _ends(s, "en") or _ends(s, "at")
                  or _ends(s, "te") or _ends(s, "et")):
        return "".join(s[:-2])
    if n > 3 and s[-1] in "taen":
        return "".join(s[:-1])
    return "".join(s)


def stem_no(word: str) -> str:
    """BOKMAAL flags (the NorwegianLightStemFilter default)."""
    s = list(word)
    if len(s) > 4 and s[-1] == "s":
        s = s[:-1]
    n = len(s)
    if n > 7 and (_ends(s, "heter") or _ends(s, "heten")):
        return "".join(s[:-5])
    if n > 5 and (_ends(s, "dom") or _ends(s, "het")):
        return "".join(s[:-3])
    if n > 7 and (_ends(s, "elser") or _ends(s, "elsen")):
        return "".join(s[:-5])
    if n > 6 and (_ends(s, "ende") or _ends(s, "else")
                  or _ends(s, "este") or _ends(s, "eren")):
        return "".join(s[:-4])
    if n > 5 and (_ends(s, "ere") or _ends(s, "est")
                  or _ends(s, "ene")):
        return "".join(s[:-3])
    if n > 4 and (_ends(s, "er") or _ends(s, "en") or _ends(s, "et")
                  or _ends(s, "st") or _ends(s, "te")):
        return "".join(s[:-2])
    if n > 3 and s[-1] in "aen":
        return "".join(s[:-1])
    return "".join(s)


_VOWELS_Y = set("aeiouy")


def _fi_step1(s: list) -> list:
    if len(s) > 8:
        if _ends(s, "kin"):
            return _fi_step1(s[:-3])
        if _ends(s, "ko"):
            return _fi_step1(s[:-2])
    if len(s) > 11:
        if _ends(s, "dellinen"):
            return s[:-8]
        if _ends(s, "dellisuus"):
            return s[:-9]
    return s


def _fi_step2(s: list) -> list:
    if len(s) > 5:
        if _ends(s, "lla") or _ends(s, "tse") or _ends(s, "sti"):
            return s[:-3]
        if _ends(s, "ni"):
            return s[:-2]
        if _ends(s, "aa"):
            return s[:-1]
    return s


def _fi_step3(s: list) -> list:
    n = len(s)
    if n > 8:
        if _ends(s, "nnen"):
            s[-4] = "s"
            return s[:-3]
        if _ends(s, "ntena"):
            s[-5] = "s"
            return s[:-4]
        if _ends(s, "tten"):
            return s[:-4]
        if _ends(s, "eiden"):
            return s[:-5]
    if n > 6:
        if (_ends(s, "neen") or _ends(s, "niin") or _ends(s, "seen")
                or _ends(s, "teen") or _ends(s, "inen")):
            return s[:-4]
        if s[-3] == "h" and s[-2] in _VOWELS_Y and s[-1] == "n":
            return s[:-3]
        if _ends(s, "den"):
            s[-3] = "s"
            return s[:-2]
        if _ends(s, "ksen"):
            s[-4] = "s"
            return s[:-3]
        if (_ends(s, "ssa") or _ends(s, "sta") or _ends(s, "lla")
                or _ends(s, "lta") or _ends(s, "tta")
                or _ends(s, "ksi") or _ends(s, "lle")):
            return s[:-3]
    if n > 5:
        if _ends(s, "na") or _ends(s, "ne"):
            return s[:-2]
        if _ends(s, "nei"):
            return s[:-3]
    if n > 4:
        if _ends(s, "ja") or _ends(s, "ta"):
            return s[:-2]
        if s[-1] == "a":
            return s[:-1]
        if s[-1] == "n" and s[-2] in _VOWELS_Y:
            return s[:-2]
        if s[-1] == "n":
            return s[:-1]
    return s


def _fi_norm1(s: list) -> list:
    if len(s) > 5 and _ends(s, "hde"):
        s[-3] = "k"
        s[-2] = "s"
        s[-1] = "i"
    if len(s) > 4 and (_ends(s, "ei") or _ends(s, "at")):
        return s[:-2]
    if len(s) > 3 and s[-1] in "tsjeai":
        return s[:-1]
    return s


def _fi_norm2(s: list) -> list:
    if len(s) > 8 and s[-1] in "eou":
        s = s[:-1]
    if len(s) > 4:
        if s[-1] == "i":
            s = s[:-1]
        if len(s) > 4:
            # collapse repeated k/p/t runs
            out = [s[0]]
            ch = s[0]
            for c in s[1:]:
                if c == ch and ch in "kpt":
                    continue
                out.append(c)
                ch = c
            s = out
    return s


def stem_fi(word: str) -> str:
    s = list(word)
    if len(s) < 4:
        return word
    _norm_map(s, {"ä": "a", "å": "a", "ö": "o"})
    s = _fi_step1(s)
    s = _fi_step2(s)
    s = _fi_step3(s)
    s = _fi_norm1(s)
    s = _fi_norm2(s)
    return "".join(s)


_HU_MAP = {"á": "a", "ë": "e", "é": "e", "í": "i",
           **dict.fromkeys("óőõö", "o"), **dict.fromkeys("úűũûü", "u")}
_HU_CASE3 = ("nak", "nek", "val", "vel", "ert", "rol", "ban", "ben",
             "bol", "nal", "nel", "hoz", "hez", "tol")
_HU_CASE2 = ("at", "et", "ot", "va", "ve", "ra", "re", "ba", "be",
             "ul", "ig")


def _hu_remove_case(s: list) -> list:
    n = len(s)
    if n > 6 and _ends(s, "kent"):
        return s[:-4]
    if n > 5:
        if any(_ends(s, x) for x in _HU_CASE3):
            return s[:-3]
        if (_ends(s, "al") or _ends(s, "el")) and \
                s[-3] not in _VOWELS_Y and s[-3] == s[-4]:
            return s[:-3]
    if n > 4:
        if any(_ends(s, x) for x in _HU_CASE2):
            return s[:-2]
        if (_ends(s, "on") or _ends(s, "en")) and \
                s[-3] not in _VOWELS_Y:
            return s[:-2]
        c = s[-1]
        if c in "tn":
            return s[:-1]
        if c in "ae" and s[-2] == s[-3] and s[-2] not in _VOWELS_Y:
            return s[:-2]
    return s


def _hu_remove_possessive(s: list) -> list:
    n = len(s)
    if n > 6:
        if s[-5] not in _VOWELS_Y and \
                (_ends(s, "atok") or _ends(s, "otok")
                 or _ends(s, "etek")):
            return s[:-4]
        if _ends(s, "itek") or _ends(s, "itok"):
            return s[:-4]
    if n > 5:
        if s[-4] not in _VOWELS_Y and \
                (_ends(s, "unk") or _ends(s, "tok")
                 or _ends(s, "tek")):
            return s[:-3]
        if s[-4] in _VOWELS_Y and _ends(s, "juk"):
            return s[:-3]
        if _ends(s, "ink"):
            return s[:-3]
    if n > 4:
        if s[-3] not in _VOWELS_Y and \
                (_ends(s, "am") or _ends(s, "em") or _ends(s, "om")
                 or _ends(s, "ad") or _ends(s, "ed") or _ends(s, "od")
                 or _ends(s, "uk")):
            return s[:-2]
        if s[-3] in _VOWELS_Y and \
                (_ends(s, "nk") or _ends(s, "ja") or _ends(s, "je")):
            return s[:-2]
        if _ends(s, "im") or _ends(s, "id") or _ends(s, "ik"):
            return s[:-2]
    if n > 3:
        c = s[-1]
        if c in "ae":
            if s[-2] not in _VOWELS_Y:
                return s[:-1]
        elif c in "md":
            if s[-2] in _VOWELS_Y:
                return s[:-1]
        elif c == "i":
            return s[:-1]
    return s


def _hu_remove_plural(s: list) -> list:
    if len(s) > 3 and s[-1] == "k":
        if s[-2] in "aoe" and len(s) > 4:
            return s[:-2]
        return s[:-1]
    return s


def stem_hu(word: str) -> str:
    s = list(word)
    _norm_map(s, _HU_MAP)
    s = _hu_remove_case(s)
    s = _hu_remove_possessive(s)
    s = _hu_remove_plural(s)
    if len(s) > 3 and s[-1] in "aeio":
        s = s[:-1]
    return "".join(s)


_FR_NORM_MAP = {**dict.fromkeys("àáâ", "a"), "ô": "o",
                **dict.fromkeys("èéê", "e"), "ù": "u", "û": "u",
                "î": "i", "ç": "c"}


def _fr_norm(s: list) -> list:
    if len(s) > 4:
        _norm_map(s, _FR_NORM_MAP)
        out = [s[0]]
        ch = s[0]
        for c in s[1:]:
            if c == ch and ch.isalpha():
                continue
            out.append(c)
            ch = c
        s = out
    if len(s) > 4 and _ends(s, "ie"):
        s = s[:-2]
    if len(s) > 4:
        if s[-1] == "r":
            s = s[:-1]
        if s and s[-1] == "e":
            s = s[:-1]
        if s and s[-1] == "e":
            s = s[:-1]
        if len(s) >= 2 and s[-1] == s[-2] and s[-1].isalpha():
            s = s[:-1]
    return s


def stem_fr(word: str) -> str:
    s = list(word)
    n = len(s)
    if n > 5 and s[-1] == "x":
        if s[-3] == "a" and s[-2] == "u" and s[-4] != "e":
            s[-2] = "l"
        s = s[:-1]
    if len(s) > 3 and s[-1] == "x":
        s = s[:-1]
    if len(s) > 3 and s[-1] == "s":
        s = s[:-1]
    n = len(s)
    if n > 9 and _ends(s, "issement"):
        s = s[:-6]
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 8 and _ends(s, "issant"):
        s = s[:-4]
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 6 and _ends(s, "ement"):
        s = s[:-4]
        if len(s) > 3 and _ends(s, "ive"):
            s = s[:-1]
            s[-1] = "f"
        return "".join(_fr_norm(s))
    if n > 11 and _ends(s, "ficatrice"):
        s = s[:-5]
        s[-2] = "e"
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 10 and _ends(s, "ficateur"):
        s = s[:-4]
        s[-2] = "e"
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 9 and _ends(s, "catrice"):
        s = s[:-3]
        s[-4] = "q"
        s[-3] = "u"
        s[-2] = "e"
        return "".join(_fr_norm(s))
    if n > 8 and _ends(s, "cateur"):
        s = s[:-2]
        s[-4] = "q"
        s[-3] = "u"
        s[-2] = "e"
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 8 and _ends(s, "atrice"):
        s = s[:-4]
        s[-2] = "e"
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 7 and _ends(s, "ateur"):
        s = s[:-3]
        s[-2] = "e"
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 6 and _ends(s, "trice"):
        s = s[:-1]
        s[-3] = "e"
        s[-2] = "u"
        s[-1] = "r"
        n = len(s)   # falls through (no return in the reference)
    if n > 5 and _ends(s, "ième"):
        return "".join(_fr_norm(s[:-4]))
    if n > 7 and _ends(s, "teuse"):
        s = s[:-2]
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 6 and _ends(s, "teur"):
        s = s[:-1]
        s[-1] = "r"
        return "".join(_fr_norm(s))
    if n > 5 and _ends(s, "euse"):
        return "".join(_fr_norm(s[:-2]))
    if n > 8 and _ends(s, "ère"):
        s = s[:-1]
        s[-2] = "e"
        return "".join(_fr_norm(s))
    if n > 7 and _ends(s, "ive"):
        s = s[:-1]
        s[-1] = "f"
        return "".join(_fr_norm(s))
    if n > 4 and (_ends(s, "folle") or _ends(s, "molle")):
        s = s[:-2]
        s[-1] = "u"
        return "".join(_fr_norm(s))
    if n > 9 and _ends(s, "nnelle"):
        return "".join(_fr_norm(s[:-5]))
    if n > 9 and _ends(s, "nnel"):
        return "".join(_fr_norm(s[:-3]))
    if n > 4 and _ends(s, "ète"):
        s = s[:-1]
        s[-2] = "e"
        n = len(s)   # falls through
    if n > 8 and _ends(s, "ique"):
        s = s[:-4]
        n = len(s)   # falls through
    if n > 8 and _ends(s, "esse"):
        return "".join(_fr_norm(s[:-3]))
    if n > 7 and _ends(s, "inage"):
        return "".join(_fr_norm(s[:-3]))
    if n > 9 and _ends(s, "isation"):
        s = s[:-7]
        if len(s) > 5 and _ends(s, "ual"):
            s[-2] = "e"
        return "".join(_fr_norm(s))
    if n > 9 and _ends(s, "isateur"):
        return "".join(_fr_norm(s[:-7]))
    if n > 8 and _ends(s, "ation"):
        return "".join(_fr_norm(s[:-5]))
    if n > 8 and _ends(s, "ition"):
        return "".join(_fr_norm(s[:-5]))
    return "".join(_fr_norm(s))


STEMMERS = {
    "de": stem_de, "fr": stem_fr, "es": stem_es, "it": stem_it,
    "pt": stem_pt, "ru": stem_ru, "sv": stem_sv, "no": stem_no,
    "fi": stem_fi, "hu": stem_hu,
}

# ---------------------------------------------------------------------
# analyzer chains
# ---------------------------------------------------------------------

#: ElisionFilter article sets (FrenchAnalyzer.java:61,
#: ItalianAnalyzer.java:50, IrishAnalyzer DEFAULT_ARTICLES,
#: CatalanAnalyzer DEFAULT_ARTICLES) — matched case-insensitively
#: against the prefix before the first apostrophe, which is then
#: stripped.
ELISION_ARTICLES = {
    "fr": frozenset(("l", "m", "t", "qu", "n", "s", "j", "d", "c",
                     "jusqu", "quoiqu", "lorsqu", "puisqu")),
    "it": frozenset(("c", "l", "all", "dall", "dell", "nell", "sull",
                     "coll", "pell", "gl", "agl", "dagl", "degl",
                     "negl", "sugl", "un", "m", "t", "s", "v", "d")),
    "ga": frozenset(("d", "m", "b")),
    "ca": frozenset(("d", "l", "m", "n", "s", "t")),
}


def elide(lang: str, token: str) -> str:
    """ElisionFilter.incrementToken (ElisionFilter.java:51): strip
    ``article'`` prefixes at the FIRST apostrophe only."""
    arts = ELISION_ARTICLES.get(lang)
    if not arts:
        return token
    for i, ch in enumerate(token):
        if ch in ("'", "’"):
            if token[:i].lower() in arts:
                return token[i + 1:]
            return token
    return token


def lang_analyze(lang: str, text: str) -> tuple:
    """(terms, positions) for the language's analyzer chain —
    StandardTokenizer + [Elision (fr/it)] + LowerCase + Stop + light
    stem, the core of the reference's per-language Analyzer
    (e.g. GermanAnalyzer.java createComponents; the reference
    additionally applies language normalization/keyword-marker filters
    not in this starter set — documented subset). Stopwords are
    removed AFTER lowercasing and leave position gaps
    (StopFilter/FilteringTokenFilter posIncr semantics)."""
    from .analyzers import MAX_TOKEN_LENGTH
    from .lang_stop import STOP_SETS
    from .uax29 import simple_lower
    from .uax29 import tokenize as _uax29_tokenize
    stops = STOP_SETS[lang]
    stem = STEMMERS[lang]
    terms, positions = [], []
    pos = -1
    for tok, inc, _typ in _uax29_tokenize(text or "", MAX_TOKEN_LENGTH):
        pos += inc
        t = simple_lower(elide(lang, tok))
        if t in stops:
            continue
        terms.append(stem(t))
        positions.append(pos)
    return terms, positions
