"""Language analyzers, second wave (round 4): Arabic, Persian,
Bulgarian, Czech, Hindi, Indonesian, Latvian — the remaining reference
analyzers whose DEFAULT chains are light stemmers / normalizers (not
Snowball programs).  Python twins of the reference classes, verified
token-for-token against the COMPILED reference analyzers over fixture
corpora (tools/gen_lang2_fixtures.py).

Reference chains (each {Lang}Analyzer.createComponents):
  ar: StandardTokenizer > LowerCase > DecimalDigit > Stop(unnormalized
      list) > ArabicNormalization > ArabicStem         (ar/*.java)
  fa: PersianCharFilter(ZWNJ->space, BEFORE tokenization) > Standard >
      LowerCase > DecimalDigit > ArabicNormalization >
      PersianNormalization > Stop(normalized list)     (fa/*.java)
  bg: Standard > LowerCase > Stop > BulgarianStem      (bg/*.java)
  cz: Standard > LowerCase > Stop > CzechStem          (cz/*.java)
  hi: Standard > LowerCase > DecimalDigit > IndicNormalization >
      HindiNormalization > Stop > HindiStem            (hi/*.java,
      in/IndicNormalizer.java)
  id: Standard > LowerCase > Stop > IndonesianStem(derivational)
                                                       (id/*.java)
  lv: Standard > LowerCase > Stop > LatvianStem        (lv/*.java)

Tokenization is the exact UAX#29 kernel (analysis/uax29_vec);
lowercasing is Character.toLowerCase parity (uax29.simple_lower);
stop sets are generated verbatim from the reference resources
(analysis/lang2_stop.py).
"""

from __future__ import annotations

import unicodedata
from typing import List, Tuple

# ------------------------------------------------------ DecimalDigit


def decimal_digit(term: str) -> str:
    """DecimalDigitFilter (core/DecimalDigitFilter.java): any
    non-basic-latin decimal digit folds to its 0-9 equivalent."""
    out = []
    for c in term:
        if ord(c) > 0x7F:
            d = unicodedata.decimal(c, None)
            if d is not None:
                out.append(chr(0x30 + d))
                continue
        out.append(c)
    return "".join(out)


# ------------------------------------------------------------ Arabic

_AR_MAP = {
    "آ": "ا", "أ": "ا", "إ": "ا",
    "ى": "ي", "ة": "ه",
}
_AR_DEL = set("ـًٌٍَُِّْ")


def arabic_normalize(term: str) -> str:
    """ArabicNormalizer.java: alef/yeh/teh-marbuta folding; tatweel and
    diacritics deleted."""
    out = []
    for c in term:
        if c in _AR_DEL:
            continue
        out.append(_AR_MAP.get(c, c))
    return "".join(out)


_AR_PREFIXES = ("ال", "وال",
                "بال", "كال",
                "فال", "لل", "و")
_AR_SUFFIXES = ("ها", "ان", "ات",
                "ون", "ين", "يه",
                "ية", "ه", "ة", "ي")


def arabic_stem(term: str) -> str:
    """ArabicStemmer.java: one prefix (first match; wa- needs length
    >= 4, others >= len+2), then every matching suffix in list order
    (each requires 2 chars left after stripping)."""
    s = term
    for p in _AR_PREFIXES:
        n = len(s)
        if len(p) == 1:
            ok = n >= 4 and s.startswith(p)
        else:
            ok = n >= len(p) + 2 and s.startswith(p)
        if ok:
            s = s[len(p):]
            break
    for suf in _AR_SUFFIXES:
        if len(s) >= len(suf) + 2 and s.endswith(suf):
            s = s[:-len(suf)]
    return s


# ----------------------------------------------------------- Persian

_FA_MAP = {
    "ی": "ي", "ے": "ي",   # farsi yeh / yeh barree
    "ک": "ك",                        # keheh -> kaf
    "ۀ": "ه", "ہ": "ه",    # heh+yeh / heh goal
}


def persian_normalize(term: str) -> str:
    """PersianNormalizer.java: yeh/kaf/heh folding; hamza-above
    deleted."""
    out = []
    for c in term:
        if c == "ٔ":
            continue
        out.append(_FA_MAP.get(c, c))
    return "".join(out)


def persian_char_filter(text: str) -> str:
    """PersianCharFilter.java: ZWNJ becomes a space (pre-tokenizer)."""
    return text.replace("‌", " ")


# --------------------------------------------------------- Bulgarian

def bulgarian_stem(term: str) -> str:
    """BulgarianStemmer.java (Nakov's BulStem, the fixed variant)."""
    s = list(term)
    ln = len(s)
    if ln < 4:
        return term

    def ends(suf):
        return "".join(s[:ln]).endswith(suf)

    if ln > 5 and ends("ища"):
        return "".join(s[:ln - 3])
    # removeArticle
    if ln > 6 and ends("ият"):
        ln -= 3
    elif ln > 5 and (ends("ът") or ends("то") or ends("те")
                     or ends("та") or ends("ия")):
        ln -= 2
    elif ln > 4 and ends("ят"):
        ln -= 2
    # removePlural
    if ln > 6 and ends("овци"):
        ln -= 3
    elif ln > 6 and ends("ове"):
        ln -= 3
    elif ln > 6 and ends("еве"):
        s[ln - 3] = "й"
        ln -= 2
    elif ln > 5 and ends("ища"):
        ln -= 3
    elif ln > 5 and ends("та"):
        ln -= 2
    elif ln > 5 and ends("ци"):
        s[ln - 2] = "к"
        ln -= 1
    elif ln > 5 and ends("зи"):
        s[ln - 2] = "г"
        ln -= 1
    elif ln > 5 and s[ln - 3] == "е" and s[ln - 1] == "и":
        s[ln - 3] = "я"
        ln -= 1
    elif ln > 4 and ends("си"):
        s[ln - 2] = "х"
        ln -= 1
    elif ln > 4 and ends("и"):
        ln -= 1
    if ln > 3:
        if ends("я"):
            ln -= 1
        if ends("а") or ends("о") or ends("е"):
            ln -= 1
    if ln > 4 and ends("ен"):
        s[ln - 2] = "н"
        ln -= 1
    if ln > 5 and s[ln - 2] == "ъ":
        s[ln - 2] = s[ln - 1]
        ln -= 1
    return "".join(s[:ln])


# ------------------------------------------------------------- Czech

_CZ_5 = ("ech", "ich", "ích", "ého", "ěmi", "emi", "ému", "ěte",
         "ete", "ěti", "eti", "ího", "iho", "ími", "ímu", "imu",
         "ách", "ata", "aty", "ých", "ama", "ami", "ové", "ovi",
         "ými")
_CZ_4 = ("em", "es", "ém", "ím", "ům", "at", "ám", "os", "us", "ým",
         "mi", "ou")
_CZ_VOW = set("aeiouůyáéíýě")


def czech_stem(term: str) -> str:
    """CzechStemmer.java (Dolamic/Savoy light stemmer for Czech)."""
    s = list(term)
    ln = len(s)

    def ends(suf):
        return "".join(s[:ln]).endswith(suf)

    # removeCase
    if ln > 7 and ends("atech"):
        ln -= 5
    elif ln > 6 and (ends("ětem") or ends("etem") or ends("atům")):
        ln -= 4
    elif ln > 5 and any(ends(x) for x in _CZ_5):
        ln -= 3
    elif ln > 4 and any(ends(x) for x in _CZ_4):
        ln -= 2
    elif ln > 3 and s[ln - 1] in _CZ_VOW:
        ln -= 1
    # removePossessives
    if ln > 5 and (ends("ov") or ends("in") or ends("ův")):
        ln -= 2
    # normalize
    if ln > 0:
        if ends("čt"):
            s[ln - 2] = "c"
            s[ln - 1] = "k"
        elif ends("št"):
            s[ln - 2] = "s"
            s[ln - 1] = "k"
        elif s[ln - 1] in ("c", "č"):
            s[ln - 1] = "k"
        elif s[ln - 1] in ("z", "ž"):
            s[ln - 1] = "h"
        elif ln > 1 and s[ln - 2] == "e":
            s[ln - 2] = s[ln - 1]
            ln -= 1
        elif ln > 2 and s[ln - 2] == "ů":
            s[ln - 2] = "o"
    return "".join(s[:ln])


# ------------------------------------------------------------- Hindi

_HI_MAP = {
    "ँ": "ं", "ऩ": "न", "ऱ": "र",
    "ऴ": "ळ", "क़": "क", "ख़": "ख",
    "ग़": "ग", "ज़": "ज", "ड़": "ड",
    "ढ़": "ढ", "फ़": "फ", "य़": "य",
    "ॅ": "े", "ॆ": "े", "ॉ": "ो",
    "ॊ": "ो", "ऍ": "ए", "ऎ": "ए",
    "ऑ": "ओ", "ऒ": "ओ", "ॲ": "अ",
    "आ": "अ", "ई": "इ", "ऊ": "उ",
    "ॠ": "ऋ", "ॡ": "ऌ", "ऐ": "ए",
    "औ": "ओ", "ी": "ि", "ू": "ु",
    "ॄ": "ृ", "ॣ": "ॢ", "ै": "े",
    "ौ": "ो",
}
_HI_DEL = {"़", "‍", "‌", "्"}


def hindi_normalize(term: str) -> str:
    """HindiNormalizer.java: dead-n to bindu, nukta folds, zwj/zwnj
    and virama deletion, chandra/long-vowel shortening."""
    s = list(term)
    out = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "न" and i + 1 < n and s[i + 1] == "्":
            out.append("ं")
            i += 2
            continue
        if c in _HI_DEL:
            i += 1
            continue
        out.append(_HI_MAP.get(c, c))
        i += 1
    return "".join(out)


_HI_SUF_5 = ("ाएंगी", "ाएंगे", "ाऊंगी", "ाऊंगा", "ाइयाँ", "ाइयों",
             "ाइयां")
_HI_SUF_4 = ("ाएगी", "ाएगा", "ाओगी", "ाओगे", "एंगी", "ेंगी", "एंगे",
             "ेंगे", "ूंगी", "ूंगा", "ातीं", "नाओं", "नाएं", "ताओं",
             "ताएं", "ियाँ", "ियों", "ियां")
_HI_SUF_3 = ("ाकर", "ाइए", "ाईं", "ाया", "ेगी", "ेगा", "ोगी", "ोगे",
             "ाने", "ाना", "ाते", "ाती", "ाता", "तीं", "ाओं", "ाएं",
             "ुओं", "ुएं", "ुआं")
_HI_SUF_2 = ("कर", "ाओ", "िए", "ाई", "ाए", "ने", "नी", "ना", "ते",
             "ीं", "ती", "ता", "ाँ", "ां", "ों", "ें")
_HI_SUF_1 = ("ो", "े", "ू", "ु", "ी", "ि", "ा")


def hindi_stem(term: str) -> str:
    """HindiStemmer.java (lightweight Hindi stemmer, Ramanathan &
    Rao)."""
    n = len(term)
    for k, sufs, guard in ((5, _HI_SUF_5, 6), (4, _HI_SUF_4, 5),
                           (3, _HI_SUF_3, 4), (2, _HI_SUF_2, 3),
                           (1, _HI_SUF_1, 2)):
        if n > guard and any(term.endswith(x) for x in sufs):
            return term[:-k]
    return term


# ---------------------------------------------- Indic normalization

_INDIC_SCRIPTS = {
    # block range start -> (flag, base); blocks are 0x80 wide
    0x0900: 1, 0x0980: 2, 0x0A00: 4, 0x0A80: 8, 0x0B00: 16,
    0x0B80: 32, 0x0C00: 64, 0x0C80: 128, 0x0D00: 256,
}
_DEV, _BEN, _GUR, _GUJ, _ORI, _TAM, _TEL, _KAN, _MAL = \
    1, 2, 4, 8, 16, 32, 64, 128, 256
# (ch1, ch2, ch3, res, flags) — IndicNormalizer.java decompositions
_INDIC_DECOMP = (
    (0x05, 0x3E, 0x45, 0x11, _DEV | _GUJ),
    (0x05, 0x3E, 0x46, 0x12, _DEV),
    (0x05, 0x3E, 0x47, 0x13, _DEV | _GUJ),
    (0x05, 0x3E, 0x48, 0x14, _DEV | _GUJ),
    (0x05, 0x3E, -1, 0x06, _DEV | _BEN | _GUR | _GUJ | _ORI),
    (0x05, 0x45, -1, 0x72, _DEV),
    (0x05, 0x45, -1, 0x0D, _GUJ),
    (0x05, 0x46, -1, 0x04, _DEV),
    (0x05, 0x47, -1, 0x0F, _GUJ),
    (0x05, 0x48, -1, 0x10, _GUR | _GUJ),
    (0x05, 0x49, -1, 0x11, _DEV | _GUJ),
    (0x05, 0x4A, -1, 0x12, _DEV),
    (0x05, 0x4B, -1, 0x13, _DEV | _GUJ),
    (0x05, 0x4C, -1, 0x14, _DEV | _GUR | _GUJ),
    (0x06, 0x45, -1, 0x11, _DEV | _GUJ),
    (0x06, 0x46, -1, 0x12, _DEV),
    (0x06, 0x47, -1, 0x13, _DEV | _GUJ),
    (0x06, 0x48, -1, 0x14, _DEV | _GUJ),
    (0x07, 0x57, -1, 0x08, _MAL),
    (0x09, 0x41, -1, 0x0A, _DEV),
    (0x09, 0x57, -1, 0x0A, _TAM | _MAL),
    (0x0E, 0x46, -1, 0x10, _MAL),
    (0x0F, 0x45, -1, 0x0D, _DEV),
    (0x0F, 0x46, -1, 0x0E, _DEV),
    (0x0F, 0x47, -1, 0x10, _DEV),
    (0x0F, 0x57, -1, 0x10, _ORI),
    (0x12, 0x3E, -1, 0x13, _MAL),
    (0x12, 0x4C, -1, 0x14, _TEL | _KAN),
    (0x12, 0x55, -1, 0x13, _TEL),
    (0x12, 0x57, -1, 0x14, _TAM | _MAL),
    (0x13, 0x57, -1, 0x14, _ORI),
    (0x15, 0x3C, -1, 0x58, _DEV),
    (0x16, 0x3C, -1, 0x59, _DEV | _GUR),
    (0x17, 0x3C, -1, 0x5A, _DEV | _GUR),
    (0x1C, 0x3C, -1, 0x5B, _DEV | _GUR),
    (0x21, 0x3C, -1, 0x5C, _DEV | _BEN | _ORI),
    (0x22, 0x3C, -1, 0x5D, _DEV | _BEN | _ORI),
    (0x23, 0x4D, 0xFF, 0x7A, _MAL),
    (0x24, 0x4D, 0xFF, 0x4E, _BEN),
    (0x28, 0x3C, -1, 0x29, _DEV),
    (0x28, 0x4D, 0xFF, 0x7B, _MAL),
    (0x2B, 0x3C, -1, 0x5E, _DEV | _GUR),
    (0x2F, 0x3C, -1, 0x5F, _DEV | _BEN),
    (0x2C, 0x41, 0x41, 0x0B, _TEL),
    (0x30, 0x3C, -1, 0x31, _DEV),
    (0x30, 0x4D, 0xFF, 0x7C, _MAL),
    (0x32, 0x4D, 0xFF, 0x7D, _MAL),
    (0x33, 0x3C, -1, 0x34, _DEV),
    (0x33, 0x4D, 0xFF, 0x7E, _MAL),
    (0x35, 0x41, -1, 0x2E, _TEL),
    (0x3E, 0x45, -1, 0x49, _DEV | _GUJ),
    (0x3E, 0x46, -1, 0x4A, _DEV),
    (0x3E, 0x47, -1, 0x4B, _DEV | _GUJ),
    (0x3E, 0x48, -1, 0x4C, _DEV | _GUJ),
    (0x3F, 0x55, -1, 0x40, _KAN),
    (0x41, 0x41, -1, 0x42, _GUR),
    (0x46, 0x3E, -1, 0x4A, _TAM | _MAL),
    (0x46, 0x42, 0x55, 0x4B, _KAN),
    (0x46, 0x42, -1, 0x4A, _KAN),
    (0x46, 0x46, -1, 0x48, _MAL),
    (0x46, 0x55, -1, 0x47, _TEL | _KAN),
    (0x46, 0x56, -1, 0x48, _TEL | _KAN),
    (0x46, 0x57, -1, 0x4C, _TAM | _MAL),
    (0x47, 0x3E, -1, 0x4B, _BEN | _ORI | _TAM | _MAL),
    (0x47, 0x57, -1, 0x4C, _BEN | _ORI),
    (0x4A, 0x55, -1, 0x4B, _KAN),
    (0x72, 0x3F, -1, 0x07, _GUR),
    (0x72, 0x40, -1, 0x08, _GUR),
    (0x72, 0x47, -1, 0x0F, _GUR),
    (0x73, 0x41, -1, 0x09, _GUR),
    (0x73, 0x42, -1, 0x0A, _GUR),
    (0x73, 0x4B, -1, 0x13, _GUR),
)
_INDIC_MASK = {}
for _row in _INDIC_DECOMP:
    for _base, _flag in _INDIC_SCRIPTS.items():
        if _row[4] & _flag:
            _INDIC_MASK.setdefault(_flag, set()).add(_row[0])


def _indic_script(c: str):
    o = ord(c)
    base = o & ~0x7F
    flag = _INDIC_SCRIPTS.get(base)
    return (flag, base) if flag else (None, None)


def indic_normalize(term: str) -> str:
    """IndicNormalizer.java: compose denormalized forms across the
    nine Indic scripts (offsets relative to each script's block)."""
    s = list(term)
    ln = len(s)
    i = 0
    while i < ln:
        flag, base = _indic_script(s[i])
        if flag is not None:
            ch0 = ord(s[i]) - base
            if ch0 in _INDIC_MASK.get(flag, ()):
                # compose
                if i + 1 < ln:
                    f1, b1 = _indic_script(s[i + 1])
                    if f1 == flag and b1 == base:
                        ch1 = ord(s[i + 1]) - base
                        ch2 = -1
                        if i + 2 < ln:
                            if s[i + 2] == "‍":
                                ch2 = 0xFF
                            else:
                                f2, b2 = _indic_script(s[i + 2])
                                if f2 == flag and b2 == base:
                                    ch2 = ord(s[i + 2]) - base
                        for c1, c2, c3, res, flags in _INDIC_DECOMP:
                            if c1 == ch0 and (flags & flag) \
                                    and c2 == ch1 \
                                    and (c3 < 0 or c3 == ch2):
                                s[i] = chr(base + res)
                                del s[i + 1]
                                ln -= 1
                                if c3 >= 0:
                                    del s[i + 1]
                                    ln -= 1
                                break
        i += 1
    return "".join(s)


# -------------------------------------------------------- Indonesian

_ID_VOWELS = set("aeiou")


def indonesian_stem(term: str) -> str:
    """IndonesianStemmer.java (Asian/Williams/Tahaghoghi), full
    derivational stemming (the IndonesianStemFilter default)."""
    s = term
    syll = sum(1 for c in s if c in _ID_VOWELS)
    REMOVED_KE, REMOVED_PENG, REMOVED_DI = 1, 2, 4
    REMOVED_MENG, REMOVED_TER, REMOVED_BER, REMOVED_PE = 8, 16, 32, 64
    flags = 0

    def remove_particle(s):
        nonlocal syll
        if s.endswith(("kah", "lah", "pun")):
            syll -= 1
            return s[:-3]
        return s

    def remove_possessive(s):
        nonlocal syll
        if s.endswith(("ku", "mu")):
            syll -= 1
            return s[:-2]
        if s.endswith("nya"):
            syll -= 1
            return s[:-3]
        return s

    def first_order_prefix(s):
        nonlocal syll, flags
        if s.startswith("meng"):
            flags |= REMOVED_MENG
            syll -= 1
            return s[4:]
        if s.startswith("meny") and len(s) > 4 and s[4] in _ID_VOWELS:
            flags |= REMOVED_MENG
            syll -= 1
            return "s" + s[4:]
        if s.startswith("men"):
            flags |= REMOVED_MENG
            syll -= 1
            return s[3:]
        if s.startswith("mem"):
            flags |= REMOVED_MENG
            syll -= 1
            return s[3:]
        if s.startswith("me"):
            flags |= REMOVED_MENG
            syll -= 1
            return s[2:]
        if s.startswith("peng"):
            flags |= REMOVED_PENG
            syll -= 1
            return s[4:]
        if s.startswith("peny") and len(s) > 4 and s[4] in _ID_VOWELS:
            flags |= REMOVED_PENG
            syll -= 1
            return "s" + s[4:]
        if s.startswith("peny"):
            flags |= REMOVED_PENG
            syll -= 1
            return s[4:]
        if s.startswith("pen") and len(s) > 3 and s[3] in _ID_VOWELS:
            flags |= REMOVED_PENG
            syll -= 1
            return "t" + s[3:]
        if s.startswith("pen"):
            flags |= REMOVED_PENG
            syll -= 1
            return s[3:]
        if s.startswith("pem"):
            flags |= REMOVED_PENG
            syll -= 1
            return s[3:]
        if s.startswith("di"):
            flags |= REMOVED_DI
            syll -= 1
            return s[2:]
        if s.startswith("ter"):
            flags |= REMOVED_TER
            syll -= 1
            return s[3:]
        if s.startswith("ke"):
            flags |= REMOVED_KE
            syll -= 1
            return s[2:]
        return s

    def second_order_prefix(s):
        nonlocal syll, flags
        if s.startswith("ber"):
            flags |= REMOVED_BER
            syll -= 1
            return s[3:]
        if s == "belajar":
            flags |= REMOVED_BER
            syll -= 1
            return s[3:]
        if s.startswith("be") and len(s) > 4 \
                and s[2] not in _ID_VOWELS and s[3] == "e" \
                and s[4] == "r":
            flags |= REMOVED_BER
            syll -= 1
            return s[2:]
        if s.startswith("per"):
            syll -= 1
            return s[3:]
        if s == "pelajar":
            syll -= 1
            return s[3:]
        if s.startswith("pe"):
            flags |= REMOVED_PE
            syll -= 1
            return s[2:]
        return s

    def remove_suffix(s):
        nonlocal syll
        if s.endswith("kan") and not flags & (REMOVED_KE | REMOVED_PENG
                                              | REMOVED_PE):
            syll -= 1
            return s[:-3]
        if s.endswith("an") and not flags & (REMOVED_DI | REMOVED_MENG
                                             | REMOVED_TER):
            syll -= 1
            return s[:-2]
        if s.endswith("i") and not s.endswith("si") \
                and not flags & (REMOVED_BER | REMOVED_KE
                                 | REMOVED_PENG):
            syll -= 1
            return s[:-1]
        return s

    if syll > 2:
        s = remove_particle(s)
    if syll > 2:
        s = remove_possessive(s)
    # derivational
    old = s
    if syll > 2:
        s = first_order_prefix(s)
    if s != old:
        old = s
        if syll > 2:
            s = remove_suffix(s)
        if s != old:
            if syll > 2:
                s = second_order_prefix(s)
    else:
        if syll > 2:
            s = second_order_prefix(s)
        if syll > 2:
            s = remove_suffix(s)
    return s


# ----------------------------------------------------------- Latvian

_LV_AFFIXES = (
    ("ajiem", 3, False), ("ajai", 3, False), ("ajam", 2, False),
    ("ajām", 2, False), ("ajos", 2, False), ("ajās", 2, False),
    ("iem", 2, True), ("ajā", 2, False), ("ais", 2, False),
    ("ai", 2, False), ("ei", 2, False), ("ām", 1, False),
    ("am", 1, False), ("ēm", 1, False), ("īm", 1, False),
    ("im", 1, False), ("um", 1, False), ("us", 1, True),
    ("as", 1, False), ("ās", 1, False), ("es", 1, False),
    ("os", 1, True), ("ij", 1, False), ("īs", 1, False),
    ("ēs", 1, False), ("is", 1, False), ("ie", 1, False),
    ("u", 1, True), ("a", 1, True), ("i", 1, True), ("e", 1, False),
    ("ā", 1, False), ("ē", 1, False), ("ī", 1, False),
    ("ū", 1, False), ("o", 1, False), ("s", 0, False),
    ("š", 0, False),
)
_LV_VOWELS = set("aeiouāīēū")


def latvian_stem(term: str) -> str:
    """LatvianStemmer.java (light stemmer on inflexional suffixes with
    un-palatalization)."""
    n_vow = sum(1 for c in term if c in _LV_VOWELS)
    for affix, vc, palatalizes in _LV_AFFIXES:
        if n_vow > vc and len(term) >= len(affix) + 3 \
                and term.endswith(affix):
            stem = term[:-len(affix)]
            if palatalizes:
                return _lv_unpalatalize(stem, term[len(stem)])
            return stem
    return term


def _lv_unpalatalize(s: str, removed_first: str) -> str:
    if removed_first == "u":
        if s.endswith("kš"):
            return s[:-2] + "kst"
        if s.endswith("ņņ"):
            return s[:-2] + "nn"
    if s.endswith(("pj", "bj", "mj", "vj")):
        return s[:-1]
    for suf, rep in (("šņ", "sn"), ("žņ", "zn"), ("šļ", "sl"),
                     ("žļ", "zl"), ("ļņ", "ln"), ("ļļ", "ll")):
        if s.endswith(suf):
            return s[:-2] + rep
    if s.endswith("č"):
        return s[:-1] + "c"
    if s.endswith("ļ"):
        return s[:-1] + "l"
    if s.endswith("ņ"):
        return s[:-1] + "n"
    return s


# -------------------------------------------------------- the chains

LANGS2 = ("ar", "fa", "bg", "cz", "hi", "id", "lv")


def lang2_analyze(lang: str, text: str) -> Tuple[List[str], List[int]]:
    """(terms, positions) for one text under a second-wave chain
    (analysis/chains.CHAINS); removed stopwords leave position gaps
    (StopFilter semantics)."""
    if lang not in LANGS2:
        raise ValueError(f"unknown lang2 {lang!r}")
    from .chains import analyze_batch
    return analyze_batch(lang, [text or ""])[0]
