"""Basque analyzer chain (round 5b):
BasqueAnalyzer.createComponents:96 — StandardTokenizer + LowerCase +
StopFilter + SnowballFilter(BasqueStemmer).  The stemmer realizes the
published Snowball "basque" algorithm (BasqueStemmer.java:35):
Romance-style RV plus standard R1/R2 over vowels aeiou; verb endings
(aditzak) removed to fixpoint, then noun endings (izenak) to
fixpoint, then one adjective pass — each the longest table suffix
with a per-entry RV/R1/R2 condition or replacement.

Verified token-for-token against the COMPILED reference
BasqueAnalyzer (tools/gen_snowball_fixtures.py goldens,
tests/test_analysis_chains.py).
"""

from __future__ import annotations

_EU_VOWELS = frozenset("aeiou")

#: suffix -> case id (1 = RV delete, 2 = R2 delete, 4 = R1 delete,
#: else replacement via the _REP maps; the adjective table's
#: unconditioned "z" replacement is remapped to id 3)
_EU_ADITZAK = {'idea': 1, 'bidea': 1, 'kidea': 1, 'pidea': 1, 'kundea': 1, 'galea': 1, 'tailea': 1, 'tzailea': 1, 'gunea': 1, 'kunea': 1, 'tzaga': 1, 'gaia': 1, 'aldia': 1, 'taldia': 1, 'karia': 1, 'garria': 2, 'karria': 1, 'ka': 1, 'tzaka': 1, 'la': 1, 'mena': 1, 'pena': 1, 'kina': 1, 'ezina': 1, 'tezina': 1, 'kuna': 1, 'tuna': 1, 'kizuna': 1, 'era': 1, 'bera': 1, 'arabera': 14, 'kera': 1, 'pera': 1, 'orra': 1, 'korra': 1, 'dura': 1, 'gura': 1, 'kura': 1, 'tura': 1, 'eta': 1, 'keta': 1, 'gailua': 1, 'eza': 1, 'erreza': 1, 'tza': 2, 'gaitza': 1, 'kaitza': 1, 'kuntza': 1, 'ide': 1, 'bide': 1, 'kide': 1, 'pide': 1, 'kunde': 1, 'tzake': 1, 'tzeke': 1, 'le': 1, 'gale': 1, 'taile': 1, 'tzaile': 1, 'gune': 1, 'kune': 1, 'tze': 1, 'atze': 1, 'gai': 1, 'aldi': 1, 'taldi': 1, 'ki': 1, 'ari': 1, 'kari': 1, 'lari': 1, 'tari': 1, 'etari': 1, 'garri': 2, 'karri': 1, 'arazi': 1, 'tarazi': 1, 'an': 1, 'ean': 1, 'rean': 1, 'kan': 1, 'etan': 1, 'atseden': 3, 'men': 1, 'pen': 1, 'kin': 1, 'rekin': 1, 'ezin': 1, 'tezin': 1, 'tun': 1, 'kizun': 1, 'go': 1, 'ago': 1, 'tio': 1, 'dako': 1, 'or': 1, 'kor': 1, 'tzat': 1, 'du': 1, 'gailu': 1, 'tu': 1, 'atu': 1, 'aldatu': 1, 'tatu': 1, 'baditu': 15, 'ez': 1, 'errez': 1, 'tzez': 1, 'gaitz': 1, 'kaitz': 1}
_EU_ADITZAK_REP = {3: 'atseden', 14: 'arabera', 15: 'baditu'}
_EU_IZENAK = {'ada': 1, 'kada': 1, 'anda': 1, 'denda': 1, 'gabea': 1, 'kabea': 1, 'aldea': 1, 'kaldea': 1, 'taldea': 1, 'ordea': 1, 'zalea': 1, 'tzalea': 1, 'gilea': 1, 'emea': 1, 'kumea': 1, 'nea': 1, 'enea': 1, 'zionea': 1, 'unea': 1, 'gunea': 1, 'pea': 1, 'aurrea': 1, 'tea': 1, 'kotea': 1, 'artea': 1, 'ostea': 1, 'etxea': 1, 'ga': 1, 'anga': 1, 'gaia': 1, 'aldia': 1, 'taldia': 1, 'handia': 1, 'mendia': 1, 'geia': 1, 'egia': 1, 'degia': 1, 'tegia': 1, 'nahia': 1, 'ohia': 1, 'kia': 1, 'tokia': 1, 'oia': 1, 'koia': 1, 'aria': 1, 'karia': 1, 'laria': 1, 'taria': 1, 'eria': 1, 'keria': 1, 'teria': 1, 'garria': 2, 'larria': 1, 'kirria': 1, 'duria': 1, 'asia': 1, 'tia': 1, 'ezia': 1, 'bizia': 1, 'ontzia': 1, 'ka': 1, 'joka': 3, 'aurka': 10, 'ska': 1, 'xka': 1, 'zka': 1, 'gibela': 1, 'gela': 1, 'kaila': 1, 'skila': 1, 'tila': 1, 'ola': 1, 'na': 1, 'kana': 1, 'ena': 1, 'garrena': 1, 'gerrena': 1, 'urrena': 1, 'zaina': 1, 'tzaina': 1, 'kina': 1, 'mina': 1, 'garna': 1, 'una': 1, 'duna': 1, 'asuna': 1, 'tasuna': 1, 'ondoa': 1, 'kondoa': 1, 'ngoa': 1, 'zioa': 1, 'koa': 1, 'takoa': 1, 'zkoa': 1, 'noa': 1, 'zinoa': 1, 'aroa': 1, 'taroa': 1, 'zaroa': 1, 'eroa': 1, 'oroa': 1, 'osoa': 1, 'toa': 1, 'ttoa': 1, 'ztoa': 1, 'txoa': 1, 'tzoa': 1, 'ñoa': 1, 'ra': 1, 'ara': 1, 'dara': 1, 'liara': 1, 'tiara': 1, 'tara': 1, 'etara': 1, 'tzara': 1, 'bera': 1, 'kera': 1, 'pera': 1, 'ora': 2, 'tzarra': 1, 'korra': 1, 'tra': 1, 'sa': 1, 'osa': 1, 'ta': 1, 'eta': 1, 'keta': 1, 'sta': 1, 'dua': 1, 'mendua': 1, 'ordua': 1, 'lekua': 1, 'burua': 1, 'durua': 1, 'tsua': 1, 'tua': 1, 'mentua': 1, 'estua': 1, 'txua': 1, 'zua': 1, 'tzua': 1, 'za': 1, 'eza': 1, 'eroza': 1, 'tza': 2, 'koitza': 1, 'antza': 1, 'gintza': 1, 'kintza': 1, 'kuntza': 1, 'gabe': 1, 'kabe': 1, 'kide': 1, 'alde': 1, 'kalde': 1, 'talde': 1, 'orde': 1, 'ge': 1, 'zale': 1, 'tzale': 1, 'gile': 1, 'eme': 1, 'kume': 1, 'ne': 1, 'zione': 1, 'une': 1, 'gune': 1, 'pe': 1, 'aurre': 1, 'te': 1, 'kote': 1, 'arte': 1, 'oste': 1, 'etxe': 1, 'gai': 1, 'di': 1, 'aldi': 1, 'taldi': 1, 'geldi': 8, 'handi': 1, 'mendi': 1, 'gei': 1, 'egi': 1, 'degi': 1, 'tegi': 1, 'nahi': 1, 'ohi': 1, 'ki': 1, 'toki': 1, 'oi': 1, 'goi': 1, 'koi': 1, 'ari': 1, 'kari': 1, 'lari': 1, 'tari': 1, 'garri': 2, 'larri': 1, 'kirri': 1, 'duri': 1, 'asi': 1, 'ti': 1, 'ontzi': 1, 'ñi': 1, 'ak': 1, 'ek': 1, 'tarik': 1, 'gibel': 1, 'ail': 1, 'kail': 1, 'kan': 1, 'tan': 1, 'etan': 1, 'en': 4, 'ren': 2, 'garren': 1, 'gerren': 1, 'urren': 1, 'ten': 4, 'tzen': 4, 'zain': 1, 'tzain': 1, 'kin': 1, 'min': 1, 'dun': 1, 'asun': 1, 'tasun': 1, 'aizun': 1, 'ondo': 1, 'kondo': 1, 'go': 1, 'ngo': 1, 'zio': 1, 'ko': 1, 'trako': 5, 'tako': 1, 'etako': 1, 'eko': 1, 'tariko': 1, 'sko': 1, 'tuko': 1, 'minutuko': 6, 'zko': 1, 'no': 1, 'zino': 1, 'ro': 1, 'aro': 1, 'igaro': 9, 'taro': 1, 'zaro': 1, 'ero': 1, 'giro': 1, 'oro': 1, 'oso': 1, 'to': 1, 'tto': 1, 'zto': 1, 'txo': 1, 'tzo': 1, 'gintzo': 1, 'ño': 1, 'zp': 1, 'ar': 1, 'dar': 1, 'behar': 1, 'zehar': 7, 'liar': 1, 'tiar': 1, 'tar': 1, 'tzar': 1, 'or': 2, 'kor': 1, 'os': 1, 'ket': 1, 'du': 1, 'mendu': 1, 'ordu': 1, 'leku': 1, 'buru': 2, 'duru': 1, 'tsu': 1, 'tu': 1, 'tatu': 4, 'mentu': 1, 'estu': 1, 'txu': 1, 'zu': 1, 'tzu': 1, 'gintzu': 1, 'z': 1, 'ez': 1, 'eroz': 1, 'tz': 1, 'koitz': 1}
_EU_IZENAK_REP = {3: 'jok', 5: 'tra', 6: 'minutu', 7: 'zehar', 8: 'geldi', 9: 'igaro', 10: 'aurka'}
_EU_ADJ = {'zlea': 3, 'keria': 1, 'la': 1, 'era': 1, 'dade': 1, 'tade': 1, 'date': 1, 'tate': 1, 'gi': 1, 'ki': 1, 'ik': 1, 'lanik': 1, 'rik': 1, 'larik': 1, 'ztik': 1, 'go': 1, 'ro': 1, 'ero': 1, 'to': 1}


def _regions(word: str):
    """Romance RV (same construction as the Romanian stemmer) +
    standard p1/p2."""
    n = len(word)
    V = _EU_VOWELS
    pV = p1 = p2 = n
    if n >= 2:
        if word[0] in V:
            if word[1] not in V:
                for k in range(2, n):
                    if word[k] in V:
                        pV = k + 1
                        break
            else:
                for k in range(2, n):
                    if word[k] not in V:
                        pV = k + 1
                        break
        else:
            if word[1] not in V:
                for k in range(2, n):
                    if word[k] in V:
                        pV = k + 1
                        break
            else:
                pV = 3 if n >= 3 else n
    i = 0
    while i < n and word[i] not in V:
        i += 1
    while i < n and word[i] in V:
        i += 1
    if i < n:
        p1 = i + 1
        j = p1
        while j < n and word[j] not in V:
            j += 1
        while j < n and word[j] in V:
            j += 1
        if j < n:
            p2 = j + 1
    return pV, p1, p2


def _apply_at(word: str, c: int, pV: int, p1: int, p2: int,
              table, reps):
    """One rule application at cursor ``c`` (suffixes of word[:c],
    the Snowball backward-cursor semantics: repeats continue from
    BEFORE the matched/replaced region).  Returns (word, c, applied);
    on success c moves to the match start."""
    best = None
    for s in table:
        if len(s) <= c and word[c - len(s):c] == s \
                and (best is None or len(s) > len(best)):
            best = s
    if best is None:
        return word, c, False
    case = table[best]
    base = c - len(best)
    if case == 1:
        if base < pV:
            return word, c, False
        return word[:base] + word[c:], base, True
    if case == 2:
        if base < p2:
            return word, c, False
        return word[:base] + word[c:], base, True
    if case == 4:
        if base < p1:
            return word, c, False
        return word[:base] + word[c:], base, True
    return word[:base] + reps[case] + word[c:], base, True


def stem_eu(word: str) -> str:
    """BasqueStemmer.stem: aditzak* -> izenak* -> adjetiboak, the
    cursor moving to each match start (so an identity replacement
    like 'arabera' protects the word from further stripping)."""
    pV, p1, p2 = _regions(word)
    c = len(word)
    while True:
        word, c, ok = _apply_at(word, c, pV, p1, p2, _EU_ADITZAK,
                                _EU_ADITZAK_REP)
        if not ok:
            break
    while True:
        word, c, ok = _apply_at(word, c, pV, p1, p2, _EU_IZENAK,
                                _EU_IZENAK_REP)
        if not ok:
            break
    word, c, _ok = _apply_at(word, c, pV, p1, p2, _EU_ADJ, {3: "z"})
    return word
