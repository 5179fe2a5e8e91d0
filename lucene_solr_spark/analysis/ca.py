"""Catalan analyzer chain (round 5b):
CatalanAnalyzer.createComponents:108 — StandardTokenizer +
ElisionFilter(d/l/m/n/s/t) + LowerCase + StopFilter +
SnowballFilter(CatalanStemmer).  The stemmer realizes the published
Snowball "catalan" algorithm (CatalanStemmer.java:35): standard
R1/R2; attached-pronoun removal, then standard suffixes OR (only if
none applied) verb suffixes, then residual suffixes, then a forward
cleaning pass folding accents (and the ela geminada middle dot to a
period, as the program does).

Verified token-for-token against the COMPILED reference
CatalanAnalyzer (tools/gen_snowball_fixtures.py goldens,
tests/test_analysis_chains.py).
"""

from __future__ import annotations

_CA_VOWELS = frozenset("aeiouàáèéíïòóúü")

#: suffix -> case id (1 = R1 delete, 2 = R2 delete; replacement
#: cases are remapped per table below)
_CA_PRONOUN = {'la': 1, '-la': 1, 'sela': 1, 'le': 1, 'me': 1, '-me': 1, 'se': 1, '-te': 1, 'hi': 1, "'hi": 1, 'li': 1, '-li': 1, "'l": 1, "'m": 1, '-m': 1, "'n": 1, '-n': 1, 'ho': 1, "'ho": 1, 'lo': 1, 'selo': 1, "'s": 1, 'las': 1, 'selas': 1, 'les': 1, '-les': 1, "'ls": 1, '-ls': 1, "'ns": 1, '-ns': 1, 'ens': 1, 'los': 1, 'selos': 1, 'nos': 1, '-nos': 1, 'vos': 1, 'us': 1, '-us': 1, "'t": 1}
_CA_STD = {'ica': 4, 'lógica': 3, 'enca': 1, 'ada': 2, 'ancia': 1, 'encia': 1, 'ència': 1, 'ícia': 1, 'logia': 3, 'inia': 1, 'íinia': 1, 'eria': 1, 'ària': 1, 'atòria': 1, 'alla': 1, 'ella': 1, 'ívola': 1, 'ima': 1, 'íssima': 1, 'quíssima': 5, 'ana': 1, 'ina': 1, 'era': 1, 'sfera': 1, 'ora': 1, 'dora': 1, 'adora': 1, 'adura': 1, 'esa': 1, 'osa': 1, 'assa': 1, 'essa': 1, 'issa': 1, 'eta': 1, 'ita': 1, 'ota': 1, 'ista': 1, 'ialista': 1, 'ionista': 1, 'iva': 1, 'ativa': 1, 'nça': 1, 'logía': 3, 'ic': 4, 'ístic': 1, 'enc': 1, 'esc': 1, 'ud': 1, 'atge': 1, 'ble': 1, 'able': 1, 'ible': 1, 'isme': 1, 'ialisme': 1, 'ionisme': 1, 'ivisme': 1, 'aire': 1, 'icte': 1, 'iste': 1, 'ici': 1, 'íci': 1, 'logi': 3, 'ari': 1, 'tori': 1, 'al': 1, 'il': 1, 'all': 1, 'ell': 1, 'ívol': 1, 'isam': 1, 'issem': 1, 'ìssem': 1, 'íssem': 1, 'íssim': 1, 'quíssim': 5, 'amen': 1, 'ìssin': 1, 'ar': 1, 'ificar': 1, 'egar': 1, 'ejar': 1, 'itar': 1, 'itzar': 1, 'fer': 1, 'or': 1, 'dor': 1, 'dur': 1, 'doras': 1, 'ics': 4, 'lógics': 3, 'uds': 1, 'nces': 1, 'ades': 2, 'ancies': 1, 'encies': 1, 'ències': 1, 'ícies': 1, 'logies': 3, 'inies': 1, 'ínies': 1, 'eries': 1, 'àries': 1, 'atòries': 1, 'bles': 1, 'ables': 1, 'ibles': 1, 'imes': 1, 'íssimes': 1, 'quíssimes': 5, 'formes': 1, 'ismes': 1, 'ialismes': 1, 'ines': 1, 'eres': 1, 'ores': 1, 'dores': 1, 'idores': 1, 'dures': 1, 'eses': 1, 'oses': 1, 'asses': 1, 'ictes': 1, 'ites': 1, 'otes': 1, 'istes': 1, 'ialistes': 1, 'ionistes': 1, 'iques': 4, 'lógiques': 3, 'ives': 1, 'atives': 1, 'logíes': 3, 'allengües': 1, 'icis': 1, 'ícis': 1, 'logis': 3, 'aris': 1, 'toris': 1, 'ls': 1, 'als': 1, 'ells': 1, 'ims': 1, 'íssims': 1, 'quíssims': 5, 'ions': 1, 'cions': 1, 'acions': 2, 'esos': 1, 'osos': 1, 'assos': 1, 'issos': 1, 'ers': 1, 'ors': 1, 'dors': 1, 'adors': 1, 'idors': 1, 'ats': 1, 'itats': 1, 'bilitats': 1, 'ivitats': 1, 'ativitats': 1, 'ïtats': 1, 'ets': 1, 'ants': 1, 'ents': 1, 'ments': 1, 'aments': 1, 'ots': 1, 'uts': 1, 'ius': 1, 'trius': 1, 'atius': 1, 'ès': 1, 'és': 1, 'ís': 1, 'dís': 1, 'ós': 1, 'itat': 1, 'bilitat': 1, 'ivitat': 1, 'ativitat': 1, 'ïtat': 1, 'et': 1, 'ant': 1, 'ent': 1, 'ient': 1, 'ment': 1, 'ament': 1, 'isament': 1, 'ot': 1, 'isseu': 1, 'ìsseu': 1, 'ísseu': 1, 'triu': 1, 'íssiu': 1, 'atiu': 1, 'ó': 1, 'ió': 1, 'ció': 1, 'ació': 1}
_CA_STD_REP = {3: "log", 4: "ic", 5: "c"}     # 3,4 in R2; 5 in R1
_CA_VERB = {'aba': 1, 'esca': 1, 'isca': 1, 'ïsca': 1, 'ada': 1, 'ida': 1, 'uda': 1, 'ïda': 1, 'ia': 1, 'aria': 1, 'iria': 1, 'ara': 1, 'iera': 1, 'ira': 1, 'adora': 1, 'ïra': 1, 'ava': 1, 'ixa': 1, 'itza': 1, 'ía': 1, 'aría': 1, 'ería': 1, 'iría': 1, 'ïa': 1, 'isc': 1, 'ïsc': 1, 'ad': 1, 'ed': 1, 'id': 1, 'ie': 1, 're': 1, 'dre': 1, 'ase': 1, 'iese': 1, 'aste': 1, 'iste': 1, 'ii': 1, 'ini': 1, 'esqui': 1, 'eixi': 1, 'itzi': 1, 'am': 1, 'em': 1, 'arem': 1, 'irem': 1, 'àrem': 1, 'írem': 1, 'àssem': 1, 'éssem': 1, 'iguem': 1, 'ïguem': 1, 'avem': 1, 'àvem': 1, 'ávem': 1, 'irìem': 1, 'íem': 1, 'aríem': 1, 'iríem': 1, 'assim': 1, 'essim': 1, 'issim': 1, 'àssim': 1, 'èssim': 1, 'éssim': 1, 'íssim': 1, 'ïm': 1, 'an': 1, 'aban': 1, 'arian': 1, 'aran': 1, 'ieran': 1, 'iran': 1, 'ían': 1, 'arían': 1, 'erían': 1, 'irían': 1, 'en': 1, 'ien': 1, 'arien': 1, 'irien': 1, 'aren': 1, 'eren': 1, 'iren': 1, 'àren': 1, 'ïren': 1, 'asen': 1, 'iesen': 1, 'assen': 1, 'essen': 1, 'issen': 1, 'éssen': 1, 'ïssen': 1, 'esquen': 1, 'isquen': 1, 'ïsquen': 1, 'aven': 1, 'ixen': 1, 'eixen': 1, 'ïxen': 1, 'ïen': 1, 'in': 1, 'inin': 1, 'sin': 1, 'isin': 1, 'assin': 1, 'essin': 1, 'issin': 1, 'ïssin': 1, 'esquin': 1, 'eixin': 1, 'aron': 1, 'ieron': 1, 'arán': 1, 'erán': 1, 'irán': 1, 'iïn': 1, 'ado': 1, 'ido': 1, 'ando': 2, 'iendo': 1, 'io': 1, 'ixo': 1, 'eixo': 1, 'ïxo': 1, 'itzo': 1, 'ar': 1, 'tzar': 1, 'er': 1, 'eixer': 1, 'ir': 1, 'ador': 1, 'as': 1, 'abas': 1, 'adas': 1, 'idas': 1, 'aras': 1, 'ieras': 1, 'ías': 1, 'arías': 1, 'erías': 1, 'irías': 1, 'ids': 1, 'es': 1, 'ades': 1, 'ides': 1, 'udes': 1, 'ïdes': 1, 'atges': 1, 'ies': 1, 'aries': 1, 'iries': 1, 'ares': 1, 'ires': 1, 'adores': 1, 'ïres': 1, 'ases': 1, 'ieses': 1, 'asses': 1, 'esses': 1, 'isses': 1, 'ïsses': 1, 'ques': 1, 'esques': 1, 'ïsques': 1, 'aves': 1, 'ixes': 1, 'eixes': 1, 'ïxes': 1, 'ïes': 1, 'abais': 1, 'arais': 1, 'ierais': 1, 'íais': 1, 'aríais': 1, 'eríais': 1, 'iríais': 1, 'aseis': 1, 'ieseis': 1, 'asteis': 1, 'isteis': 1, 'inis': 1, 'sis': 1, 'isis': 1, 'assis': 1, 'essis': 1, 'issis': 1, 'ïssis': 1, 'esquis': 1, 'eixis': 1, 'itzis': 1, 'áis': 1, 'aréis': 1, 'eréis': 1, 'iréis': 1, 'ams': 1, 'ados': 1, 'idos': 1, 'amos': 1, 'ábamos': 1, 'áramos': 1, 'iéramos': 1, 'íamos': 1, 'aríamos': 1, 'eríamos': 1, 'iríamos': 1, 'aremos': 1, 'eremos': 1, 'iremos': 1, 'ásemos': 1, 'iésemos': 1, 'imos': 1, 'adors': 1, 'ass': 1, 'erass': 1, 'ess': 1, 'ats': 1, 'its': 1, 'ents': 1, 'às': 1, 'aràs': 1, 'iràs': 1, 'arás': 1, 'erás': 1, 'irás': 1, 'és': 1, 'arés': 1, 'ís': 1, 'iïs': 1, 'at': 1, 'it': 1, 'ant': 1, 'ent': 1, 'int': 1, 'ut': 1, 'ït': 1, 'au': 1, 'erau': 1, 'ieu': 1, 'ineu': 1, 'areu': 1, 'ireu': 1, 'àreu': 1, 'íreu': 1, 'asseu': 1, 'esseu': 1, 'eresseu': 1, 'àsseu': 1, 'ésseu': 1, 'igueu': 1, 'ïgueu': 1, 'àveu': 1, 'áveu': 1, 'itzeu': 1, 'ìeu': 1, 'irìeu': 1, 'íeu': 1, 'aríeu': 1, 'iríeu': 1, 'assiu': 1, 'issiu': 1, 'àssiu': 1, 'èssiu': 1, 'éssiu': 1, 'íssiu': 1, 'ïu': 1, 'ix': 1, 'eix': 1, 'ïx': 1, 'itz': 1, 'ià': 1, 'arà': 1, 'irà': 1, 'itzà': 1, 'ará': 1, 'erá': 1, 'irá': 1, 'irè': 1, 'aré': 1, 'eré': 1, 'iré': 1, 'í': 1, 'iï': 1, 'ió': 1}
_CA_RESID = {'a': 1, 'e': 1, 'i': 1, 'ïn': 1, 'o': 1, 'ir': 1, 's': 1, 'is': 1, 'os': 1, 'ïs': 1, 'it': 1, 'eu': 1, 'iu': 1, 'iqu': 2, 'itz': 1, 'à': 1, 'á': 1, 'é': 1, 'ì': 1, 'í': 1, 'ï': 1, 'ó': 1}           # 2 -> "ic" in R1
_CA_CLEAN = {"à": "a", "á": "a", "è": "e", "é": "e", "ì": "i",
             "í": "i", "ï": "i", "ò": "o", "ó": "o", "ú": "u",
             "ü": "u", "·": "."}


def _p1p2(word: str):
    n = len(word)
    V = _CA_VOWELS
    p1 = p2 = n
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
    return p1, p2


def _longest(word: str, table):
    best = None
    for s in table:
        if word.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def stem_ca(word: str) -> str:
    """CatalanStemmer.stem."""
    p1, p2 = _p1p2(word)
    s = _longest(word, _CA_PRONOUN)
    if s is not None and len(word) - len(s) >= p1:
        word = word[:len(word) - len(s)]
    applied = False
    s = _longest(word, _CA_STD)
    if s is not None:
        case = _CA_STD[s]
        base = len(word) - len(s)
        if case == 1:
            if base >= p1:
                word, applied = word[:base], True
        elif case == 2:
            if base >= p2:
                word, applied = word[:base], True
        elif case == 5:
            if base >= p1:
                word, applied = word[:base] + "c", True
        else:  # 3/4: R2 replacements
            if base >= p2:
                word, applied = word[:base] + _CA_STD_REP[case], True
    if not applied:
        s = _longest(word, _CA_VERB)
        if s is not None:
            case = _CA_VERB[s]
            base = len(word) - len(s)
            need = p1 if case == 1 else p2
            if base >= need:
                word = word[:base]
    s = _longest(word, _CA_RESID)
    if s is not None:
        case = _CA_RESID[s]
        base = len(word) - len(s)
        if base >= p1:
            word = word[:base] + ("" if case == 1 else "ic")
    return "".join(_CA_CLEAN.get(c, c) for c in word)
