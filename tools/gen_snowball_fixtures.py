#!/usr/bin/env python3
"""Snowball-default analyzer artifacts from the reference (round 5):

1. lucene_solr_spark/analysis/snowball_stop.py — stop sets read
   verbatim from the reference resources (danish_stop.txt etc. in
   snowball `|`-comment format; ro/tr stopwords.txt in '#' format —
   public data).
2. tests/fixtures/snowball_golden.json — golden (term, posInc)
   streams produced by RUNNING the compiled reference analyzers
   (DanishAnalyzer, DutchAnalyzer, SwedishAnalyzer, NorwegianAnalyzer,
   RomanianAnalyzer, TurkishAnalyzer) over per-language corpora: the
   full stop list, base words crossed with the stemmers' own suffix
   tables, seeded random alphabet words, and language-specific
   normalization material (Dutch accents/ij, Turkish dotted/dotless I
   and apostrophes, Romanian cedilla vs comma forms).  The python
   chain twins (analysis/chains.py + analysis/snowball.py) must match
   token-for-token.

Reuses the /tmp/kuromoji scratch compile (core + analysis-common).
"""

import json
import random
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRATCH = Path("/tmp/kuromoji")
REF = Path("/root/reference/lucene/analysis/common/src")

SNOWBALL_STOPS = {  # WordlistLoader.getSnowballWordSet format
    "da": "snowball/danish_stop.txt",
    "nl": "snowball/dutch_stop.txt",
    "sv_sb": "snowball/swedish_stop.txt",
    "no_sb": "snowball/norwegian_stop.txt",
}
HASH_STOPS = {      # '#'-comment one-word-per-line format
    "ro": "ro/stopwords.txt",
    "tr": "tr/stopwords.txt",
    # round-5b: Greek (loadStopwordSet '#') and Galician (getWordSet
    # verbatim — its only '#' lines are headers, which could never
    # match a lowercased token, so skipping them is behavior-equal)
    "el": "el/stopwords.txt",
    "gl": "gl/stopwords.txt",
    "hy": "hy/stopwords.txt",
    "lt": "lt/stopwords.txt",
    "ga": "ga/stopwords.txt",
    "eu": "eu/stopwords.txt",
    "ca": "ca/stopwords.txt",
}
ALPHA = {
    "da": list("abdefghiklmnoprstuvyåæø"),
    "nl": list("abdefghiklmnoprstuvwyz") + list("áäéëíïóöúüè"),
    "sv_sb": list("abdefghiklmnoprstuvyäåö"),
    "no_sb": list("abdefghiklmnoprstuvyåæø"),
    "ro": list("abcdefghilmnoprstuvz") + list("ăâîşţ") + list("șț"),
    "tr": list("abcdefghiklmnoprstuvyz") + list("çğıöşü") + ["I"],
    "el": list("αβγδεζηθικλμνξοπρστυφχψω") + list("άέήίόύώϊϋςΣΆΊ"),
    "gl": list("abcdefghilmnñopqrstuvxz") + list("áéêíóúç"),
    "hy": [chr(c) for c in range(0x0561, 0x0587)],
    "lt": list("abcdefgiklmnoprstuvyz") + list("ąčęėįšųūž"),
    "ga": list("abcdefghilmnoprstu") + list("áéíóú") + ["'", "N", "T", "A", "E"],
    "eu": list("abdefghiklmnoprstuxz"),
    "ca": list("abcdefgilmnopqrstuvx") + list("àèéíïòóúüç·") + ["'", "L", "D"],
}
SUFFIXES = {
    "da": ["hed", "ethed", "ered", "e", "erede", "ende", "erende",
           "ene", "erne", "ere", "en", "heden", "eren", "er", "heder",
           "erer", "s", "heds", "es", "endes", "enes", "ens", "ets",
           "et", "eret", "igst", "ig", "lig", "elig", "els", "løst",
           "gd", "dt", "gt", "kt"],
    "nl": ["heden", "ene", "en", "se", "s", "e", "heid", "end", "ing",
           "lijk", "baar", "bar", "ig", "tje", "etje"],
    "sv_sb": ["a", "arna", "erna", "heterna", "orna", "ad", "e",
              "ade", "ande", "arne", "are", "aste", "en", "anden",
              "aren", "heten", "ern", "ar", "er", "heter", "or", "s",
              "as", "es", "ens", "at", "andet", "het", "ast", "ig",
              "lig", "els", "fullt", "löst"],
    "no_sb": ["a", "e", "ede", "ande", "ende", "ane", "ene",
              "hetene", "erte", "en", "heten", "ar", "er", "heter",
              "s", "as", "es", "ens", "ets", "et", "het", "ert",
              "ast", "leg", "eleg", "ig", "eig", "lig", "elig",
              "els", "lov", "elov", "slov", "hetslov", "dt", "vt"],
    "ro": ["ul", "ului", "aua", "ea", "ele", "elor", "ii", "iua",
           "iei", "iile", "ilor", "ile", "atei", "aţia", "aţie",
           "abilitate", "ibilitate", "ivitate", "icitate", "icator",
           "ical", "iciv", "ativ", "itiv", "aţiune", "iţiune",
           "atoare", "itoare", "ător", "ica", "ibila", "oasa",
           "ata", "ita", "anta", "ista", "uta", "iva", "ic", "ice",
           "iune", "iuni", "ism", "ist", "at", "it", "iv", "are",
           "ere", "ire", "ind", "ând", "ez", "eşte", "eze", "ai",
           "sei", "ui", "ăşti", "aţi", "eţi", "ar", "serăţi", "eam",
           "asem", "sesem", "au", "eau", "ează", "a", "e", "ie",
           "i", "ă"],
    "tr": ["lar", "ler", "ları", "leri", "ca", "ce", "nca", "nce",
           "da", "de", "ta", "te", "nda", "nde", "dan", "den",
           "ndan", "nden", "la", "le", "yla", "yle", "ki", "daki",
           "deki", "ndaki", "in", "un", "ün", "ın", "nin", "nun",
           "nün", "nın", "im", "um", "üm", "ım", "si", "su", "sü",
           "sı", "miz", "niz", "muz", "nuz", "dir", "dur", "dır",
           "tir", "miş", "muş", "mış", "di", "ti", "dik", "dım",
           "sa", "se", "sak", "ken", "yken", "casına", "cesine",
           "siniz", "sunuz", "sınız", "iz", "uz", "ız", "sin",
           "sun", "sın", "yorum", "acak", "ecek", "dığı"],
    "el": ["οσ", "η", "ο", "α", "ου", "ων", "ια", "ιου", "ιων",
           "αδεσ", "αδων", "εδεσ", "εδων", "ουδεσ", "ουδων", "εωσ",
           "εων", "ικα", "ικο", "ικου", "ικων", "αμε", "ησαμε",
           "ηθηκαμε", "ανε", "οντανε", "ετε", "ησετε", "οντασ",
           "ωντασ", "ομαστε", "ιεστε", "εστε", "ηκα", "ηκε", "ηκεσ",
           "ηθηκα", "ουσα", "ουσε", "ουσεσ", "αγα", "αγε", "αγεσ",
           "ησα", "ησε", "ησου", "ηστε", "ουνε", "ησουνε", "ουμε",
           "ηθουμε", "ματα", "ματων", "ματοσ", "ονται", "ομουν",
           "ιουνται", "εστερ", "οτατ", "ωτερ", "εισ", "ουν", "ησ",
           "ασ", "αν", "ει"],
    "gl": ["s", "es", "res", "ces", "zes", "ises", "ás", "ses",
           "íssimo", "aço", "lhar", "nho", "ário", "able", "ível",
           "çom", "agem", "ão", "om", "m", "mente", "dísimo",
           "bilísimo", "ísimo", "ésimo", "érrimo", "azo", "aza",
           "uza", "illo", "iño", "iña", "ito", "ita", "oide",
           "astro", "izo", "izar", "ización", "amento", "mento",
           "idade", "ancia", "encia", "ista", "ismo", "ável",
           "ción", "sión", "axe", "eiro", "eira", "ar", "er", "ir",
           "aba", "ía", "ou", "eu", "iu", "ará", "erá", "irá",
           "ando", "endo", "indo", "ado", "ido", "an", "en"],
    "hy": ['ը', 'ի', 'դ', 'ա', 'ն', 'վի', 'ցի', 'ատ', 'եղ', 'ոց', 'ալ', 'են', 'ին', 'իկ', 'վե', 'ել', 'իվ', 'իլ', 'ակ', 'վա', 'իչ', 'սա', 'ան', 'ոջը', 'եցի', 'կոտ', 'ոջդ', 'յակ', 'որդ', 'անդ', 'երը', 'երի', 'բար', 'վոր', 'ակի', 'եցա', 'նել', 'ուդ', 'ացի', 'ված', 'ըել', 'պան', 'ուկ', 'վան', 'ամբ', 'պես', 'երդ', 'ացա', 'ածո', 'անը', 'ուս', 'չել', 'գին', 'ում', 'ըալ', 'ալի', 'տել', 'վել', 'գար', 'ավոր', 'ուհի', 'ցնել', 'ների', 'վում', 'լայն', 'ուստ', 'ատել', 'յուն', 'ոտել', 'ական', 'վեցի', 'անակ', 'արան', 'ստան', 'որակ', 'րորդ', 'երեն', 'եղէն', 'վանը', 'ավետ', 'որէն', 'անալ', 'ույթ', 'ենալ', 'ացրի', 'ներդ', 'եկեն', 'ները', 'ովին', 'վուն'],
    "lt": ['e', 'a', 'i', 'am', 'yl', 'os', 'ėj', 'ųj', 'ąj', 'ai', 'op', 'ei', 'oj', 'ok', 'ėl', 'ie', 'ia', 'ki', 'si', 'aj', 'iop', 'ios', 'ite', 'uje', 'esi', 'ėme', 'ėte', 'ome', 'iuk', 'iai', 'umi', 'esn', 'ame', 'auj', 'yse', 'ėse', 'iul', 'iok', 'ote', 'ose', 'ain', 'ate', 'išk', 'asi', 'osi', 'iųj', 'iej', 'uoj', 'aus', 'isi', 'ioj', 'oje', 'ias', 'iaj', 'yje', 'ais', 'uos', 'ies', 'iąj', 'imi', 'jam', 'dam', 'ėje', 'ing', 'iesi', 'ėsna', 'uisi', 'enie', 'iame', 'iasi', 'eria', 'iuje', 'aite', 'osna', 'iose', 'iate', 'iuoj', 'esiu', 'uosi', 'iuos', 'iumi', 'kite', 'zgan', 'ysna', 'erie', 'tute', 'site', 'uote', 'ioje', 'aisi', 'eisi', 'sime', 'iais', 'uose', 'ojime', 'učiuk', 'okate', 'eryse', 'avime', 'eryje'],
    "ga": ['adh', 'ain', 'imh', 'ach', 'tar', 'irí', 'amh', 'ire', 'abh', 'áil', 'ibh', 'eamh', 'ímid', 'eabh', 'imid', 'acht', 'fidh', 'each', 'aimh', 'tear', 'aibh', 'aire', 'airí', 'eadh', 'aimid', 'achta', 'íocht', 'eacht', 'faidh', 'ginis', 'aímid', 'paite', 'aíocht', 'óidigh', 'gineas', 'eachta', 'íochta', 'patach', 'arcacht', 'aíochta', 'achtúil', 'pataigh', 'gineach', 'patacha', 'óideach', 'eachtúil', 'arcachta', 'óideacha', 'grafaíoch', 'arcachtaí', 'grafaíocht', 'grafaíochta', 'grafaíochtaí'],
    "eu": ['ki', 'ik', 'go', 'ro', 'ka', 'to', 'gi', 'la', 'ga', 'era', 'nea', 'pea', 'tza', 'ada', 'eza', 'tea', 'eta', 'tia', 'kia', 'ide', 'oia', 'ero', 'rik', 'keta', 'kura', 'emea', 'tuna', 'egia', 'dura', 'gura', 'date', 'ztik', 'kera', 'gaia', 'orra', 'aria', 'ohia', 'bide', 'eria', 'anda', 'unea', 'kada', 'bera', 'koia', 'pera', 'idea', 'zlea', 'ezia', 'geia', 'asia', 'dade', 'pena', 'enea', 'kina', 'tade', 'tura', 'anga', 'tate', 'kuna', 'mena', 'gunea', 'teria', 'gilea', 'keria', 'kunea', 'zalea', 'lanik', 'denda', 'laria', 'kotea', 'kabea', 'duria', 'aldea', 'korra', 'gabea', 'kumea', 'degia', 'karia', 'taria', 'etxea', 'tegia', 'tzaka', 'bidea', 'aldia', 'tzaga', 'nahia', 'kidea', 'tokia', 'ostea', 'ordea', 'ezina', 'larik', 'bizia', 'galea', 'artea', 'pidea', 'taldea', 'zionea', 'larria', 'kizuna'],
    "ca": ['o', 'á', 'ì', 'à', 's', 'é', 'a', 'ó', 'i', 'e', 'ï', 'í', 'us', 'ía', 'em', "'n", '-n', 'hi', 'ud', 'ir', 'ia', 'lo', 'it', 're', 'os', 'id', "'s", 'se', 'ie', 'ed', "'t", "'m", 'li', 'ii', 'is', 'ïn', 'ad', 'am', 'la', 'ïs', 'eu', 'ho', "'l", 'me', 'iu', '-m', 'ic', 'ïa', 'le', 'enc', "'ns", 'ita', 'iva', 'uda', 'osa', "'ls", 'nos', 'era', "'hi", 'nça', '-me', 'esc', 'esa', 'ima', 'ina', 'ira', 'ble', 'ica', 'ïda', 'ici', 'ida', 'isc', '-us', 'ïra', '-la', 'eta', '-ns', 'ens', 'itz', 'ixa', 'ada', 'ïsc', 'dre', "'ho", 'vos', 'ini', 'ase', '-ls', 'los', 'ava', 'ota', 'ara', 'aba', 'las', 'ana', '-li', 'les', 'iqu', '-te', 'ora', '-les', 'essa', 'dora', 'aría', '-nos', 'ible', 'isca', 'alla', 'able', 'ería'],
}
EXTRA = {
    "da": ["indtagelsen", "undersøgelse", "kærligheden", "smukkeste",
           "hyggelig", "bøgerne", "danskerne", "følelsesladet",
           "vennelaget", "bakken", "bakker", "gylden", "gyldent"],
    "nl": ["lichamelijkheden", "koninklijke", "appelboompje",
           "overeenkomstige", "café", "ruïne", "geïnteresseerd",
           "fiets", "bromfiets", "ei", "kind", "kinderen",
           "bessen", "bes", "groette", "groeten", "zeeën",
           "vrolijkheid", "yoghurt", "ijsje"],
    "sv_sb": ["klokkorna", "undersökning", "vackraste", "flickorna",
              "möjligheterna", "svenskarna", "kärleksfullt",
              "trolöst", "bakelser"],
    "no_sb": ["hetene", "undersøkelse", "vakreste", "jentene",
              "mulighetene", "nordmennene", "kjærlighetslov",
              "billigst", "vennelaget"],
    "ro": ["lucrările", "frumuseţea", "frumusețea", "copiii",
           "abilitatea", "naţional", "național", "românească",
           "studenţilor", "studenților", "cărţile", "cărțile",
           "mergeam", "vorbeşte", "vorbește", "citiseserăţi"],
    "tr": ["kitaplarımızdan", "Türkiye'nin", "İstanbul'da",
           "ISPARTA", "ırmak", "ağaçlarının", "çocuklarıyla",
           "evlerindeki", "gözlükçülükten", "soyad", "ad",
           "kitabı", "renkli", "köpeğin", "İstanbul",
           "güzelleştirilmiş", "değildir", "miyim"],
    "el": ["καθεστωτος", "γεγονότων", "ομορφιάς", "παιδιά",
           "Ελλάδα", "ΑΘΗΝΑ", "άνθρωποι", "θάλασσες", "τραγούδια",
           "αγαπούσαμε", "χορεύοντας", "γλώσσα", "μαθητές",
           "ερχόμαστε", "διαβάζετε", "φιλοσοφία", "προϊόν",
           "ψάρια", "ζωγραφική"],
    "gl": ["cancións", "mulleres", "animás", "felizmente",
           "cansadísimo", "homaço", "melhor", "garagem",
           "impressão", "agradable", "lucíamos", "pequeniño",
           "traballadores", "galego", "compañeiras", "universidade",
           "estudantes", "cantabamos", "choveu"],
    "hy": ["որդիներին", "ուսանողները", "գրքերից",
           "աշխատանքների", "հայերեն", "երեխաներով",
           "քաղաքականություն", "մայրաքաղաքում", "լեզուներ"],
    "lt": ["namuose", "vaikams", "didžiausias", "lietuviškai",
           "mokyklose", "žmonėms", "gražiausia", "studentų",
           "universitetas", "kalbėjome", "ačiū"],
    "ga": ["bhfear", "nAthair", "tSagart", "d'fhear", "b'ait",
           "m'athair", "hÉireann", "gceist", "an-mhaith",
           "t-athair", "scoileanna", "múinteoirí", "Gaeilge",
           "páistí", "leabhair", "amhráin", "ceolchoirmeacha"],
    "eu": ["etxeetan", "lagunekin", "euskaldunak", "irakaslearen",
           "ikasleentzat", "mendietatik", "itsasoraino",
           "haurtzaroan", "liburutegia", "unibertsitatea"],
    "ca": ["cançons", "treballadors", "psicològic", "col·legi",
           "l'home", "d'aigua", "L'Hospitalet", "paral·lel",
           "universitats", "catalanes", "començament",
           "arqueologia", "mengessin", "cantàvem"],
}


def snowball_words(rel):
    words = []
    for line in (REF / "resources/org/apache/lucene/analysis"
                 / rel).read_text(encoding="utf-8").splitlines():
        line = line.split("|")[0].strip()
        if line:
            words.extend(line.split())
    return words


def hash_words(rel):
    words = []
    for line in (REF / "resources/org/apache/lucene/analysis"
                 / rel).read_text(encoding="utf-8").splitlines():
        line = line.strip()
        if line and not line.startswith("#"):
            words.append(line)
    return words


def corpus(lang, stops, rng):
    lines = []
    for i in range(0, len(stops), 12):
        lines.append(" ".join(stops[i:i + 12]))
    bases = [w for w in stops if len(w) > 3][:30] or stops[:30]
    bases = bases + [
        "".join(rng.choice(ALPHA[lang]) for _ in range(rng.randint(3, 8)))
        for _ in range(25)]
    combo = [b + suf for b in bases for suf in SUFFIXES[lang]]
    for i in range(0, len(combo), 10):
        lines.append(" ".join(combo[i:i + 10]))
    rand = []
    for _ in range(1500):
        k = rng.randint(1, 14)
        rand.append("".join(rng.choice(ALPHA[lang]) for _ in range(k)))
    for i in range(0, len(rand), 10):
        lines.append(" ".join(rand[i:i + 10]))
    lines.append(" ".join(EXTRA[lang]))
    lines.append("hello WORLD 42 " + " ".join(EXTRA[lang][:2]))
    lines.append("")
    return lines


def main():
    subprocess.run(
        ["javac", "-encoding", "UTF-8", "-nowarn", "-cp", "classes",
         str(REPO / "tools/kuromoji_harness/AnalyzeLang.java"),
         "-d", "."], check=True, cwd=SCRATCH)
    # copy the public RSLP rules resource verbatim (data, not code)
    gl_dst = REPO / "lucene_solr_spark" / "analysis" / "gl_data"
    gl_dst.mkdir(exist_ok=True)
    (gl_dst / "galician.rslp").write_bytes(
        (REF / "resources/org/apache/lucene/analysis/gl"
         / "galician.rslp").read_bytes())
    rng = random.Random(20260822)
    golden = {}
    stops_all = {}
    for lang in list(SNOWBALL_STOPS) + list(HASH_STOPS):
        if lang in SNOWBALL_STOPS:
            stops = snowball_words(SNOWBALL_STOPS[lang])
        else:
            stops = hash_words(HASH_STOPS[lang])
        stops_all[lang] = stops
        lines = corpus(lang, stops, rng)
        blob = "\n".join(lines) + "\n"
        p = subprocess.run(
            ["java", "-cp", f".:classes:{REF}/resources",
             "AnalyzeLang", lang],
            cwd=SCRATCH, input=blob.encode("utf-8"),
            capture_output=True)
        if p.returncode != 0:
            raise RuntimeError(p.stderr.decode()[-2000:])
        docs = []
        cur = []
        for ln in p.stdout.decode("utf-8").split("\n"):
            if ln == "":
                docs.append(cur)
                cur = []
            else:
                cur.append(ln.split("\t"))
        golden[lang] = {"lines": lines, "docs": docs[:len(lines)]}
        ntok = sum(len(d) for d in golden[lang]["docs"])
        print(f"{lang}: {len(lines)} lines, {ntok} tokens,"
              f" {len(stops)} stopwords")

    dst = REPO / "tests" / "fixtures" / "snowball_golden.json"
    dst.write_text(json.dumps(golden, ensure_ascii=False),
                   encoding="utf-8")
    print(f"wrote {dst}")

    out = ['"""Stop sets for the Snowball-default analyzer chains —',
           "GENERATED by tools/gen_snowball_fixtures.py from the",
           "reference analyzer resources (public data). Do not edit.",
           '"""', "", "STOP_SETS = {"]
    for lang, stops in stops_all.items():
        out.append(f"    {lang!r}: frozenset((")
        line = "       "
        for w in stops:
            tok = f" {w!r},"
            if len(line) + len(tok) > 78:
                out.append(line)
                line = "       "
            line += tok
        out.append(line)
        out.append("    )),")
    out.append("}")
    dst2 = (REPO / "lucene_solr_spark" / "analysis"
            / "snowball_stop.py")
    dst2.write_text("\n".join(out) + "\n", encoding="utf-8")
    print(f"wrote {dst2}")


if __name__ == "__main__":
    main()
