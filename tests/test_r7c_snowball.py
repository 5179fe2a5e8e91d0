"""Round-5: Snowball-default analyzer chains (analysis/chains +
analysis/snowball) for DanishAnalyzer, DutchAnalyzer, SwedishAnalyzer,
NorwegianAnalyzer, RomanianAnalyzer and TurkishAnalyzer: spot checks
of the stemmers and chain filters.  The full chains are verified
token-for-token against the COMPILED reference analyzers' goldens in
tests/test_analysis_chains.py."""

from lucene_solr_spark.analysis.chains import (analyze_batch, apostrophe,
                                               turkish_lower)
from lucene_solr_spark.analysis.snowball import STEMMERS


def test_stemmer_spot_checks():
    assert STEMMERS["da"]("indtagelsen") == "indtag"
    assert STEMMERS["sv"]("klokkorna") == "klokk"
    assert STEMMERS["no"]("hetene") == "het"
    assert STEMMERS["nl"]("lichamelijkheden") == "licham"
    assert STEMMERS["ro"]("lucrările") == "lucrăr"
    assert STEMMERS["tr"]("kitaplarımızdan") == "kitap"
    # turkish postlude: reserved words skip it; b/c/d/ğ finals map
    assert STEMMERS["tr"]("soyad") == "soyad"
    assert STEMMERS["tr"]("kitabı") == "kitap"


def test_turkish_filters():
    assert apostrophe("Türkiye'nin") == "Türkiye"
    assert apostrophe("a’b’c") == "a"
    assert turkish_lower("ISPARTA") == "ısparta"
    assert turkish_lower("İstanbul") == "istanbul"
    assert turkish_lower("DİYARBAKIR") == "diyarbakır"
    # I + combining dot above composes to dotted i
    assert turkish_lower("İstanbul") == "istanbul"


def test_dutch_stem_override_is_keyword():
    (terms, _), = analyze_batch("nl", ["ei kind fiets"])
    assert terms == ["eier", "kinder", "fiets"]
