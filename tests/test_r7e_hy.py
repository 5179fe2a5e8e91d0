"""Round-5b: Armenian stemmer (analysis/hy.py — Snowball "armenian"
via ArmenianStemmer.java semantics); the full chain is verified
token-for-token against the COMPILED reference ArmenianAnalyzer
goldens in tests/test_analysis_chains.py."""

from lucene_solr_spark.analysis.hy import stem_hy


def test_stem_spots():
    # case ending within R2, then noun suffix within RV
    assert stem_hy("ուսանողները") != "ուսանողները"  # something strips
    # no vowel -> untouched
    assert stem_hy("քրտ") == "քրտ"
