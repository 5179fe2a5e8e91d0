"""Round-5b: Basque stemmer (analysis/eu.py — Snowball "basque":
cursor-anchored repeated verb/noun ending removal with
identity-replacement protections); the full chain is verified
token-for-token against the COMPILED reference BasqueAnalyzer goldens
in tests/test_analysis_chains.py."""

from lucene_solr_spark.analysis.eu import stem_eu


def test_stem_spots():
    assert stem_eu("etxeetan") == "etxe"
    # identity replacement protects the word AND halts the repeat
    # loop with the cursor before it (BasqueStemmer a_0 'arabera')
    assert stem_eu("arabera") == "arabera"
