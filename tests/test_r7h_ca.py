"""Round-5b: Catalan stemmer (analysis/ca.py — Snowball "catalan")
and elision; the full chain is verified token-for-token against the
COMPILED reference CatalanAnalyzer goldens in
tests/test_analysis_chains.py."""

from lucene_solr_spark.analysis.ca import stem_ca
from lucene_solr_spark.analysis.lang import elide


def test_spots():
    assert stem_ca("cançons") == "cançon"
    assert stem_ca("psicològic") == "psicologic"
    assert elide("ca", "l'home") == "home"
    assert elide("ca", "x'home") == "x'home"
