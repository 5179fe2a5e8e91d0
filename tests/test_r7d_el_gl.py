"""Round-5b: Greek (22-rule cascade, analysis/el.py) and Galician
(RSLP rules engine, analysis/gl.py) filters and stemmers; the full
chains are verified token-for-token against the COMPILED reference
GreekAnalyzer / GalicianAnalyzer goldens in
tests/test_analysis_chains.py."""

from lucene_solr_spark.analysis.el import greek_lower, stem_el
from lucene_solr_spark.analysis.gl import stem_gl


def test_greek_lower():
    assert greek_lower("ΑΘΗΝΑΣ") == "αθηνασ"   # final ς folds to σ
    assert greek_lower("Ελλάδα") == "ελλαδα"   # tonos folds
    assert greek_lower("προϊόν") == "προιον"   # dialytika folds


def test_greek_stem_spots():
    # rule 0 protected nouns and rule 21 fallback
    assert stem_el(greek_lower("καθεστωτος")) == "καθεστ"
    assert stem_el(greek_lower("γεγονότων")) == "γεγον"
    assert stem_el("ωμα") == "ωμα"  # < 4 chars untouched


def test_galician_rslp_spots():
    # values pinned from the REFERENCE GalicianStemmer (the full
    # chain is golden-verified in test_analysis_chains; these are
    # readable anchors)
    assert stem_gl("cancións") == "cant"     # plural + noun steps
    assert stem_gl("felizmente") == "feliz"  # adverb step
    assert stem_gl("mulleres") == "mull"     # plural + noun steps
    # unification: portuguese-style orthography folds to galician
    assert stem_gl("melhor") == "mellor"


def test_galician_rules_parse():
    from lucene_solr_spark.analysis.gl import _get_steps
    steps = _get_steps()
    assert set(steps) == {"Plural", "Unification", "Adverb",
                          "Augmentative", "Noun", "Verb", "Vowel"}
    assert steps["Plural"].suffixes == ("s",)
