"""Round-4: second-wave language analyzers (ar/fa/bg/cz/hi/id/lv) —
unit behaviors of the filters and stemmers.  Token-for-token parity
against the COMPILED reference analyzers over the full fixture
corpora (tools/gen_lang2_fixtures.py) is in
tests/test_analysis_chains.py."""

from lucene_solr_spark.analysis.lang2 import (arabic_stem,
                                              decimal_digit,
                                              hindi_stem,
                                              indonesian_stem,
                                              lang2_analyze,
                                              latvian_stem)


def test_unit_behaviors():
    # DecimalDigitFilter: arabic-indic + devanagari digits fold
    assert decimal_digit("١٢٣") == "123"
    assert decimal_digit("१२३") == "123"
    assert decimal_digit("a1b") == "a1b"
    # Arabic: al- prefix + -ha suffix
    assert arabic_stem("الكتابها") == "كتاب"
    # Indonesian: derivational prefix+suffix interplay
    assert indonesian_stem("membaca") == "baca"
    assert indonesian_stem("kebijakan") == "bijak"
    # Hindi: longest suffix wins
    assert hindi_stem("लडकियों") == "लडक"
    # Latvian palatalization: ņ -> n after -u removal
    assert latvian_stem("celiņu") == "celin"


def test_position_gaps_for_stopwords():
    # id stop list contains 'yang'
    terms, positions = lang2_analyze("id", "buku yang membaca")
    assert terms == ["buku", "baca"]
    assert positions == [0, 2]
