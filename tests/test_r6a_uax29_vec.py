"""Round-4: vectorized UAX#29 kernel (analysis/uax29_vec) must be
indistinguishable from the scalar exact scanner (analysis/uax29),
which is itself fuzz-verified against the reference DFA
(tools/fuzz_uax29.py, zero divergences).  Pools mirror the fuzz
harness's class-representative construction."""

import os
import random

import numpy as np
import pytest

from lucene_solr_spark.analysis import uax29_vec as V
from lucene_solr_spark.analysis.analyzers import standard_tokenize
from lucene_solr_spark.analysis.chains import analyze_batch
from lucene_solr_spark.analysis.cjk import cjk_analyze, cjk_analyze_batch
from lucene_solr_spark.analysis.lang import STEMMERS, lang_analyze
from lucene_solr_spark.analysis.uax29 import segment
from lucene_solr_spark.analysis.uax29_tables import RANGES


def _pool():
    rng = random.Random(20260821)
    chars = list("abz19 .,:'\"_-#*\t\n")
    for _f, ranges in RANGES.items():
        flat = [cp for a, b in ranges for cp in (a, b, (a + b) // 2)]
        chars += [chr(c) for c in rng.sample(flat, min(12, len(flat)))]
    chars += [chr(c) for c in
              (0x200D, 0xFE0E, 0xFE0F, 0x20E3, 0xE0020, 0xE007F,
               0x1F1E6, 0x1F1E7, 0x1F3FB, 0x1F44D, 0x1F600, 0x0E01,
               0x0E31, 0xAC00, 0x4E00, 0x3042, 0x30A2, 0x05D0, 0x05F3,
               0x0301, 0x00AD, 0x070F, 0xFF10, 0xFF21, 0x0660)]
    return chars, rng


def _docs(n=3000, maxlen=60):
    chars, rng = _pool()
    docs = ["".join(rng.choice(chars) for _ in range(rng.randint(0, maxlen)))
            for _ in range(n)]
    docs += ["", "   ", "...", "a" * 600, ("一" * 50 + " word ") * 20,
             "x" * 300 + "א" * 260, chr(0x1F600) * 300, "𝒜" * 130,
             "a.b.c", "can't", "1,000.5", "אא״אא"]
    return docs


def test_segment_batch_matches_scalar():
    docs = _docs()
    got = V.segment_batch(docs)
    for d, g in zip(docs, got):
        assert g == segment(d), repr(d)


def test_dense_loop_matches_scalar():
    docs = _docs(800)
    for d in docs:
        assert V._segment_dense(d) == segment(d), repr(d)


def test_window_chopping_paths():
    # over-long runs exercise the capped rescan (dense) and the C
    # kernel's in-loop cap check, incl. astral (2-unit) codepoints
    docs = ["a" * 1000, "𝒜" * 300, "一" * 5 + "b" * 500,
            ("x" * 254 + "_") * 3, "𝒜" * 127 + "q"]
    got = V.segment_batch(docs)
    for d, g in zip(docs, got):
        assert g == segment(d), repr(d)
        assert V._segment_dense(d) == segment(d), repr(d)


def test_standard_tokenize_batch_parity():
    docs = _docs(1200)
    got = V.standard_tokenize_batch(docs)
    for d, g in zip(docs, got):
        assert g == standard_tokenize(d), repr(d)


def test_lang_and_cjk_batch_parity():
    # the chain runner vs the scalar NFA-scanner chain, all ten
    # light-stemmer languages; the memo sees one surface in several
    # case/elision forms within a batch
    docs = _docs(300) + ["L'Avion l'avion LAVION", "l'avion L’AVION"]
    for lang in STEMMERS:
        got = analyze_batch(lang, docs)
        for d, g in zip(docs, got):
            assert g == lang_analyze(lang, d), (lang, repr(d))
    assert analyze_batch("fr", ["L'Avion l'avion LAVION"]) == [
        (["avion", "avion", "lavion"], [0, 1, 2])]
    # fa: PersianCharFilter turns ZWNJ into a space before tokenizing
    # ("ها" is then a stopword: position gap); a shared batch (and
    # memo) gives each line what it gets alone
    fa = ["کتاب", "کتاب\u200cها را می\u200cخواهم ١٢٣ کتاب", "کتاب ها"]
    got = analyze_batch("fa", fa)
    assert got[1] == (["كتاب", "خواهم", "123", "كتاب"], [0, 4, 5, 6])
    assert got == [analyze_batch("fa", [d])[0] for d in fa]
    got = cjk_analyze_batch(docs)
    for d, g in zip(docs, got):
        assert g == cjk_analyze(d), repr(d)


def test_truncated_table_cache_rebuilds(tmp_path, monkeypatch):
    docs = _docs(200)
    want = V.segment_batch(docs)
    t = V._tab()
    path = str(tmp_path / "uax29_tables.npz")
    np.savez(path, lut=t.lut, T1C=t.T1C, A2=t.A2, rules=t.rules,
             C=t.C, startC=t.startC, sep=t.sep, lowlut=t.lowlut)
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    monkeypatch.setattr(V, "_tables_cache_path", lambda: path)
    monkeypatch.setattr(V, "_tables", None)
    rebuilt = V._tab()
    assert rebuilt is not t
    assert V.segment_batch(docs) == want
    assert int(np.load(path)["C"]) == rebuilt.C   # cache rewritten


def test_c_kernel_builds_here():
    # this container has cc; the kernel must actually be in play (the
    # dense fallback is exercised separately above)
    assert V._kernel() is not None


def test_lower_lut_matches_simple_lower():
    from lucene_solr_spark.analysis.uax29 import simple_lower
    import numpy as np
    lut = V._lower_lut_now()
    rng = random.Random(5)
    cps = [rng.randrange(0, 0x110000) for _ in range(5000)]
    cps += [0x130, 0x49, 0x4B, 0x212A, 0x212B]  # known exceptions
    for cp in cps:
        if 0xD800 <= cp <= 0xDFFF:
            continue
        assert chr(int(lut[cp])) == simple_lower(chr(cp)), hex(cp)
