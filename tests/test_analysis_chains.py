"""Token-local analyzer chains (analysis/chains.CHAINS through the one
batch runner, analyze_batch) verified token for token against the
COMPILED reference analyzers' golden streams:

- snowball_golden.json (tools/gen_snowball_fixtures.py): da, nl,
  sv_sb, no_sb, ro, tr (Snowball defaults), el, gl, hy, lt, ga, eu, ca;
- lang2_golden.json (tools/gen_lang2_fixtures.py): ar, fa, bg, cz, hi,
  id, lv.

Each corpus runs as ONE batch, so the per-batch surface memo is
exercised across lines."""

import json
import pathlib

import pytest

from lucene_solr_spark.analysis.chains import analyze_batch

FIX = pathlib.Path(__file__).parent / "fixtures"
SNOWBALL = ["da", "nl", "sv_sb", "no_sb", "ro", "tr",
            "el", "gl", "hy", "lt", "ga", "eu", "ca"]
LANG2 = ["ar", "fa", "bg", "cz", "hi", "id", "lv"]


def _unesc(s):
    if "\\" not in s:
        return s
    return (s.replace("\\t", "\t").replace("\\n", "\n")
            .replace("\\r", "\r").replace("\\\\", "\\"))


@pytest.fixture(scope="module")
def golden():
    out = {}
    for name in ("snowball_golden.json", "lang2_golden.json"):
        out.update(json.loads((FIX / name).read_text(encoding="utf-8")))
    return out


@pytest.mark.parametrize("lang", SNOWBALL + LANG2)
def test_chain_matches_reference(golden, lang):
    d = golden[lang]
    lines, docs = d["lines"], d["docs"]
    if lang in LANG2:
        assert len(lines) > 100
    else:
        assert sum(len(doc) for doc in docs) > 2000
    got = analyze_batch(lang, lines)
    assert len(got) == len(lines)
    for line, doc, (terms, positions) in zip(lines, docs, got):
        gterms = [_unesc(t[0]) for t in doc]
        gpos = []
        p = -1
        for t in doc:
            p += int(t[1])
            gpos.append(p)
        assert terms == gterms, (lang, repr(line[:80]))
        assert positions == gpos, (lang, repr(line[:80]))

