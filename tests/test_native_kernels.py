"""The shared native-kernel loader (analysis/native.py): no C compiler
means no kernel and the scalar fallback, and a cache directory another
user could write to is never used."""

import os
import tempfile

from lucene_solr_spark.analysis import native
from lucene_solr_spark.analysis import uax29_vec as V
from lucene_solr_spark.analysis.uax29 import segment

DOCS = ["", "Hello, world!", "can't 1,000.5 a.b.c", "一二 word テスト",
        "x" * 300, "אא״אא \U0001F600\U0001F3FB"]


def test_no_compiler_falls_back_to_scalar(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path / "empty-bin"))
    assert native.load_kernel("uax29_kernel", V._C_SRC) is None
    monkeypatch.setattr(V, "_clib", None)
    monkeypatch.setattr(V, "_clib_tried", False)
    assert V._kernel() is None
    assert V.segment_batch(DOCS) == [segment(d) for d in DOCS]
    # nothing but the private cache dir was left behind
    d = tmp_path / f"lss-cache-{os.getuid()}"
    assert [p.name for p in tmp_path.iterdir()] == [d.name]
    assert not any(p.suffix in (".c", ".so") for p in d.iterdir())


def test_world_writable_cache_dir_is_not_used(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = tmp_path / f"lss-cache-{os.getuid()}"
    d.mkdir()
    os.chmod(d, 0o777)
    assert native.cache_dir() is None
    assert native.load_kernel("uax29_kernel", V._C_SRC) is None
    assert V._tables_cache_path() is None
    assert list(d.iterdir()) == []


def test_private_cache_dir_is_created_0700(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = native.cache_dir()
    assert d == str(tmp_path / f"lss-cache-{os.getuid()}")
    assert os.stat(d).st_mode & 0o777 == 0o700
