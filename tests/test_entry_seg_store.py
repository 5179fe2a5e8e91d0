"""The contract module's on-disk segment store follows its input: rewriting
documents.parquet at the same path must give a fresh store, not the
stale one built from the old file."""

import tempfile

import pandas as pd


def test_seg_store_rebuilt_when_documents_rewritten(spark, tmp_path,
                                                    monkeypatch):
    import __spark_entry__ as entry

    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    monkeypatch.setattr(entry, "_SEG", {})
    sf = tmp_path / "sf"
    sf.mkdir()

    def write_docs(n):
        pd.DataFrame({"doc_id": list(range(n)),
                      "text": [f"doc number {i}" for i in range(n)]}) \
            .to_parquet(sf / "documents.parquet")

    write_docs(3)
    assert entry._seg_searcher(spark, str(sf)).six.doc_count == 3
    write_docs(5)
    entry._SEG.clear()
    assert entry._seg_searcher(spark, str(sf)).six.doc_count == 5
    # both stores live under the (patched) temp dir
    stores = list((tmp_path / "tmp" / "lucene_solr_spark_segs").glob("v*/*"))
    assert len(stores) == 2
