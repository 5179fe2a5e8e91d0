"""The Arrow segment kernel behind IndexWriter.append_raw inverts a
corpus exactly like the Catalyst inversion of builder.build_index:
every packed posting row decodes to the same (term, docid, tf,
positions) rows, and every segment's norm/qdl blobs hold the same
per-doc norm_byte and qdl (the flush-time invariant of the reference's
FreqProxTermsWriter + norms writer, checked the way CheckIndex reads a
segment back)."""

import numpy as np
from pyspark.sql import functions as F

from lucene_solr_spark.codecs import blocks as blk
from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.docids import assign_docids
from lucene_solr_spark.index.writer import IndexWriter


def _decoded_postings(six):
    """{(term, docid): (tf, positions)} from every packed row."""
    out = {}
    for r in six.packed.collect():
        d, t = blk.decode_all(r.doc_blocks, r.tf_blocks, r.skip_n_docs)
        assert d.size == r.df and int(t.sum()) == r.ttf
        ends = np.cumsum(r.skip_n_docs)
        pos = np.concatenate([
            blk.decode_pos_block(b, t[e - n:e])
            for b, n, e in zip(r.pos_blocks, r.skip_n_docs, ends)])
        starts = np.concatenate(([0], np.cumsum(t)))
        for i, (doc, tf) in enumerate(zip(d.tolist(), t.tolist())):
            key = (r.term, doc)
            assert key not in out, key
            out[key] = (tf, pos[starts[i]:starts[i + 1]].tolist())
    return out


def _decoded_norms(six):
    """{docid: (norm_byte, qdl)} from every segment's norms row."""
    out = {}
    for r in six.norms.collect():
        nb = np.frombuffer(r.norm_blob, dtype=np.uint8)
        qb = np.frombuffer(r.qdl_blob, dtype=np.int32)
        assert nb.size == qb.size == r.n_docs  # contiguous docid range
        for i in range(nb.size):
            out[r.docid_min + i] = (int(nb[i]), int(qb[i]))
    return out


def _assert_same_inversion(spark, docs, tmp_path, docs_per_segment):
    """docs: (conv_id, turn_idx, text) rows without docids."""
    six = IndexWriter.create(spark, str(tmp_path / "ix"),
                             docs_per_segment=docs_per_segment) \
        .append_raw(docs)
    ix = build_index(assign_docids(docs, ["conv_id", "turn_idx"]),
                     docid_col="docid", cache=False)
    want_post = {(r.term, r.docid): (r.tf, list(r.positions))
                 for r in ix.postings.collect()}
    want_norms = {r.docid: (r.norm_byte, r.qdl)
                  for r in ix.docs.collect()}
    got_post = _decoded_postings(six)
    assert len(got_post) == len(want_post) > 0
    assert got_post == want_post
    assert _decoded_norms(six) == want_norms
    assert six.doc_count == ix.doc_count and six.sum_ttf == ix.sum_ttf
    return six


def test_kernel_inversion_equals_catalyst_xs(spark, xs_transcripts, tmp_path):
    six = _assert_same_inversion(spark, xs_transcripts.drop("docid"),
                                 tmp_path, docs_per_segment=128)
    assert len(six.live_segs) > 1


def test_kernel_inversion_equals_catalyst_edge_corpus(spark, tmp_path):
    """Empty-text and token-less docs (zero norms, no postings), a
    token-less trailing segment, a term with > 128 docs in one
    segment (multi-block rows, dense docid runs) and tf > 1."""
    rows = []
    for i in range(300):
        if i >= 256:
            text = "" if i % 2 else "-- !! ..."   # segment 1: no tokens
        elif i % 17 == 0:
            text = ""
        elif i % 13 == 0:
            text = "?!"
        else:
            text = f"Common x{i % 7} common y{i % 3} Z{i}"
        rows.append((f"c{i:05d}", 0, text))
    docs = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, "
                                       "text STRING")
    six = _assert_same_inversion(spark, docs, tmp_path,
                                 docs_per_segment=256)
    hot = six.packed.filter(F.col("term") == "common").first()
    assert hot.df > 128 and len(hot.skip_n_docs) == 2
    assert len(six.live_segs) == 2
    assert {r.seg_id for r in six.packed.select("seg_id").collect()} \
        == {min(six.live_segs)}

