"""Posting-block codec roundtrips (BasePostingsFormatTestCase analogue:
lucene/test-framework/src/java/org/apache/lucene/index/
BasePostingsFormatTestCase.java:102-122 — randomized postings at every
block-boundary shape must roundtrip exactly)."""

import numpy as np
import pytest

from lucene_solr_spark.codecs import blocks as blk


@pytest.mark.parametrize("vals", [
    [0], [1], [127], [128], [16383], [16384],
    [2**32, 2**53 + 1, 0, 1],
])
def test_vbyte_edges(vals):
    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(blk.vbyte_decode(blk.vbyte_encode(v), v.size), v)


def test_vbyte_random():
    rng = np.random.default_rng(42)
    v = rng.integers(0, 2**40, 5000).astype(np.uint64)
    assert np.array_equal(blk.vbyte_decode(blk.vbyte_encode(v), v.size), v)


@pytest.mark.parametrize("width", list(range(1, 65)))
def test_for_pack_all_widths(width):
    rng = np.random.default_rng(width)
    hi = (1 << width) - 1
    v = rng.integers(0, 2**62, 300, dtype=np.uint64) & np.uint64(hi)
    v[0] = np.uint64(hi)  # max value must fit
    v[1] = np.uint64(0)
    assert np.array_equal(
        blk.for_unpack(blk.for_pack(v, width), v.size, width), v)


def _random_term(rng, n, dense=False, tf1=False):
    """(docids, tfs, positions, qdls) of one random term with n docs."""
    if dense:
        d = np.arange(n, dtype=np.int64) + int(rng.integers(0, 10**6))
    else:
        d = np.sort(rng.choice(10**9, n, replace=False)).astype(np.int64)
    t = (np.ones(n, dtype=np.int64) if tf1
         else rng.integers(1, 50, n).astype(np.int64))
    pos = np.concatenate([
        np.sort(rng.choice(500, k, replace=False)) for k in t
    ]).astype(np.int64)
    qdl = rng.integers(1, 200, n).astype(np.int64)
    return d, t, pos, qdl


def _assert_batch_matches_per_term(terms):
    """encode_postings_batch over all terms at once == encode_postings
    per term: block bytes, skip arrays and packed_bytes."""
    cat = [np.concatenate([x[i] for x in terms]) for i in range(4)]
    counts = np.array([x[0].size for x in terms], dtype=np.int64)
    enc = blk.encode_postings_batch(cat[0], cat[1], cat[3], cat[2], counts)
    bts = enc["blk_term_starts"]
    assert bts[-1] == len(enc["skip_n_docs"])

    def blocks(stream, offs, lo, hi):
        return [stream[offs[j]:offs[j + 1]].tobytes() for j in range(lo, hi)]

    for k, (d, t, pos, qdl) in enumerate(terms):
        ref = blk.encode_postings(d, t, pos, qdl)
        lo, hi = int(bts[k]), int(bts[k + 1])
        assert blocks(enc["doc_stream"], enc["doc_offsets"], lo, hi) \
            == ref["doc_blocks"], k
        assert blocks(enc["tf_stream"], enc["tf_offsets"], lo, hi) \
            == ref["tf_blocks"], k
        assert blocks(enc["pos_stream"], enc["pos_offsets"], lo, hi) \
            == ref["pos_blocks"], k
        for f in ("skip_last_docid", "skip_n_docs", "skip_max_tf",
                  "skip_min_qdl"):
            assert np.array_equal(enc[f][lo:hi], ref[f]), (k, f)
        assert enc["packed_bytes"][k] == sum(
            len(b) for b in ref["doc_blocks"] + ref["tf_blocks"]
            + ref["pos_blocks"]), k


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 255, 256, 257, 1000])
def test_postings_roundtrip(n):
    """Block-boundary cases from the reference's randomized tester."""
    rng = np.random.default_rng(n)
    d, t, pos, qdl = _random_term(rng, n)
    enc = blk.encode_postings(d, t, pos, qdl)
    dd, tt = blk.decode_all(enc["doc_blocks"], enc["tf_blocks"],
                            enc["skip_n_docs"])
    assert np.array_equal(dd, d)
    assert np.array_equal(tt, t)
    # positions per block
    pb = np.concatenate(([0], np.cumsum(t)))
    for i in range(len(enc["doc_blocks"])):
        lo, hi = i * blk.BLOCK_SIZE, min((i + 1) * blk.BLOCK_SIZE, n)
        got = blk.decode_pos_block(enc["pos_blocks"][i], t[lo:hi])
        assert np.array_equal(got, pos[pb[lo]:pb[hi]])
    # skip metadata is consistent
    off = 0
    for i in range(len(enc["doc_blocks"])):
        nn = enc["skip_n_docs"][i]
        assert enc["skip_last_docid"][i] == d[off + nn - 1]
        assert enc["skip_max_tf"][i] == t[off:off + nn].max()
        assert enc["skip_min_qdl"][i] == qdl[off:off + nn].min()
        off += nn
    # the batch encoder over several terms at once: this term among
    # single-doc terms, all-tf-1 runs, dense docid runs and >128-doc
    # terms must give each term exactly its per-term encoding
    _assert_batch_matches_per_term([
        _random_term(rng, 1), (d, t, pos, qdl),
        _random_term(rng, 1, tf1=True), _random_term(rng, n, tf1=True),
        _random_term(rng, n, dense=True),
        _random_term(rng, 128, dense=True, tf1=True),
        _random_term(rng, 300), _random_term(rng, 129, dense=True),
        _random_term(rng, 1),
    ])


def test_dense_run_special_case():
    """All-1 deltas collapse to a 9-byte block + 1-byte tf block
    (ForDeltaUtil.java:56-69 / freq==1 folding)."""
    d = np.arange(1000, 1128, dtype=np.int64)
    enc = blk.encode_postings(d, np.ones(128, dtype=np.int64))
    assert len(enc["doc_blocks"][0]) == 9
    assert len(enc["tf_blocks"][0]) == 1
    dd, tt = blk.decode_all(enc["doc_blocks"], enc["tf_blocks"],
                            enc["skip_n_docs"])
    assert np.array_equal(dd, d)
    assert np.array_equal(tt, np.ones(128))


def test_positions_multi_doc_carry():
    """Per-doc position delta streams reset at doc boundaries."""
    d = np.array([5, 9], dtype=np.int64)
    t = np.array([3, 2], dtype=np.int64)
    pos = np.array([0, 4, 7, 2, 3], dtype=np.int64)
    enc = blk.encode_postings(d, t, pos)
    got = blk.decode_pos_block(enc["pos_blocks"][0], t)
    assert np.array_equal(got, pos)
