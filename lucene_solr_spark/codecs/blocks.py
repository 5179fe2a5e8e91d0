"""Posting-block codec: delta + VByte / FOR bit-packing in vectorized numpy.

Spark-first re-expression of the reference's block postings format
(lucene/core/src/java/org/apache/lucene/codecs/lucene84/
Lucene84PostingsFormat.java:39-104): postings are split into blocks of
up to ``BLOCK_SIZE`` = 128 docs; within a block, doc deltas are packed
with the same bit width (FOR — ForUtil.java:27-34 / ForDeltaUtil.java:
56-82), term frequencies use FOR with a patched-exception fallback in
the reference (PForUtil.java:49-113) which we realize as FOR over the
raw values, and positions are delta-VByte streams per document.

Layout per encoded block (ours, little-endian):

  doc block : [1B bit-width][8B first_docid][FOR-packed deltas]
              bit-width 0 == all-dense (delta 1 everywhere), no payload
              (the reference's same special case, ForDeltaUtil.java:56-69)
  tf block  : [1B bit-width][FOR-packed tfs]
              bit-width 0 == all tfs equal 1 (Lucene's freq==1 folding,
              Lucene84PostingsWriter.java:347-375)
  pos block : VByte stream of per-doc position deltas (first position
              absolute-encoded as delta from -1), doc lengths given by
              the block's tf values

Skip/impact metadata per block (multi-level skip lists + competitive
impacts, MultiLevelSkipListWriter.java:69-85,
CompetitiveImpactAccumulator.java:71-118): we store flat per-block
arrays ``(last_docid, max_tf, min_qdl)``; binary search over the
last_docid array replaces pointer-chasing skip levels (same
asymptotics), and ``score(max_tf, min_qdl)`` upper-bounds every doc in
the block for any monotone BM25 weight — the block-max used by WAND.

Everything here is pure numpy (no Spark imports) so the pack/unpack
kernels run inside Arrow-batched pandas UDFs at full vector speed.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


# ---------------------------------------------------------------------------
# VByte (vectorized)
# ---------------------------------------------------------------------------

def vbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 (7-bit groups, high bit = continuation)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bit_length vectorized (numpy has no clz; log2-on-float is unsafe
    # past 2^53): repeated shift-and-count on uint64
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >= np.uint64(1 << shift)
        bl[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    bl += (tmp > 0).astype(np.int64)  # now bl = bit_length, 0 for value 0
    ngroups = np.maximum((bl + 6) // 7, 1)
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(ngroups)
    starts = ends - ngroups
    # write groups: for each value, groups little-endian
    max_g = int(ngroups.max())
    for g in range(max_g):
        sel = ngroups > g
        idx = starts[sel] + g
        chunk = (v[sel] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (ngroups[sel] - 1 > g)
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes()


def vbyte_decode(buf: bytes, n: int) -> np.ndarray:
    """Decode ``n`` values from a LEB128 stream (vectorized)."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    # value index of each byte = count of terminators before it
    vidx = np.cumsum(is_last) - is_last  # 0-based group per byte
    gpos = np.arange(b.size) - np.concatenate(
        ([0], np.flatnonzero(is_last)[:-1] + 1))[vidx]
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(vals, vidx, (b & np.uint8(0x7F)).astype(np.uint64)
              << (np.uint64(7) * gpos.astype(np.uint64)))
    return vals


# ---------------------------------------------------------------------------
# FOR bit-packing (fixed width per block)
# ---------------------------------------------------------------------------

def _bit_width(max_val: int) -> int:
    return max(int(max_val).bit_length(), 1)


def for_pack(values: np.ndarray, width: int) -> bytes:
    """Pack values into ``width``-bit little-endian lanes (ForUtil-style)."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    total_bits = n * width
    nbytes = (total_bits + 7) // 8
    out = np.zeros(nbytes + 8, dtype=np.uint8)  # +8 slack for 64-bit writes
    bitpos = np.arange(n, dtype=np.int64) * width
    byte0 = bitpos >> 3
    shift = (bitpos & 7).astype(np.uint64)
    # each value occupies <= width+7 bits across <= 9 bytes; bytes 0..7
    # come from the low 64 bits of (v << shift), byte 8 from the overflow
    for b in range(8):
        if b * 8 >= width + 7:
            break
        part = ((v << shift) >> np.uint64(8 * b)) & np.uint64(0xFF)
        np.bitwise_or.at(out, byte0 + b, part.astype(np.uint8))
    if width > 56:
        sh2 = (np.uint64(64) - shift) % np.uint64(64)
        hi = np.where(shift > 0, v >> sh2, np.uint64(0)) & np.uint64(0xFF)
        np.bitwise_or.at(out, byte0 + 8, hi.astype(np.uint8))
    return out[:nbytes].tobytes()


def for_unpack(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of for_pack."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    padded = np.zeros(raw.size + 8, dtype=np.uint8)
    padded[:raw.size] = raw
    bitpos = np.arange(n, dtype=np.int64) * width
    byte0 = bitpos >> 3
    shift = (bitpos & 7).astype(np.uint64)
    acc = np.zeros(n, dtype=np.uint64)
    for b in range(8):
        if b * 8 >= width + 7:
            break
        acc |= padded[byte0 + b].astype(np.uint64) << np.uint64(8 * b)
    acc >>= shift
    if width > 56:
        sh2 = (np.uint64(64) - shift) % np.uint64(64)
        hi = padded[byte0 + 8].astype(np.uint64)
        acc |= np.where(shift > 0, hi << sh2, np.uint64(0))
    mask = np.uint64((1 << width) - 1) if width < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    return acc & mask


# ---------------------------------------------------------------------------
# block encode / decode: one term's postings -> block arrays
# ---------------------------------------------------------------------------

def encode_doc_block(docids: np.ndarray) -> bytes:
    """[width u8][first_docid u64][FOR deltas of docids[1:]]; width 0 = dense."""
    d = np.asarray(docids, dtype=np.uint64)
    first = int(d[0])
    header = np.uint64(first).tobytes()
    if d.size == 1:
        return bytes([0]) + header
    deltas = np.diff(d)
    if bool(np.all(deltas == 1)):
        return bytes([0]) + header  # dense run (ForDeltaUtil.java:56-69)
    w = _bit_width(int(deltas.max()))
    return bytes([w]) + header + for_pack(deltas, w)


def decode_doc_block(buf: bytes, n: int) -> np.ndarray:
    w = buf[0]
    first = int(np.frombuffer(buf[1:9], dtype=np.uint64)[0])
    if n == 1:
        return np.array([first], dtype=np.int64)
    if w == 0:
        return first + np.arange(n, dtype=np.int64)
    deltas = for_unpack(buf[9:], n - 1, w).astype(np.int64)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    np.cumsum(deltas, out=out[1:])
    out[1:] += first
    return out


def encode_tf_block(tfs: np.ndarray) -> bytes:
    """[width u8][FOR tfs]; width 0 = all ones (freq==1 folding)."""
    t = np.asarray(tfs, dtype=np.uint64)
    if bool(np.all(t == 1)):
        return bytes([0])
    w = _bit_width(int(t.max()))
    return bytes([w]) + for_pack(t, w)


def decode_tf_block(buf: bytes, n: int) -> np.ndarray:
    w = buf[0]
    if w == 0:
        return np.ones(n, dtype=np.int64)
    return for_unpack(buf[1:], n, w).astype(np.int64)


def encode_pos_block(positions_concat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Per-doc delta VByte of the concatenated position lists.

    ``positions_concat`` holds each doc's ascending positions back to
    back; ``tfs`` gives per-doc lengths. Each doc's first position is
    stored as ``pos+1`` delta from -1 (the reference's proxStream delta
    coding, FreqProxTermsWriterPerField.java:110-180).
    """
    p = np.asarray(positions_concat, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    if p.size == 0:
        return b""
    deltas = np.empty_like(p)
    deltas[0] = p[0] + 1
    deltas[1:] = np.diff(p)
    starts = np.cumsum(t)[:-1]  # index of each doc's first position (not doc0)
    deltas[starts] = p[starts] + 1
    return vbyte_encode(deltas.astype(np.uint64))


def decode_pos_block(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_pos_block -> concatenated positions."""
    t = np.asarray(tfs, dtype=np.int64)
    n = int(t.sum())
    if n == 0:
        return np.empty(0, dtype=np.int64)
    deltas = vbyte_decode(buf, n).astype(np.int64)
    # subtract 1 at each doc start (delta was pos+1 from base -1), then
    # per-doc cumsum == global cumsum minus carry-over: do it by segment
    out = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(t)[:-1]))
    # value carried into each doc segment = out[start-1]; remove it
    carry = np.zeros(n, dtype=np.int64)
    carry[starts[1:]] = out[starts[1:] - 1]
    out = out - np.repeat(carry[starts], t)
    return out - 1


def encode_postings(docids: np.ndarray, tfs: np.ndarray,
                    positions_concat: np.ndarray | None = None,
                    qdls: np.ndarray | None = None):
    """Split one term's postings into <=128-doc blocks with skip metadata.

    Inputs must be docid-ascending. Returns dict of parallel per-block
    lists: doc_blocks, tf_blocks, pos_blocks (or None), skip_last_docid,
    skip_n_docs, skip_max_tf, skip_min_qdl (qdl = quantized doc length,
    the impact norm component; 0 if qdls not given).

    The per-term reference encoder: segments are written by
    ``encode_postings_batch``, which tests hold to this output.
    """
    d = np.asarray(docids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    n = d.size
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    doc_blocks, tf_blocks, pos_blocks = [], [], []
    last_docid = np.empty(nblocks, dtype=np.int64)
    n_docs = np.empty(nblocks, dtype=np.int32)
    max_tf = np.empty(nblocks, dtype=np.int64)
    min_qdl = np.zeros(nblocks, dtype=np.int64)
    pos_bounds = None
    if positions_concat is not None:
        pos_ends = np.cumsum(t)
        pos_bounds = np.concatenate(([0], pos_ends))
    for i in range(nblocks):
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n)
        bd, bt = d[lo:hi], t[lo:hi]
        doc_blocks.append(encode_doc_block(bd))
        tf_blocks.append(encode_tf_block(bt))
        if positions_concat is not None:
            seg = positions_concat[pos_bounds[lo]:pos_bounds[hi]]
            pos_blocks.append(encode_pos_block(seg, bt))
        last_docid[i] = bd[-1]
        n_docs[i] = hi - lo
        max_tf[i] = int(bt.max())
        if qdls is not None:
            min_qdl[i] = int(np.asarray(qdls)[lo:hi].min())
    return {
        "doc_blocks": doc_blocks,
        "tf_blocks": tf_blocks,
        "pos_blocks": pos_blocks if positions_concat is not None else None,
        "skip_last_docid": last_docid,
        "skip_n_docs": n_docs,
        "skip_max_tf": max_tf,
        "skip_min_qdl": min_qdl,
    }


# ---------------------------------------------------------------------------
# batched whole-segment encoder (one vectorized pass over every term's
# blocks; produces byte-identical output to encode_postings per term)
# ---------------------------------------------------------------------------

def _bit_length_np(v: np.ndarray) -> np.ndarray:
    """Vectorized int bit_length. Fast path: frexp's exponent IS the
    bit length for values exactly representable in float64 (< 2^53 —
    docids/deltas/tfs are far below); the shift loop handles the
    (never-hit-in-practice) huge-value case."""
    tmp = v.astype(np.uint64)
    if tmp.size == 0:
        return np.zeros(v.shape, dtype=np.int64)
    if int(tmp.max()) < (1 << 53):
        return np.frexp(tmp.astype(np.float64))[1].astype(np.int64)
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = tmp.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = tmp >= np.uint64(1 << shift)
        bl[m] += shift
        tmp[m] >>= np.uint64(shift)
    bl += (tmp > 0).astype(np.int64)
    return bl


def _vbyte_stream(values: np.ndarray):
    """VByte-encode a value stream; returns (buffer, per-value byte len)."""
    v = values.astype(np.uint64)
    ngroups = np.maximum((_bit_length_np(v) + 6) // 7, 1)
    ends = np.cumsum(ngroups)
    starts = ends - ngroups
    out = np.zeros(int(ends[-1]) if v.size else 0, dtype=np.uint8)
    max_g = int(ngroups.max()) if v.size else 0
    if max_g:
        # group 0 exists for every value — no boolean select needed
        out[starts] = (v & np.uint64(0x7F)).astype(np.uint8) | \
            ((ngroups > 1).astype(np.uint8) << 7)
    for g in range(1, max_g):
        sel = ngroups > g
        idx = starts[sel] + g
        chunk = (v[sel] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (ngroups[sel] - 1 > g)
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out, ngroups


def _pack_for_blocks(values: np.ndarray, blk_of_value: np.ndarray,
                     blk_widths: np.ndarray, blk_nvals: np.ndarray):
    """FOR-pack per-block values (block width varies) in one pass.

    Returns (buffer, per-block byte offsets[nblocks+1]); each block's
    payload is byte-aligned and bit-identical to for_pack(vals, width).
    """
    nblk = blk_widths.size
    payload = (blk_nvals * blk_widths + 7) // 8
    offs = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(payload, out=offs[1:])
    buf = np.zeros(int(offs[-1]) + 8, dtype=np.uint8)
    if values.size == 0:
        return buf[:int(offs[-1])], offs
    blk_starts_v = np.zeros(nblk, dtype=np.int64)
    np.cumsum(blk_nvals[:-1], out=blk_starts_v[1:])
    idx_in_blk = np.arange(values.size, dtype=np.int64) - \
        blk_starts_v[blk_of_value]
    w_of_value = blk_widths[blk_of_value]
    bitpos = offs[blk_of_value] * 8 + idx_in_blk * w_of_value
    byte0 = bitpos >> 3
    shift = (bitpos & 7).astype(np.uint64)
    v = values.astype(np.uint64)
    # accumulate with bincount (+ is | here: distinct values never share
    # bits within a byte) — orders of magnitude faster than ufunc.at
    acc = np.zeros(buf.size, dtype=np.int64)
    for b in range(8):
        sel = (b * 8) < (w_of_value + 7)
        if not np.any(sel):
            break
        part = ((v[sel] << shift[sel]) >> np.uint64(8 * b)) & np.uint64(0xFF)
        acc += np.bincount(byte0[sel] + b, weights=part.astype(np.int64),
                           minlength=buf.size).astype(np.int64)
    hi_sel = w_of_value > 56
    if np.any(hi_sel):
        sh2 = (np.uint64(64) - shift[hi_sel]) % np.uint64(64)
        hi = np.where(shift[hi_sel] > 0,
                      v[hi_sel] >> sh2, np.uint64(0)) & np.uint64(0xFF)
        acc += np.bincount(byte0[hi_sel] + 8, weights=hi.astype(np.int64),
                           minlength=buf.size).astype(np.int64)
    return acc.astype(np.uint8)[:int(offs[-1])], offs


def encode_postings_batch(p_doc: np.ndarray, p_tf: np.ndarray,
                          p_qdl: np.ndarray, pos_concat: np.ndarray,
                          term_counts: np.ndarray):
    """Encode every term's postings of a segment in one vectorized pass.

    ``p_doc/p_tf/p_qdl`` are posting-level arrays sorted by (term, doc);
    ``term_counts[t]`` = number of postings of term t (terms in order);
    ``pos_concat`` = doc-major concatenated positions aligned to
    postings. Returns FLAT per-block byte streams + offsets + skip
    arrays + per-term block counts (byte-identical block contents to
    encode_postings; the Arrow kernel wraps the streams into binary
    ListArrays with zero per-term python work).
    """
    npost = p_doc.size
    nterm = term_counts.size
    term_starts = np.zeros(nterm, dtype=np.int64)
    np.cumsum(term_counts[:-1], out=term_starts[1:])
    t_ix = np.repeat(np.arange(nterm, dtype=np.int64), term_counts)
    within = np.arange(npost, dtype=np.int64) - term_starts[t_ix]
    blk_start_flag = (within % BLOCK_SIZE) == 0
    gb = np.cumsum(blk_start_flag) - 1          # global block id per posting
    blk_starts_p = np.flatnonzero(blk_start_flag)
    nblk = blk_starts_p.size
    blk_ends_p = np.concatenate((blk_starts_p[1:], [npost])) - 1
    blk_nvals = blk_ends_p - blk_starts_p + 1
    blk_term = t_ix[blk_starts_p]
    blk_last = p_doc[blk_ends_p]
    blk_max_tf = np.maximum.reduceat(p_tf, blk_starts_p)
    blk_min_qdl = np.minimum.reduceat(p_qdl, blk_starts_p)
    blk_first = p_doc[blk_starts_p]

    # ---- doc blocks: deltas within block (first doc in header) -----------
    deltas = np.empty(npost, dtype=np.int64)
    deltas[0] = 0
    deltas[1:] = p_doc[1:] - p_doc[:-1]
    deltas[blk_starts_p] = 0                    # headers carry the first
    is_payload = ~blk_start_flag
    dvals = deltas[is_payload].astype(np.uint64)
    d_blk = gb[is_payload]
    # per-block payload max: block-start positions hold 0, so a plain
    # reduceat over the full delta stream gives the payload max
    d_max = np.maximum.reduceat(deltas, blk_starts_p)
    payload_nvals = blk_nvals - 1
    ones_cnt = np.add.reduceat(
        (deltas == 1).astype(np.int64), blk_starts_p)
    d_all1 = ones_cnt == payload_nvals
    dense = d_all1 | (payload_nvals == 0)
    d_width = np.maximum(_bit_length_np(d_max.astype(np.uint64)), 1)
    d_width[dense] = 0
    keep = ~dense[d_blk]
    dbuf, doffs = _pack_for_blocks(
        dvals[keep], d_blk[keep], d_width,
        np.where(dense, 0, payload_nvals))

    # ---- tf blocks -------------------------------------------------------
    tf_all1 = np.add.reduceat(
        (p_tf == 1).astype(np.int64), blk_starts_p) == blk_nvals
    t_width = np.maximum(_bit_length_np(blk_max_tf.astype(np.uint64)), 1)
    t_width[tf_all1] = 0
    tkeep = ~tf_all1[gb]
    tbuf, toffs = _pack_for_blocks(
        p_tf[tkeep].astype(np.uint64), gb[tkeep], t_width,
        np.where(tf_all1, 0, blk_nvals))

    # ---- position blocks (VByte of per-doc deltas) -----------------------
    npos = pos_concat.size
    pdeltas = np.empty(npos, dtype=np.int64)
    if npos:
        pdeltas[0] = pos_concat[0] + 1
        pdeltas[1:] = pos_concat[1:] - pos_concat[:-1]
        doc_pos_starts = np.zeros(npost, dtype=np.int64)
        np.cumsum(p_tf[:-1], out=doc_pos_starts[1:])
        pdeltas[doc_pos_starts] = pos_concat[doc_pos_starts] + 1
    pbuf, pglen = _vbyte_stream(pdeltas)
    # positions per block -> byte ranges
    blk_npos = np.add.reduceat(p_tf, blk_starts_p) if npost else \
        np.empty(0, dtype=np.int64)
    val_bytes_cum = np.concatenate(([0], np.cumsum(pglen)))
    blk_pos_starts_v = np.zeros(nblk, dtype=np.int64)
    np.cumsum(blk_npos[:-1], out=blk_pos_starts_v[1:])
    p_off_lo = val_bytes_cum[blk_pos_starts_v]
    p_off_hi = val_bytes_cum[blk_pos_starts_v + blk_npos]

    # ---- assemble FLAT block streams (no per-term python) ----------------
    # Per-block byte layouts identical to encode_postings' output:
    #   doc block = [1B width][8B first docid LE][packed payload]
    #   tf  block = [1B width][packed payload]
    #   pos block = [vbyte payload] (no header)
    # Everything stays numpy/buffers; the kernel wraps them into Arrow
    # binary ListArrays with zero per-term work.
    term_nblk = np.bincount(blk_term, minlength=nterm)

    d_pl = np.diff(doffs)                       # payload bytes/block
    doc_lens = 9 + d_pl
    doc_off = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(doc_lens, out=doc_off[1:])
    # np.empty: every byte is written below (hdr+payload tile
    # the stream) — zeroing would only add a page-touch pass
    dstream = np.empty(int(doc_off[-1]), dtype=np.uint8)
    starts = doc_off[:-1]
    dstream[starts] = d_width.astype(np.uint8)
    first_hdr = blk_first.astype(np.uint64)
    for k in range(8):
        dstream[starts + 1 + k] = (
            (first_hdr >> np.uint64(8 * k)) & np.uint64(0xFF)
        ).astype(np.uint8)
    if dbuf.size:
        pidx = (np.arange(int(d_pl.sum()), dtype=np.int64)
                - np.repeat(doffs[:-1], d_pl)
                + np.repeat(starts + 9, d_pl))
        dstream[pidx] = dbuf

    t_pl = np.diff(toffs)
    tf_lens = 1 + t_pl
    tf_off = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(tf_lens, out=tf_off[1:])
    tstream = np.empty(int(tf_off[-1]), dtype=np.uint8)
    tstarts = tf_off[:-1]
    tstream[tstarts] = t_width.astype(np.uint8)
    if tbuf.size:
        tidx = (np.arange(int(t_pl.sum()), dtype=np.int64)
                - np.repeat(toffs[:-1], t_pl)
                + np.repeat(tstarts + 1, t_pl))
        tstream[tidx] = tbuf

    # position blocks tile pbuf contiguously (p_off_hi[j] ==
    # p_off_lo[j+1] by construction), so pbuf IS the value stream
    pos_off = np.concatenate((p_off_lo, [int(pbuf.size)])) if nblk \
        else np.zeros(1, dtype=np.int64)

    blk_term_starts = np.zeros(nterm + 1, dtype=np.int64)
    np.cumsum(term_nblk, out=blk_term_starts[1:])
    red = blk_term_starts[:-1].copy()
    if nblk:
        pos_lens = np.diff(pos_off)
        per_term_bytes = (
            np.add.reduceat(doc_lens + tf_lens + pos_lens, red)
            if nterm else np.empty(0, dtype=np.int64))
    else:
        per_term_bytes = np.zeros(nterm, dtype=np.int64)

    return {
        "term_nblk": term_nblk,
        "blk_term_starts": blk_term_starts,
        "doc_stream": dstream, "doc_offsets": doc_off,
        "tf_stream": tstream, "tf_offsets": tf_off,
        "pos_stream": pbuf, "pos_offsets": pos_off,
        "skip_last_docid": blk_last,
        "skip_n_docs": blk_nvals.astype(np.int32),
        "skip_max_tf": blk_max_tf,
        "skip_min_qdl": blk_min_qdl,
        "packed_bytes": per_term_bytes,
    }


def decode_block(doc_blocks, tf_blocks, skip_n_docs, i: int):
    """Decode block i -> (docids, tfs)."""
    n = int(skip_n_docs[i])
    return (decode_doc_block(doc_blocks[i], n),
            decode_tf_block(tf_blocks[i], n))


def decode_all(doc_blocks, tf_blocks, skip_n_docs):
    """Decode every block -> (docids, tfs) concatenated."""
    ds, ts = [], []
    for i in range(len(doc_blocks)):
        d, t = decode_block(doc_blocks, tf_blocks, skip_n_docs, i)
        ds.append(d)
        ts.append(t)
    if not ds:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    return np.concatenate(ds), np.concatenate(ts)
