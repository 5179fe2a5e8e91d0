"""Segment layout: packed posting blocks + norm blobs + catalog.

Spark-first realization of Lucene's immutable segment model
(lucene/core/src/java/org/apache/lucene/index/SegmentInfo.java,
IndexWriter.java:1212 flush path; postings layout
codecs/lucene84/Lucene84PostingsWriter.java:218-375):

- a **segment** is a contiguous docid range: ``seg_id = docid //
  docs_per_segment``. Lucene's DWPT-per-thread becomes a doc-range
  slice; every posting row is bounded by the segment size, which is the
  skew story — a stopword's postings never concentrate in one row
  larger than one segment's share (SURVEY.md §4.2 salting).
- per (segment, term) one **packed posting row**: 128-doc blocks of
  FOR-delta docids + FOR tfs + VByte position streams with flat skip
  arrays ``(last_docid, n_docs, max_tf, min_qdl)`` — the multi-level
  skip list + competitive impacts collapsed to binary-searchable
  columns (MultiLevelSkipListWriter.java:69-85,
  CompetitiveImpactAccumulator.java:71-118).
- per segment one **norms blob**: uint8 norm bytes indexed by
  ``docid - docid_min`` (Lucene80NormsFormat's forward index), and a
  same-width int32 qdl blob, ``EXPUNGED_QDL`` at expunged docids.
- a **segment record** per live segment in ``commit.json`` (data
  generation, docid range, row-count/byte metrics, lineage) — the
  SegmentInfos/SegmentInfo analogue and the store's only segment
  catalog (the north rule's "checkpointed per-partition segment state
  with lineage + metrics").

Build = one shuffle: groupBy(seg_id) ships each segment's raw text to
one Arrow kernel (``build_segments_direct``) that tokenizes, inverts
and packs all of the segment's posting rows plus its norms row. Every
posting row is encoded by ``blocks.encode_postings_batch`` — at build
and when ``IndexWriter.expunge_deletes`` re-encodes (the one codec
writer of the reference's flush and merge). No global sort anywhere
(docids were already assigned by the 2-pass offset pattern in
index/docids.py).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..codecs import blocks as blk

# bump when the on-disk layout changes (readers must not open older stores)
# v3: unified per-generation ``segments/gen=N`` dir — posting rows and the
# per-segment norms row (term IS NULL) share one parquet table, so one
# shuffle + one write produces a whole segment (parquet column pruning
# keeps the two row kinds' blob columns independent at read time)
# v4: ``commit.json`` carries one record per live segment (CATALOG_SCHEMA)
# and is the only segment catalog; no ``catalog/gen=N`` snapshot dirs
FORMAT_VERSION = 4

PACKED_SCHEMA = StructType([
    StructField("seg_id", IntegerType()),
    StructField("term", StringType()),
    StructField("df", LongType()),
    StructField("ttf", LongType()),
    StructField("doc_blocks", ArrayType(BinaryType())),
    StructField("tf_blocks", ArrayType(BinaryType())),
    StructField("pos_blocks", ArrayType(BinaryType())),
    StructField("skip_last_docid", ArrayType(LongType())),
    StructField("skip_n_docs", ArrayType(IntegerType())),
    StructField("skip_max_tf", ArrayType(LongType())),
    StructField("skip_min_qdl", ArrayType(LongType())),
    StructField("packed_bytes", LongType()),
])

# unified segment-data schema: PACKED columns + the norms forward-index
# columns; a posting row leaves the norm columns NULL, the one norms row
# per segment has term IS NULL and leaves the posting columns NULL
SEGDATA_SCHEMA = StructType(
    PACKED_SCHEMA.fields + [
        StructField("docid_min", LongType()),
        StructField("n_docs", LongType()),
        StructField("norm_blob", BinaryType()),
        StructField("qdl_blob", BinaryType()),
    ])

# qdl_blob value at an expunged docid: an expunge keeps the norms blobs
# full-width, and a live token-less doc has norm byte 0 and qdl 0, so
# only this value tells a hole from a live doc
EXPUNGED_QDL = -1


# the other store tables, as their writers write them; every store read
# passes its table's schema, so Spark infers none (a footer read is one
# Spark job per read)
TERM_STATS_SCHEMA = "term STRING, df LONG, ttf LONG"
DELETES_SCHEMA = "docid LONG"
DV_UPDATES_SCHEMA = "docid LONG, field STRING, value LONG, upd_gen INT"


# one segment record of ``commit.json`` (SegmentInfo analogue): its docid
# range [docid_min, docid_end) — docid_end = docid_min + norm-blob width,
# which an expunge keeps — metrics, data generation and lineage
CATALOG_SCHEMA = ("seg_id INT, docid_min LONG, docid_end LONG, n_docs LONG, "
                  "n_tokens LONG, n_terms LONG, n_postings LONG, "
                  "packed_bytes LONG, gen LONG, lineage STRING, build_ts LONG")


def _seg_expr(docs_per_segment: int, base_docid: int = 0,
              seg_id_base: int = 0):
    return (F.lit(seg_id_base)
            + ((F.col("docid") - base_docid) / docs_per_segment)
            .cast("int")).cast("int")


# byte tables for the `simple` analyzer: [A-Za-z0-9]+ runs, ASCII
# lowercase — identical semantics to analyzers.simple_tokens_col (UTF-8
# multibyte lead/continuation bytes are >= 0x80 and thus separators for
# both). Byte-level + lookup tables keeps tokenization a handful of
# streaming passes over contiguous Arrow buffers — no JVM regex (which
# allocation-storms at high parallelism), no Python string objects.
_ALNUM = np.zeros(256, dtype=bool)
for _c in (range(48, 58), range(65, 91), range(97, 123)):
    _ALNUM[list(_c)] = True
_LOWER = np.arange(256, dtype=np.uint8)
_LOWER[65:91] += 32


_ALLOC_TUNED = False

# ---------------------------------------------------------------------------
# per-process transient arena (round-5): the invert kernel's large
# transients (token-byte gathers, token-scale sort/scatter arrays) are
# served from grow-only pooled buffers instead of fresh np.empty per
# batch.  On this class of virtualized host, first-touch page supply
# (hypervisor page zeroing) is the measured concurrency ceiling of the
# build (BENCH/BASELINE.md "Host variance"; the STREAM-triad probe
# shows bandwidth itself scales ~90% linear) — steady-state batches
# must touch no new pages.  Buffers grow to the high-water mark of the
# worker's batch sizes and are reused for the life of the process
# (spark.python.worker.reuse is on by default).
# ---------------------------------------------------------------------------

_ARENA: dict = {}


def _arena(name: str, n: int, dtype) -> np.ndarray:
    """A length-n view of the grow-only pooled buffer ``name``.
    Contents are UNINITIALIZED (like np.empty) — callers must fully
    overwrite. Distinct names never alias."""
    need = int(n) * np.dtype(dtype).itemsize
    buf = _ARENA.get(name)
    if buf is None or buf.nbytes < need:
        cap = 1 << max(16, need - 1).bit_length()
        buf = _ARENA[name] = np.empty(cap, dtype=np.uint8)
    return buf[:need].view(dtype)


_IOTA32 = np.empty(0, dtype=np.int32)
_IOTA64 = np.empty(0, dtype=np.int64)


def _iota32(n: int) -> np.ndarray:
    global _IOTA32
    if _IOTA32.size < n:
        _IOTA32 = np.arange(1 << (n - 1).bit_length(), dtype=np.int32)
    return _IOTA32[:n]


def _iota64(n: int) -> np.ndarray:
    global _IOTA64
    if _IOTA64.size < n:
        _IOTA64 = np.arange(1 << (n - 1).bit_length(), dtype=np.int64)
    return _IOTA64[:n]


def _segment_ids(group_off: np.ndarray, n: int, name: str,
                 dtype=np.int64) -> np.ndarray:
    """group index per element from group start offsets (the arena
    form of np.repeat(arange(len(group_off)-1), diff(group_off))):
    scatter 1 at each group boundary, cumsum in place."""
    out = _arena(name, n, dtype)
    out[:] = 0
    # duplicates (empty groups) accumulate; boundaries at n belong to
    # trailing empty groups with no elements to label
    b = group_off[1:-1]
    b = b[b < n]
    if b.size:
        np.add.at(out, b, 1)
    np.cumsum(out, out=out)
    return out


def _tune_allocator():
    """Make reused python workers keep their heap warm.

    First-touch page faults dominate concurrent kernel cost on
    virtualized hosts (page zeroing is serialized in the hypervisor);
    measured here: a cold kernel call is ~14x slower than a warm one at
    26-way concurrency. Two sources of page churn:
      - pyarrow's jemalloc pool returns dirty pages eagerly -> switch
        to the system (glibc) pool;
      - glibc serves large allocations via mmap/munmap -> raise the
        mmap threshold and disable trim so freed buffers stay mapped
        and are reused by the next task on the same worker
        (spark.python.worker.reuse is on by default).
    Idempotent, per-process."""
    global _ALLOC_TUNED
    if _ALLOC_TUNED:
        return
    _ALLOC_TUNED = True
    try:
        import pyarrow as pa
        pa.set_memory_pool(pa.system_memory_pool())
    except Exception:
        pass
    try:
        import ctypes
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        libc.mallopt(M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(M_TRIM_THRESHOLD, (1 << 31) - 1)
    except Exception:
        pass


def _byte_tokenize(text_col):
    """ChunkedArray/Array of strings -> (raw bytes, doc byte offsets,
    token byte starts, token byte ends, token doc index)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    ta = text_col.combine_chunks() if hasattr(text_col, "combine_chunks") \
        else text_col
    ta = pc.cast(ta, pa.large_utf8())
    toffs = np.frombuffer(ta.buffers()[1], dtype=np.int64,
                          count=len(ta) + 1)
    base = int(toffs[0])
    if base:
        toffs = toffs - base  # sliced array view
    raw = np.frombuffer(ta.buffers()[2], dtype=np.uint8,
                        count=int(toffs[-1]) + base)[base:]
    nb = raw.size
    if nb == 0:
        z = np.empty(0, dtype=np.int64)
        return raw, toffs, z, z, z
    mask = _arena("tok_mask", nb, bool)
    np.take(_ALNUM, raw, out=mask)
    prev = _arena("tok_prev", nb, bool)
    prev[0] = False
    prev[1:] = mask[:-1]
    nxt = _arena("tok_nxt", nb, bool)
    nxt[-1] = False
    nxt[:-1] = mask[1:]
    doc_edge = toffs[1:-1]
    doc_edge = doc_edge[(doc_edge > 0) & (doc_edge < nb)]
    prev[doc_edge] = False                      # token cannot cross docs
    nxt[doc_edge - 1] = False
    tok_starts = np.flatnonzero(mask & ~prev)
    tok_ends = np.flatnonzero(mask & ~nxt) + 1
    tok_doc = np.searchsorted(toffs, tok_starts, side="right") - 1
    return raw, toffs, tok_starts, tok_ends, tok_doc


def _posting_table(seg_id, terms, df, ttf, enc):
    """Packed posting rows (PACKED_SCHEMA columns) as one Arrow table
    from an ``encode_postings_batch`` result: no per-term python loop —
    the encoder emits the block byte streams and skip arrays flat, and
    the binary/list arrays wrap their buffers directly. ``seg_id`` is
    one id or one per term; ``terms`` is an Arrow string array in
    encoder term order."""
    import pyarrow as pa

    nterm = len(terms)
    loff = pa.array(enc["blk_term_starts"].astype(np.int32), pa.int32())

    def _bin(stream, offs):
        return pa.Array.from_buffers(
            pa.binary(), offs.size - 1,
            [None, pa.py_buffer(offs.astype(np.int32).tobytes()),
             pa.py_buffer(stream.tobytes())])

    def _list(values):
        return pa.ListArray.from_arrays(loff, values)

    def _i64(a):
        return pa.array(np.asarray(a).astype(np.int64), pa.int64())

    seg = np.broadcast_to(np.asarray(seg_id, dtype=np.int32), nterm)
    return pa.Table.from_arrays([
        pa.array(np.ascontiguousarray(seg), pa.int32()),
        terms.cast(pa.string()), _i64(df), _i64(ttf),
        _list(_bin(enc["doc_stream"], enc["doc_offsets"])),
        _list(_bin(enc["tf_stream"], enc["tf_offsets"])),
        _list(_bin(enc["pos_stream"], enc["pos_offsets"])),
        _list(_i64(enc["skip_last_docid"])),
        _list(pa.array(enc["skip_n_docs"], pa.int32())),
        _list(_i64(enc["skip_max_tf"])),
        _list(_i64(enc["skip_min_qdl"])),
        _i64(enc["packed_bytes"]),
    ], schema=to_arrow_schema(PACKED_SCHEMA))


def _invert_kernel_arrow():
    """Arrow-native kernel for the direct (DWPT-style) segment build:
    one group = one segment's (docid, tokens) rows, tokens already
    produced by the JVM tokenizer. This is the Spark shape of Lucene's
    DocumentsWriterPerThread — each doc-range slice privately builds
    its whole mini-index at flush (INDEX/DocumentsWriterPerThread.java,
    DefaultIndexingChain.java:386-850, byte-slice TermsHash
    INDEX/TermsHashPerField.java) — with the term hash realized as
    pyarrow ``dictionary_encode`` (C++, contiguous buffers; no Python
    string objects are ever materialized for the token stream, which
    keeps the kernel compute-bound instead of memory-bandwidth-bound
    and is what makes build throughput scale with cores)."""

    def kernel(key, tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..codecs.smallfloat import int_to_byte4_np, quantize_length_np

        _tune_allocator()
        seg_id = int(key[0].as_py() if hasattr(key[0], "as_py") else key[0])
        order = pc.sort_indices(tbl["docid"])
        tbl = tbl.take(order)
        docids = tbl["docid"].to_numpy()
        raw, toffs, tok_starts, tok_ends, tok_doc = _byte_tokenize(
            tbl["text"])
        n_docs = len(toffs) - 1
        n_tok = tok_starts.size
        dl = np.bincount(tok_doc, minlength=n_docs).astype(np.int64)
        qdl = quantize_length_np(dl)
        offsets = _arena("seg_doff", n_docs + 1, np.int64)
        offsets[0] = 0
        np.cumsum(dl, out=offsets[1:])

        if n_tok:
            # ---- materialize lowercased token bytes (ragged gather),
            # all large transients served from the per-process arena
            # (steady-state batches touch no new pages) -----------------
            lens = _arena("seg_lens", n_tok, np.int64)
            np.subtract(tok_ends, tok_starts, out=lens)
            tb_off = _arena("seg_tboff", n_tok + 1, np.int64)
            tb_off[0] = 0
            np.cumsum(lens, out=tb_off[1:])
            ntb = int(tb_off[-1])
            # token index per output byte: scatter 1 at token
            # boundaries + in-place cumsum (tb_off is strictly
            # increasing — token lengths >= 1)
            tob = _arena("seg_tob", ntb, np.int32)
            tob[:] = 0
            if n_tok > 1:
                tob[tb_off[1:-1]] = 1
            np.cumsum(tob, out=tob)
            # int32 gather: a segment's text is far below 2 GB, and the
            # index array is the kernel's largest transient (8 bytes per
            # token byte at int64) — halving it halves the memory
            # streaming of the gather on this bandwidth-bound host.
            # gidx[b] = b - tb_off[tok(b)] + tok_starts[tok(b)]
            shift = _arena("seg_shift", n_tok, np.int32)
            shift[:] = tok_starts
            shift2 = _arena("seg_shift2", n_tok, np.int32)
            shift2[:] = tb_off[:-1]
            np.subtract(shift, shift2, out=shift)
            gidx = _arena("seg_gidx", ntb, np.int32)
            np.take(shift, tob, out=gidx)
            np.add(gidx, _iota32(ntb), out=gidx)
            graw = _arena("seg_graw", ntb, np.uint8)
            np.take(raw, gidx, out=graw)
            tok_bytes = _arena("seg_tokb", ntb, np.uint8)
            np.take(_LOWER, graw, out=tok_bytes)
            flat = pa.Array.from_buffers(
                pa.large_utf8(), n_tok,
                [None, pa.py_buffer(tb_off.tobytes()),
                 pa.py_buffer(tok_bytes.tobytes())])
            de = pc.dictionary_encode(flat)
            # keep codes int32 (dictionary indices already are):
            # radix argsort passes scale with byte width
            codes0 = de.indices.to_numpy()
            uniq_unsorted = de.dictionary  # StringArray of uniques
            # order the dictionary (unsigned-byte term order =
            # TermsHashPerField.sortPostings); small: ~vocab size
            term_order = pc.sort_indices(uniq_unsorted).to_numpy() \
                .astype(np.int64)
            rank = np.empty(term_order.size, dtype=np.int32)
            rank[term_order] = np.arange(term_order.size,
                                         dtype=np.int32)
            codes = _arena("seg_codes", n_tok, np.int32)
            np.take(rank, codes0, out=codes)
            uniq = uniq_unsorted.take(pa.array(term_order))
            nuniq = len(uniq)

            doc_ix = _segment_ids(offsets, n_tok, "seg_docix")
            pos = _arena("seg_pos", n_tok, np.int64)
            np.take(offsets, doc_ix, out=pos)
            np.subtract(_iota64(n_tok), pos, out=pos)
            order2 = np.argsort(codes, kind="stable")
            sdoc = _arena("seg_sdoc", n_tok, np.int64)
            np.take(doc_ix, order2, out=sdoc)
            spos = _arena("seg_spos", n_tok, np.int64)
            np.take(pos, order2, out=spos)
            scodes = _arena("seg_scodes", n_tok, np.int32)
            np.take(codes, order2, out=scodes)
            # posting (term, doc) run boundaries — fully vectorized
            # (FreqProxTermsWriterPerField's per-term lastDocID walk)
            bnd = _arena("seg_bnd", n_tok, bool)
            bnd[0] = True
            np.not_equal(scodes[1:], scodes[:-1], out=bnd[1:])
            bnd2 = _arena("seg_bnd2", n_tok, bool)
            bnd2[0] = True
            np.not_equal(sdoc[1:], sdoc[:-1], out=bnd2[1:])
            np.logical_or(bnd, bnd2, out=bnd)
            pb = np.flatnonzero(bnd)
            p_doc_l = sdoc[pb]
            p_tf = np.diff(np.concatenate((pb, [n_tok])))
            p_code = scodes[pb]
            term_counts = np.bincount(p_code, minlength=nuniq)
            ttf_per_term = np.bincount(scodes, minlength=nuniq)
            enc = blk.encode_postings_batch(
                docids[p_doc_l], p_tf, qdl[p_doc_l], spos, term_counts)
        schema = to_arrow_schema(SEGDATA_SCHEMA)
        tables = []
        if n_tok:
            pt = _posting_table(seg_id, uniq, term_counts, ttf_per_term,
                                enc)
            tables.append(pa.Table.from_arrays(
                pt.columns + [pa.nulls(pt.num_rows, f.type)
                              for f in list(schema)[pt.num_columns:]],
                schema=schema))
        # the per-segment norms row (term IS NULL): forward norm/qdl
        # blobs from the SAME tokenization pass — one shuffle + one
        # write produces the whole segment (was a second full pass)
        lo = int(docids.min()) if docids.size else 0
        span = (int(docids.max()) - lo + 1) if docids.size else 0
        nb_arr = np.zeros(span, dtype=np.uint8)
        qb_arr = np.zeros(span, dtype=np.int32)
        if docids.size:
            nb_arr[docids - lo] = int_to_byte4_np(dl).astype(np.uint8)
            qb_arr[docids - lo] = qdl.astype(np.int32)
        tables.append(pa.Table.from_pydict({
            **{f.name: [None] for f in schema},
            "seg_id": [seg_id],
            "docid_min": [lo], "n_docs": [int(docids.size)],
            "norm_blob": [nb_arr.tobytes()],
            "qdl_blob": [qb_arr.tobytes()],
        }, schema=schema))
        return pa.concat_tables(tables)

    return kernel


def build_segments_direct(docs_raw: DataFrame, docs_per_segment: int,
                          text_col: str = "text", base_docid: int = 0,
                          seg_id_base: int = 0) -> DataFrame:
    """(docid, text) -> unified segment rows (packed postings + the
    per-segment norms row) in ONE shuffle and one kernel pass over the
    raw text. The hot 100 TB path: shuffled bytes = corpus size, and the
    tokenization/invert work happens exactly once (the v2 layout ran a
    second full pass just for norms)."""
    d = docs_raw.select(
        F.col("docid").cast("long").alias("docid"),
        F.col(text_col).alias("text"),
        _seg_expr(docs_per_segment, base_docid, seg_id_base).alias("seg_id"))
    return d.groupBy("seg_id").applyInArrow(
        _invert_kernel_arrow(), SEGDATA_SCHEMA)


def unify_segment_frames(pk: DataFrame, norms: DataFrame) -> DataFrame:
    """Union separately-built packed and norms frames into the unified
    SEGDATA layout (merge path)."""
    pk_u = pk
    for name, typ in (("docid_min", "long"), ("n_docs", "long"),
                      ("norm_blob", "binary"), ("qdl_blob", "binary")):
        pk_u = pk_u.withColumn(name, F.lit(None).cast(typ))
    nm_u = norms.select(
        "seg_id", F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("df"),
        F.lit(None).cast("long").alias("ttf"),
        F.lit(None).cast("array<binary>").alias("doc_blocks"),
        F.lit(None).cast("array<binary>").alias("tf_blocks"),
        F.lit(None).cast("array<binary>").alias("pos_blocks"),
        F.lit(None).cast("array<long>").alias("skip_last_docid"),
        F.lit(None).cast("array<int>").alias("skip_n_docs"),
        F.lit(None).cast("array<long>").alias("skip_max_tf"),
        F.lit(None).cast("array<long>").alias("skip_min_qdl"),
        F.lit(None).cast("long").alias("packed_bytes"),
        "docid_min", "n_docs", "norm_blob", "qdl_blob")
    return pk_u.unionByName(nm_u)


def delete_set_footers(*dirs: str) -> tuple:
    """(rows, largest docid) of the delete sets written under ``dirs``,
    read from their parquet footers, so no Spark job runs: a docid
    deleted in two sets counts twice; the docid is -1 without rows and
    None when a footer carries no column statistics."""
    import pyarrow.parquet as pq
    rows, top = 0, -1
    for f in (f for d in dirs for f in glob.glob(f"{d}/*.parquet")):
        md = pq.read_metadata(f)
        rows += md.num_rows
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(0).statistics
            top = (None if top is None or st is None or not st.has_min_max
                   else max(top, int(st.max)))
    return rows, top


@dataclass
class SegmentIndex:
    """On-disk segment index handle (IndexReader-over-commit analogue).

    A commit = ``commit.json`` (generation, collection stats, one record
    per live segment, delete/docvalue generations) + the term_stats
    snapshot at its ``stats_gen`` (the last append or expunge; merges,
    deletes and docvalue updates keep it) + the per-generation segment data
    dirs its records name. Readers see only the commit's live
    segments, so every mutation is atomic at the one commit.json swap —
    the segments_N model (INDEX/SegmentInfos.java)."""

    path: str
    spark: SparkSession
    doc_count: int
    sum_ttf: int
    docs_per_segment: int
    generation: int = 1
    stats_gen: int = 1      # generation holding the term_stats snapshot
    segments: tuple = ()    # live segment records (CATALOG_SCHEMA dicts)
    del_gens: tuple = ()    # generations holding delete sets
    dv_gens: tuple = ()     # generations holding docvalue update patches

    @property
    def live_segs(self) -> tuple:
        return tuple(sorted(r["seg_id"] for r in self.segments))

    def _data(self) -> DataFrame:
        gens = sorted({r["gen"] for r in self.segments})
        paths = [f"{self.path}/segments/gen={g}" for g in gens
                 if os.path.isdir(f"{self.path}/segments/gen={g}")]
        if not paths:
            return self.spark.createDataFrame([], SEGDATA_SCHEMA)
        return self.spark.read.schema(SEGDATA_SCHEMA).parquet(*paths) \
            .filter(F.col("seg_id").isin(list(self.live_segs)))

    @property
    def packed(self) -> DataFrame:
        """Posting rows of the unified store (term IS NOT NULL); parquet
        column pruning keeps the norms blobs on disk."""
        return self._data().filter(F.col("term").isNotNull()) \
            .select(*[f.name for f in PACKED_SCHEMA.fields])

    @property
    def norms(self) -> DataFrame:
        """Per-segment norms rows (term IS NULL)."""
        return self._data().filter(F.col("term").isNull()) \
            .select("seg_id", "docid_min", "n_docs", "norm_blob",
                    "qdl_blob")

    def _delete_sets(self) -> DataFrame:
        """Every delete generation's docids; a docid deleted in two
        generations appears twice."""
        paths = [f"{self.path}/deletes/gen={g}" for g in self.del_gens
                 if os.path.isdir(f"{self.path}/deletes/gen={g}")]
        if not paths:
            return self.spark.createDataFrame([], DELETES_SCHEMA)
        return self.spark.read.schema(DELETES_SCHEMA).parquet(*paths)

    @cached_property
    def delete_footers(self) -> tuple:
        """``delete_set_footers`` over the commit's delete sets."""
        return delete_set_footers(*[f"{self.path}/deletes/gen={g}"
                                    for g in self.del_gens])

    @property
    def deleted(self) -> DataFrame:
        """Deleted docids (live-docs complement); empty if none."""
        return self._delete_sets().distinct()

    def deleted_by_segment(self) -> DataFrame:
        """(seg_id, del_ids array<long>) — each segment's deleted docids.

        The scale-safe live-docs shape (Lucene's per-segment bitset,
        codecs/lucene50/Lucene50LiveDocsFormat.java): the delete set is
        range-joined to the records' ``[docid_min, docid_end)`` ranges
        executor-side and co-partitions with the postings by seg_id, so
        no delete ever travels through the driver."""
        rng = self.catalog.select("seg_id", "docid_min", "docid_end")
        j = self._delete_sets().join(
            F.broadcast(rng),
            (F.col("docid") >= F.col("docid_min"))
            & (F.col("docid") < F.col("docid_end")))
        # one shuffle: the per-segment set drops repeated deletes
        return (j.groupBy("seg_id")
                .agg(F.sort_array(F.collect_set("docid"))
                     .alias("del_ids")))

    def dv_updates(self, field: str) -> DataFrame:
        """Resolved numeric docvalue patches for ``field`` — (docid,
        value) with the NEWEST generation winning per doc, the read
        side of IndexWriter.updateNumericDocValue (INDEX/
        DocValuesFieldUpdates.java: per-generation update files whose
        resolution order is update gen, newest wins).  Patch files are
        update-set sized (metadata scale next to the corpus), so the
        dedup shuffle is tiny."""
        from pyspark.sql.window import Window
        paths = [f"{self.path}/dv_updates/gen={g}" for g in self.dv_gens
                 if os.path.isdir(f"{self.path}/dv_updates/gen={g}")]
        if not paths:
            return self.spark.createDataFrame(
                [], "docid LONG, value LONG")
        u = (self.spark.read.schema(DV_UPDATES_SCHEMA).parquet(*paths)
             .filter(F.col("field") == field))
        w = Window.partitionBy("docid").orderBy(F.desc("upd_gen"))
        return (u.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).select("docid", "value"))

    def resolve_docvalue(self, base: DataFrame, field: str) -> DataFrame:
        """(docid, field) with updates applied: the caller's stored
        docvalue column (this architecture keeps stored fields in the
        source table) patched by the newest dv_updates — the reader-
        side merge of ReadersAndUpdates.getNumericDocValues."""
        u = self.dv_updates(field).withColumnRenamed("value", "_patch")
        return (base.select("docid", F.col(field).cast("long")
                            .alias("_base"))
                .join(u, "docid", "left")
                .select("docid",
                        F.coalesce("_patch", "_base").alias(field)))

    @property
    def term_stats(self) -> DataFrame:
        return self.spark.read.schema(TERM_STATS_SCHEMA).parquet(
            f"{self.path}/term_stats/gen={self.stats_gen}")

    @property
    def catalog(self) -> DataFrame:
        """The segment records as a DataFrame (CATALOG_SCHEMA)."""
        return self.spark.createDataFrame(list(self.segments),
                                          CATALOG_SCHEMA)

    @property
    def avgdl(self) -> float:
        return self.sum_ttf / float(self.doc_count)

    @property
    def avgdl_sql(self) -> str:
        return f"(CAST({self.sum_ttf} AS DOUBLE) / {self.doc_count})"


def write_commit(path: str, state: dict,
                 filename: str = "commit.json") -> None:
    """Atomically publish the complete commit record ``state`` (one
    tmp-file write + rename)."""
    tmp = os.path.join(path, filename + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(path, filename))


def read_commit(path: str, filename: str = "commit.json") -> dict:
    with open(os.path.join(path, filename)) as f:
        commit = json.load(f)
    if "segments" not in commit:
        raise ValueError(
            f"{os.path.join(path, filename)} has no segment records: the "
            f"store predates segment-store format {FORMAT_VERSION}; "
            "rebuild it")
    return commit


def next_ids(segments) -> tuple:
    """(next seg id, next docid) after the segment records
    ``segments``: one past the highest live record. An expunge keeps
    its segment's full width, so a docid is never handed out twice."""
    return (max((r["seg_id"] for r in segments), default=-1) + 1,
            max((r["docid_end"] for r in segments), default=0))


def open_segments(spark: SparkSession, path: str) -> SegmentIndex:
    commit = read_commit(path)
    return SegmentIndex(path=path, spark=spark,
                        doc_count=commit["doc_count"],
                        sum_ttf=commit["sum_ttf"],
                        docs_per_segment=commit["docs_per_segment"],
                        generation=commit["generation"],
                        stats_gen=commit["stats_gen"],
                        segments=tuple(commit["segments"]),
                        del_gens=tuple(commit.get("del_gens", ())),
                        dv_gens=tuple(commit.get("dv_gens", ())))


# ---------------------------------------------------------------------------
# CheckIndex (INDEX/CheckIndex.java:496-508,723,1124 analogue)
# ---------------------------------------------------------------------------

CHECK_SCHEMA = StructType([
    StructField("seg_id", IntegerType()),
    StructField("term", StringType()),
    StructField("problem", StringType()),
])


def check_index(six: SegmentIndex) -> DataFrame:
    """Validate every packed posting row; returns a DataFrame of
    violations (empty == healthy index)."""

    def _check(it):
        import pandas as pd
        for pdf in it:
            probs = {"seg_id": [], "term": [], "problem": []}

            def bad(seg, term, msg):
                probs["seg_id"].append(seg)
                probs["term"].append(term)
                probs["problem"].append(msg)

            for row in pdf.itertuples(index=False):
                try:
                    d, t = blk.decode_all(row.doc_blocks, row.tf_blocks,
                                          row.skip_n_docs)
                except Exception as e:  # noqa: BLE001
                    bad(row.seg_id, row.term, f"decode error: {e}")
                    continue
                if d.size != row.df:
                    bad(row.seg_id, row.term, "df != decoded doc count")
                if int(t.sum()) != row.ttf:
                    bad(row.seg_id, row.term, "ttf != sum(tf)")
                if d.size > 1 and not bool(np.all(np.diff(d) > 0)):
                    bad(row.seg_id, row.term, "docids not strictly ascending")
                if bool(np.any(t < 1)):
                    bad(row.seg_id, row.term, "tf < 1")
                nb = len(row.skip_n_docs)
                off = 0
                for i in range(nb):
                    n = row.skip_n_docs[i]
                    if d[off + n - 1] != row.skip_last_docid[i]:
                        bad(row.seg_id, row.term,
                            f"skip_last_docid wrong at block {i}")
                    if int(t[off:off + n].max()) != row.skip_max_tf[i]:
                        bad(row.seg_id, row.term,
                            f"skip_max_tf wrong at block {i}")
                    off += n
            yield pd.DataFrame(probs)

    return six.packed.mapInPandas(_check, CHECK_SCHEMA)
