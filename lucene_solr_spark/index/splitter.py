"""Index splitting: by query (PKIndexSplitter) and round-robin parts
(MultiPassIndexSplitter).

The reference's misc-module splitters build the split as "the same
index minus the other side's documents":

- PKIndexSplitter (lucene/misc/src/java/org/apache/lucene/index/
  PKIndexSplitter.java:38) writes two indexes from one source — docs
  passing a filter query and the complement — by addIndexes over a
  reader view that hides the other side.
- MultiPassIndexSplitter (lucene/misc/src/java/org/apache/lucene/
  index/MultiPassIndexSplitter.java:43) makes N passes over the
  source; pass i keeps docs with ``docid % n == i`` (or contiguous
  ranges with ``--seq``), "deleting" the rest through a
  FakeDeleteIndexReader before copying.

This store expresses both the same way the reference does — replicate
the commit point, mark the complement deleted, then expunge the deletes
so the survivors are physically rewritten and the collection/term
statistics shrink to the split (the role of the reference's
addIndexes copy):

1. ``replicate(src, dst)`` — incremental gen-dir copy + atomic
   commit swap (index/replicator.py);
2. ``delete_by_query`` / ``delete_docids_df`` — distributed hit
   resolution, the delete set never passes through the driver;
3. ``IndexWriter.expunge_deletes`` — every segment with deletes
   rewritten without its deleted docs in ONE commit (forceMergeDeletes
   shape; Lucene renumbers docids on its copy, this store keeps the
   original docids — a representation difference, the document sets
   and every per-doc posting/norm are identical), then ``vacuum`` drops
   the dead generations.

At 100 TB each step is metadata- or scan-bounded: the replica copy is
a distributed FS copy of immutable directories, the delete set is one
pushed parquet write, and the expunge touches only the rows of the
segments that hold deletes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from .replicator import replicate
from .segments import EXPUNGED_QDL, SegmentIndex, next_ids
from .writer import IndexWriter

__all__ = ["live_docids", "split_by_query", "split_round_robin"]


def live_docids(six: SegmentIndex):
    """Live docids of a store as a DataFrame (the liveDocs bitset
    read, MultiBits over per-segment live docs), minus the
    not-yet-expunged delete sets. ``IndexWriter.expunge_deletes``
    keeps norms blobs full-width and marks each expunged position with
    qdl ``EXPUNGED_QDL``; every other position is live, token-less docs
    included. Stores expunged before that marker wrote qdl 0 at holes,
    so where the marked positions do not account for the record's
    ``n_docs`` the live positions are those with a nonzero norm byte.
    One Arrow pass over the norms rows (segment-count bounded), no
    driver materialization."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("docid", LongType())])

    def fn(it):
        import numpy as np
        import pandas as pd
        for pdf in it:
            for r in pdf.itertuples(index=False):
                qb = np.frombuffer(r.qdl_blob, dtype=np.int32)
                pos = np.flatnonzero(qb != EXPUNGED_QDL)
                if pos.size != r.n_docs:
                    pos = np.flatnonzero(
                        np.frombuffer(r.norm_blob, dtype=np.uint8))
                ids = int(r.docid_min) + pos
                yield pd.DataFrame({"docid": ids.astype(np.int64)})

    ids = (six.norms.select("docid_min", "n_docs", "norm_blob", "qdl_blob")
           .mapInPandas(fn, schema))
    return ids.join(six.deleted, "docid", "left_anti")


def split_by_query(spark: SparkSession, src: str, dst_pass: str,
                   dst_fail: str, query) -> tuple:
    """PKIndexSplitter.java:38 — split ``src`` into the docs matching
    ``query`` (-> ``dst_pass``) and the complement (-> ``dst_fail``).

    Returns ``(SegmentIndex_pass, SegmentIndex_fail)``.  Either side
    may be empty (all docs deleted) — its reader then reports
    ``doc_count`` minus the whole corpus, like an empty reference
    index dir."""
    out = []
    for dst, invert in ((dst_pass, True), (dst_fail, False)):
        replicate(src, dst)
        w = IndexWriter.open(spark, dst)
        six = w.reader()
        from ..search.segment_searcher import SegmentSearcher
        hits = SegmentSearcher(six).scored(query).select("docid")
        if invert:
            # drop the complement: live docids minus the hit set
            # (DocumentFilteredLeafIndexReader's negated liveDocs),
            # a distributed anti-join — no driver materialization
            drop = live_docids(six).join(hits, "docid", "left_anti")
            w.delete_docids_df(drop, lineage=f"pk-split keep={query!r}")
        else:
            w.delete_by_query(query, lineage=f"pk-split drop={query!r}")
        out.append(w.expunge_deletes())
        w.vacuum()
    return tuple(out)


def split_round_robin(spark: SparkSession, src: str, dsts: list,
                      sequential: bool = False) -> list:
    """MultiPassIndexSplitter.java:43 — split ``src`` into
    ``len(dsts)`` parts; part i keeps ``docid % n == i`` (or the i-th
    contiguous docid range with ``sequential=True``, the --seq flag).

    The part count must be >= 2, like the reference's argument
    check."""
    n = len(dsts)
    if n < 2:
        raise ValueError("need at least 2 destinations")
    # docid span [lo, hi] from the segment records
    segs = IndexWriter.open(spark, src).commit_state()["segments"]
    lo = min((r["docid_min"] for r in segs), default=0)
    hi = next_ids(segs)[1] - 1
    out = []
    for i, dst in enumerate(dsts):
        replicate(src, dst)
        w = IndexWriter.open(spark, dst)
        docs = live_docids(w.reader())
        if sequential:
            # i-th of n contiguous docid ranges over [lo, hi]:
            # MultiPassIndexSplitter --seq uses partLen = maxDoc /
            # numParts (FLOOR) with the LAST part absorbing the
            # remainder (10 docs / 3 parts -> 3/3/4, not 4/4/2);
            # width 0 (more parts than docs) leaves every part but
            # the last empty, exactly like the reference
            width = (hi - lo + 1) // n
            a = lo + i * width
            b = (hi + 1) if i == n - 1 else lo + (i + 1) * width
            drop = docs.filter(~((F.col("docid") >= a)
                                 & (F.col("docid") < b)))
        else:
            drop = docs.filter(F.col("docid") % n != i)
        w.delete_docids_df(drop, lineage=f"rr-split part {i}/{n}")
        out.append(w.expunge_deletes())
        w.vacuum()
    return out
