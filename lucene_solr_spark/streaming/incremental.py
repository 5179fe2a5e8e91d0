"""Structured Streaming incremental indexing (the NRT path).

Reference mapping (SURVEY.md §2.9): Lucene's incremental adds buffer in
DWPTs and flush segments (INDEX/IndexWriter.java:1212,
INDEX/FlushByRamOrCountsPolicy.java); NRT readers see not-yet-merged
segments via DirectoryReader.openIfChanged
(INDEX/DirectoryReader.java:164-236); Solr's transaction log replays
uncommitted updates on restart (solr/core/src/java/org/apache/solr/
update/UpdateLog.java:96-100).

Spark realization: ``readStream -> foreachBatch(append)``. Each
micro-batch is one "flush" producing new segments through the same
IndexWriter used for bulk builds; the commit.json generation swap is
the soft-commit, and Spark's checkpoint + our ``last_stream_batch``
watermark make replays exactly-once: a restarted query re-offers the
last in-flight batch (at-least-once), the writer skips batch ids whose
stamp is in the commit — the stamp travels in the SAME atomic
commit.json swap as the generation bump (``extra_commit``; every
IndexWriter commit is one complete swap), so no crash point can
commit docs without the stamp, and later merges carry it forward in
their own commits. Orphan gen directories from a crashed append are
overwritten by the retry (mode=overwrite) and reaped by
``IndexWriter.vacuum``.

After each append, an optional tiered-merge pass keeps the segment
count bounded (ConcurrentMergeScheduler analogue — here it runs
inline; on a real cluster it would be a separate scheduled job over
the same catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..index.writer import IndexWriter


class StreamingIndexer:
    """foreachBatch sink appending micro-batches to a segment store."""

    def __init__(self, spark: SparkSession, path: str,
                 docs_per_segment: int = 65536,
                 order_cols: list | None = None,
                 merge_every: int = 0,
                 merge_kwargs: dict | None = None):
        import os
        if os.path.exists(f"{path}/commit.json"):
            self.writer = IndexWriter.open(spark, path)
        else:
            self.writer = IndexWriter.create(
                spark, path, docs_per_segment=docs_per_segment)
        self.order_cols = order_cols or ["conv_id", "turn_idx"]
        self.merge_every = merge_every
        self.merge_kwargs = merge_kwargs or {}
        self._batches_since_merge = 0

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        st = self.writer.commit_state()
        last = st.get("last_stream_batch", -1)
        if batch_id <= last:
            return  # replayed batch already committed — exactly-once
        if batch_df.isEmpty():
            return
        # the batch-id stamp rides the SAME atomic commit.json swap as
        # the generation bump (append_raw's extra_commit), so a crash can
        # never commit the docs without the stamp — a replayed batch is
        # either fully absent or fully committed+stamped; each merge
        # commit carries the stamp forward with the rest of the state
        self.writer.append_raw(
            batch_df, order_cols=self.order_cols,
            lineage=f"stream batch {batch_id}",
            extra_commit={"last_stream_batch": int(batch_id)})
        self._batches_since_merge += 1
        if self.merge_every and self._batches_since_merge >= self.merge_every:
            self.writer.maybe_merge(**self.merge_kwargs)
            self._batches_since_merge = 0

    def start(self, stream_df: DataFrame, checkpoint_dir: str,
              trigger_available_now: bool = True):
        """Attach to a streaming DataFrame of transcript rows."""
        q = (stream_df.writeStream
             .foreachBatch(self.process_batch)
             .option("checkpointLocation", checkpoint_dir))
        if trigger_available_now:
            q = q.trigger(availableNow=True)
        return q.start()
