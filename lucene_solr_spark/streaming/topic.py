"""TopicStream: checkpointed pub/sub over an index.

The reference (solr/solrj/src/java/org/apache/solr/client/solrj/io/
stream/TopicStream.java:75) implements publish/subscribe on top of an
index: each ``read()`` returns documents whose ``_version_`` exceeds a
per-shard checkpoint map, and the checkpoints are persisted to a
checkpoint collection so a subscriber resumes where it left off
(initialCheckpoint -1 = from the beginning, :88).

The Spark analogue subscribes to an ``IndexWriter`` store: the
generation number plays ``_version_`` (it is the store's monotonic
publish clock — every committed append is one generation), and the
checkpoint is a JSON file swapped atomically (the checkpoint
collection's role).  ``pull()`` returns the docids that became
visible since the last pull, excluding docs already deleted at pull
time (TopicStream emits only docs that still match at read time).

Scale shape: a pull reads ONLY the catalog rows of new generations
(docid ranges — tiny) and explodes them into ids; no segment data is
touched.  The usual composition is ``fetch()`` over the pulled ids
(exactly Solr's topic + fetch pattern), which is one equi-join.
The catalog and the delete set are the reader's (``open_segments``),
so the pull resolves them exactly as a searcher of that commit does;
deletes are excluded by one anti-join.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F


class Topic:
    def __init__(self, spark: SparkSession, writer_path: str,
                 checkpoint_path: str, topic_id: str,
                 initial_checkpoint: int = -1):
        self.spark = spark
        self.writer_path = writer_path
        self.checkpoint_path = checkpoint_path
        self.topic_id = topic_id
        self.initial = initial_checkpoint

    # -- checkpoint persistence (the checkpoint collection's role) ------

    def _read_ckpt(self) -> int:
        if not os.path.exists(self.checkpoint_path):
            return self.initial
        with open(self.checkpoint_path) as f:
            return json.load(f).get(self.topic_id, self.initial)

    def _write_ckpt(self, gen: int) -> None:
        state = {}
        if os.path.exists(self.checkpoint_path):
            with open(self.checkpoint_path) as f:
                state = json.load(f)
        state[self.topic_id] = gen
        tmp = self.checkpoint_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.checkpoint_path)

    # -- pull ------------------------------------------------------------

    def pull(self) -> DataFrame:
        """Docids committed since the last checkpoint; advances the
        checkpoint to the store's current generation (checkpointEvery
        batching collapses to per-pull persistence here — each pull is
        one micro-batch)."""
        from ..index.segments import open_segments
        six = open_segments(self.spark, self.writer_path)
        ckpt = self._read_ckpt()
        cur = six.generation
        new_segs = [s for g, segs in six.data_gens.items()
                    if ckpt < g <= cur for s in segs]
        self._write_ckpt(cur)
        if not new_segs:
            return self.spark.createDataFrame([], "docid long")
        ids = (six.catalog.filter(F.col("seg_id").isin(new_segs))
               .select(F.explode(F.expr(
                   "sequence(docid_min, docid_min + n_docs - 1)"))
                   .alias("docid")))
        return ids.join(six.deleted, "docid", "left_anti")
