"""TopicStream: checkpointed pub/sub over an index.

The reference (solr/solrj/src/java/org/apache/solr/client/solrj/io/
stream/TopicStream.java:75) implements publish/subscribe on top of an
index: each ``read()`` returns documents whose ``_version_`` exceeds a
per-shard checkpoint map, and the checkpoints are persisted to a
checkpoint collection so a subscriber resumes where it left off
(initialCheckpoint -1 = from the beginning, :88).

The Spark analogue subscribes to an ``IndexWriter`` store: the docid
plays ``_version_`` — docids are handed out in insertion order and
never reused (an expunge keeps its segment's width), so the
checkpoint is a docid high-water mark, persisted in a JSON file
swapped atomically (the checkpoint collection's role).  ``pull()``
returns the live docids in [checkpoint, next docid), so documents a
merge rewrites under a new generation are not delivered again, and
docs already deleted at pull time are excluded (TopicStream emits
only docs that still match at read time).

Scale shape: the segment records of the reader's commit
(``open_segments``) say which segments reach past the checkpoint;
only their norms rows are read, and the delete set is excluded by one
anti-join — exactly as a searcher of that commit resolves it.  The
usual composition is ``fetch()`` over the pulled ids (exactly Solr's
topic + fetch pattern), which is one equi-join.
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

    def _write_ckpt(self, docid: int) -> None:
        state = {}
        if os.path.exists(self.checkpoint_path):
            with open(self.checkpoint_path) as f:
                state = json.load(f)
        state[self.topic_id] = docid
        tmp = self.checkpoint_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.checkpoint_path)

    # -- pull ------------------------------------------------------------

    def pull(self) -> DataFrame:
        """Live docids added since the last checkpoint; advances the
        checkpoint to the store's next docid (checkpointEvery batching
        collapses to per-pull persistence here — each pull is one
        micro-batch)."""
        from dataclasses import replace

        from ..index.segments import next_ids, open_segments
        from ..index.splitter import live_docids
        six = open_segments(self.spark, self.writer_path)
        lo = max(self._read_ckpt(), 0)
        self._write_ckpt(next_ids(six.segments)[1])
        new = replace(six, segments=tuple(
            r for r in six.segments if r["docid_end"] > lo))
        return live_docids(new).filter(F.col("docid") >= lo)
