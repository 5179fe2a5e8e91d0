"""IndexWriter: incremental, resumable segment-store appends + merges.

The Spark re-expression of Lucene's write path
(INDEX/IndexWriter.java:1212 addDocument -> DWPT flush -> publish ->
TieredMergePolicy -> commit; INDEX/SegmentInfos.java generations):

- **one commit step**: every mutation ends in ``_commit``, which
  writes the complete next commit record — ``{**state, **updates}`` —
  in ONE atomic swap of ``commit.json`` (or ``pending_commit.json``
  while a ``prepare_commit`` runs), the segments_N write of
  SegmentInfos.commit. Delete sets, docvalue patches and stream stamps
  ride that same swap, so no crash point publishes half a commit.
- **the commit record is the segment catalog**: ``segments`` holds one
  record per live segment (SegmentInfo). A mutation names the records it
  adds and drops; ``doc_count``, ``sum_ttf`` and the next seg id and
  docid derive from the records, so no docid is handed out twice.
  ``stats_gen`` names the generation holding the term_stats snapshot:
  appends and expunges write a new one at their own generation; merges,
  deletes and docvalue updates change no statistics and keep it.
- ``append_raw(batch)`` = one "flush" and the only way a segment is
  built: assign docids continuing from the next docid
  (insertion-ordered like Lucene docIDs), build packed segments +
  norms for the batch with ONE data shuffle, and
  write them into fresh per-generation directories
  (``segments/gen=N`` — unified posting rows + the per-segment norms
  row from ONE kernel pass) — plain parquet appends, no
  dynamic-partition write, no sort (the build kernel already emits
  rows segment-grouped and term-sorted, so parquet row-group min/max
  stats prune term lookups for free). A crashed append leaves a gen
  directory no commit references, and the retry simply overwrites it
  — that is the checkpoint/resume story (the north rule's "resumable
  from checkpoint with per-partition lineage + metrics").
- ``maybe_merge()`` = TieredMergePolicy
  (INDEX/TieredMergePolicy.java:312-401,565-625): size-tiered
  selection over the segment records, restricted to docid-adjacent runs so
  merged segments stay contiguous ranges. The merge job itself is a
  **bulk merge**: because blocks carry explicit lengths, a merged
  posting row is the docid-ordered concatenation of the source rows'
  block arrays — pure JVM (sort_array+flatten, no decode), exactly
  Lucene's bulk-merge fast path (codecs/FieldsConsumer.merge:86).
  A merge only concatenates: deleted docs stay deleted in it.
- every delete (docid list, docid frame, term, query, expiry sweep)
  resolves to a docid frame and ends in ``_commit_delete_set``.
- ``expunge_deletes()`` = IndexWriter.forceMergeDeletes: every segment
  holding deletes is rewritten without them in ONE commit, which moves
  the statistics to the surviving corpus and empties the delete set.
  Only the rows that hold deleted docs are re-encoded, with the flush's
  batch encoder (``blocks.encode_postings_batch``), so a flush and an
  expunge write postings through one codec writer, as in the reference.
- ``vacuum()`` deletes every segment, term_stats and delete-set
  generation dir that the commit (or a prepared commit) does not
  reference — merge and expunge inputs, superseded snapshots and delete
  sets, crashed attempts — like Lucene deleting merged-away files.
"""

from __future__ import annotations

import functools
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .docids import assign_docids
from .replicator import commit_dirs
from .segments import (
    DELETES_SCHEMA, EXPUNGED_QDL, PACKED_SCHEMA, SEGDATA_SCHEMA,
    TERM_STATS_SCHEMA, SegmentIndex, build_segments_direct,
    delete_set_footers, next_ids, read_commit, unify_segment_frames,
    write_commit,
)

_PENDING_COMMIT = "pending_commit.json"


class IndexWriter:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._pending_mode = False

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str,
               docs_per_segment: int = 65536) -> "IndexWriter":
        os.makedirs(path, exist_ok=True)
        write_commit(path, dict(generation=0, stats_gen=0, doc_count=0,
                                sum_ttf=0, docs_per_segment=docs_per_segment,
                                segments=[], lineage=""))
        return cls(spark, path)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "IndexWriter":
        read_commit(path)  # must exist
        return cls(spark, path)

    def commit_state(self) -> dict:
        return read_commit(self.path)

    def reader(self) -> SegmentIndex:
        from .segments import open_segments
        return open_segments(self.spark, self.path)

    def _gen_dir(self, sub: str, gen: int) -> str:
        return f"{self.path}/{sub}/gen={gen}"

    def _commit(self, st: dict, add: list = (), drop: list = (),
                **updates) -> SegmentIndex:
        """The one commit step: publish ``{**st, **updates}`` with the
        segment records ``add`` in place of the records of the seg ids
        ``drop`` as the complete next commit record in ONE atomic swap.
        ``doc_count`` and ``sum_ttf`` are derived from the records."""
        segs = sorted([r for r in st["segments"] if r["seg_id"] not in drop]
                      + list(add), key=lambda r: r["docid_min"])
        write_commit(self.path,
                     {**st, **updates, "segments": segs,
                      "doc_count": sum(r["n_docs"] for r in segs),
                      "sum_ttf": sum(r["n_tokens"] for r in segs)},
                     _PENDING_COMMIT if self._pending_mode
                     else "commit.json")
        return self.reader()

    # -- two-phase commit -----------------------------------------------

    def prepare_commit(self, batch: DataFrame, text_col: str = "text",
                       order_cols: list | None = None,
                       lineage: str = "") -> dict:
        """IndexWriter.prepareCommit analogue (INDEX/IndexWriter.java
        prepareCommit: flush + fsync the pending segments_N WITHOUT
        making it visible; a later commit() finishes it, rollback()
        abandons it): runs the full append_raw build — segment data
        lands on disk under the next generation's dirs — but the
        commit record is written to ``pending_commit.json``; readers
        (which resolve ``commit.json``) cannot observe any of it.

        The promote step is a single local rename, so the external
        coordinator of a cross-system transaction (the reason
        prepareCommit exists) holds only an O(1) second phase.
        Raises if a prepared commit is already outstanding, like the
        reference ("prepareCommit was already called")."""
        if os.path.exists(os.path.join(self.path, _PENDING_COMMIT)):
            raise RuntimeError("prepareCommit was already called with "
                               "no corresponding call to commit")
        self._pending_mode = True
        try:
            self.append_raw(batch, text_col=text_col,
                            order_cols=order_cols,
                            lineage=lineage or "prepared append")
        finally:
            self._pending_mode = False
        return read_commit(self.path, _PENDING_COMMIT)

    def commit(self) -> SegmentIndex:
        """Second phase: atomically promote the prepared commit
        (IndexWriter.commit after prepareCommit) — one rename, after
        which readers see the new generation."""
        pending = os.path.join(self.path, _PENDING_COMMIT)
        if not os.path.exists(pending):
            raise RuntimeError("no prepared commit to finish")
        os.replace(pending, os.path.join(self.path, "commit.json"))
        return self.reader()

    def rollback(self) -> SegmentIndex:
        """IndexWriter.rollback analogue: abandon the prepared commit.
        The unreferenced generation dirs stay on disk exactly like a
        crashed append's (no commit references them; the next
        append/prepare to that generation overwrites them) — the same
        crash-retry story the module docstring documents."""
        pending = os.path.join(self.path, _PENDING_COMMIT)
        if os.path.exists(pending):
            os.remove(pending)
        return self.reader()

    # -- append -------------------------------------------------------------

    def append_raw(self, batch: DataFrame, text_col: str = "text",
                   order_cols: list | None = None,
                   lineage: str = "",
                   extra_commit: dict | None = None) -> SegmentIndex:
        """Index a new document batch (docids continue from the next
        docid):
        raw docs -> segments with ONE data shuffle.

        Raw text ships straight to per-segment builder tasks that
        tokenize + invert + pack in vectorized numpy/Arrow (the DWPT
        shape), so shuffled bytes = corpus size, not token-explosion
        size. The kernel implements the ``simple`` analyzer's tokenizer
        spec and the SmallFloat norms of ``builder.build_index``;
        tests/test_segment_inversion.py asserts that every decoded
        posting, position and norm equals that Catalyst inversion.

        ``extra_commit`` keys land in the SAME atomic commit.json swap
        as the generation bump — streaming callers stamp their batch id
        here so replay-dedup survives a crash between append and stamp
        (exactly-once; cf. Solr UpdateLog replay, UpdateLog.java:96)."""
        st = self.commit_state()
        dps = st["docs_per_segment"]
        seg_base, base = next_ids(st["segments"])
        gen = st["generation"] + 1
        order_cols = order_cols or ["conv_id", "turn_idx"]

        ids = assign_docids(batch, order_cols)
        # capture the persisted staging handle BEFORE any withColumn —
        # derived DataFrames don't carry the attribute forward
        staging = getattr(ids, "_docids_staging", None)
        if base:
            ids = ids.withColumn("docid", F.col("docid") + base)

        # mode=overwrite clears the orphan gen dir of a crashed attempt;
        # ONE kernel pass emits postings + norms into one unified dir
        # zstd: ~15% smaller segment files than snappy/none at equal
        # measured write time (interleaved A/B, docs/SCALE.md) — at
        # 100 TB the win is scan bandwidth, not disk
        build_segments_direct(ids, dps, text_col=text_col, base_docid=base,
                              seg_id_base=seg_base) \
            .write.mode("overwrite").option("compression", "zstd") \
            .parquet(self._gen_dir("segments", gen))
        out = self._publish({**st, **(extra_commit or {})}, gen, lineage)
        if staging is not None:
            staging.unpersist()
        return out

    def _publish(self, st: dict, gen: int, lineage: str) -> SegmentIndex:
        """Records + term_stats snapshot + the commit for the segments
        just written under gen's data dir (scalar-column jobs only —
        blob columns never leave disk)."""
        new = self._new_records(gen, lineage)
        ts_new = _term_totals(self._postings(gen))
        if st["stats_gen"]:
            ts_new = _term_totals(
                self._term_stats(st).unionByName(ts_new))
        ts_new.write.mode("overwrite").parquet(
            self._gen_dir("term_stats", gen))
        return self._commit(st, add=new, generation=gen, stats_gen=gen,
                            lineage=lineage)

    def _term_stats(self, st: dict) -> DataFrame:
        """The term_stats snapshot of commit ``st``."""
        return self.spark.read.schema(TERM_STATS_SCHEMA).parquet(
            self._gen_dir("term_stats", st["stats_gen"]))

    def _segdata(self, gen: int) -> DataFrame:
        """The rows written to ``segments/gen=gen``."""
        return self.spark.read.schema(SEGDATA_SCHEMA).parquet(
            self._gen_dir("segments", gen))

    def _postings(self, gen: int) -> DataFrame:
        """Posting rows written to ``segments/gen=gen``."""
        return self._segdata(gen).filter(F.col("term").isNotNull())

    def _new_records(self, gen: int, lineage: str) -> list:
        """Segment records of the segments just written to
        ``segments/gen=gen``: ONE groupBy(seg_id) over the scalar
        columns of both row kinds, collected once. A segment whose docs
        are all token-less has a norms row but no postings; its term
        counts are zero."""
        rows = (self._segdata(gen)
                .groupBy("seg_id").agg(
                    F.min("docid_min").alias("docid_min"),
                    F.max(F.col("docid_min") + F.length("norm_blob"))
                    .alias("docid_end"),
                    F.sum("n_docs").alias("n_docs"),
                    F.sum("ttf").alias("n_tokens"),
                    F.count("term").alias("n_terms"),
                    F.sum("df").alias("n_postings"),
                    F.sum("packed_bytes").alias("packed_bytes"))
                .collect())
        extra = dict(gen=gen, lineage=lineage, build_ts=int(time.time()))
        return [{**{k: int(v or 0) for k, v in r.asDict().items()}, **extra}
                for r in rows]

    # -- tiered merge -------------------------------------------------------

    def maybe_merge(self, segs_per_tier: int = 10,
                    max_merge_at_once: int = 10,
                    floor_bytes: int = 2 << 20,
                    max_merged_bytes: int = 5 << 30) -> int:
        """Run the tiered policy until no merge qualifies; returns the
        number of bulk merges executed. Deleted docs stay in the merged
        segments until ``expunge_deletes``."""
        n = 0
        while True:
            pick = pick_merge(self.commit_state()["segments"],
                              segs_per_tier, max_merge_at_once,
                              floor_bytes, max_merged_bytes)
            if not pick:
                return n
            self.merge_segments(pick)
            n += 1

    def merge_segments(self, seg_ids: list) -> SegmentIndex:
        """Bulk-merge docid-adjacent segments into one new segment.

        The merge only concatenates (SegmentMerger.merge, INDEX/
        SegmentMerger.java:97-180, minus the live-docs filter that
        ``expunge_deletes`` owns): no posting is decoded, deleted docs
        stay deleted, and no statistic changes, so the commit keeps its
        ``stats_gen``. Raises ``ValueError`` before any Spark job unless
        every id names a live segment and their docid ranges tile one
        range: a merged record's range must not span a segment it did
        not merge, and the merged norms blobs are the concatenation of
        the inputs' blobs."""
        st = self.commit_state()
        seg_ids = sorted(set(seg_ids))
        recs = sorted((r for r in st["segments"] if r["seg_id"] in seg_ids),
                      key=lambda r: r["docid_min"])
        if not recs or len(recs) != len(seg_ids) or any(
                a["docid_end"] != b["docid_min"]
                for a, b in zip(recs, recs[1:])):
            raise ValueError(f"merge_segments needs live, docid-adjacent "
                             f"segments, got {seg_ids}")
        six = self.reader()
        new_id, _ = next_ids(st["segments"])
        gen = st["generation"] + 1
        pk = six.packed.filter(F.col("seg_id").isin(seg_ids))
        # concatenation order must be docid order; seg_id order diverges
        # from it once merged segments (fresh, higher ids) re-merge, so
        # sort by the records' docid_min
        pk = pk.join(F.broadcast(six.catalog.select("seg_id", "docid_min")),
                     "seg_id")
        cols = [f.name for f in PACKED_SCHEMA.fields][2:]
        merged = (pk.groupBy("term")
                  .agg(F.sort_array(F.collect_list(F.struct(
                      "docid_min", *cols))).alias("pl"))
                  .select(
                      F.lit(new_id).cast("int").alias("seg_id"), "term",
                      *[F.aggregate(f"pl.{c}", F.lit(0).cast("long"),
                                    lambda a, x: a + x).alias(c)
                        if c in ("df", "ttf", "packed_bytes")
                        else F.flatten(f"pl.{c}").alias(c) for c in cols]))
        nm = six.norms.filter(F.col("seg_id").isin(seg_ids))

        def _merge_norms(it):
            import pandas as pd
            rows = sorted((r for pdf in it for r in pdf.to_dict("records")),
                          key=lambda r: r["docid_min"])
            if rows:
                yield pd.DataFrame({
                    "seg_id": [new_id], "docid_min": [rows[0]["docid_min"]],
                    "n_docs": [sum(r["n_docs"] for r in rows)],
                    **{c: [b"".join(r[c] for r in rows)]
                       for c in ("norm_blob", "qdl_blob")}})

        merged_norms = nm.repartition(1).mapInPandas(_merge_norms, nm.schema)
        unify_segment_frames(merged.sortWithinPartitions("term"),
                             merged_norms) \
            .write.mode("overwrite").option("compression", "zstd") \
            .parquet(self._gen_dir("segments", gen))
        lineage = f"merge({','.join(map(str, seg_ids))})"
        return self._commit(st, add=self._new_records(gen, lineage),
                            drop=seg_ids, generation=gen, lineage=lineage)

    def expunge_deletes(self) -> SegmentIndex:
        """IndexWriter.forceMergeDeletes analogue: every live segment
        that holds deleted docs (MergePolicy.findForcedDeletesMerges
        selects exactly those) is rewritten without them into its own
        new segment, all in ONE commit. Posting rows holding a deleted
        doc are decoded, filtered and re-encoded by ``_expunge_packed``;
        each norms row keeps its docid range, with norm byte 0 and qdl
        ``EXPUNGED_QDL`` at the deleted positions, so no docid is handed
        out twice and a docid deleted again after an earlier expunge
        leaves ``n_docs`` only once. Term and collection
        statistics move to the surviving corpus and the delete set
        empties. A store without deletes runs no Spark job and commits
        nothing."""
        import numpy as np

        st = self.commit_state()
        if not st.get("del_gens"):
            return self.reader()
        six = self.reader()
        dels = {r["seg_id"]: np.array(r["del_ids"], dtype=np.int64)
                for r in six.deleted_by_segment().collect()}
        if not dels:
            return six
        old_ids = sorted(dels)
        seg_base, _ = next_ids(st["segments"])
        ids = {s: seg_base + i for i, s in enumerate(old_ids)}
        gen = st["generation"] + 1

        nm = six.norms.filter(F.col("seg_id").isin(old_ids))
        pk = _expunge_packed(
            six.packed.filter(F.col("seg_id").isin(old_ids)).join(
                nm.select("seg_id", F.col("docid_min").alias("nlo"),
                          F.col("qdl_blob").alias("qblob")), "seg_id"),
            dels)
        new_id = F.create_map(*[F.lit(x) for kv in ids.items() for x in kv])
        pk = pk.withColumn("seg_id",
                           F.element_at(new_id, F.col("seg_id")).cast("int"))

        def _zero_deleted(it):
            import pandas as pd
            for pdf in it:
                rows = []
                for r in pdf.itertuples(index=False):
                    nb = np.frombuffer(r.norm_blob, dtype=np.uint8).copy()
                    qb = np.frombuffer(r.qdl_blob, dtype=np.int32).copy()
                    pos = dels[r.seg_id] - r.docid_min
                    pos = pos[qb[pos] != EXPUNGED_QDL]
                    nb[pos] = 0
                    qb[pos] = EXPUNGED_QDL
                    rows.append((ids[r.seg_id], r.docid_min,
                                 r.n_docs - pos.size, nb.tobytes(),
                                 qb.tobytes()))
                if rows:
                    yield pd.DataFrame(rows, columns=pdf.columns)

        unify_segment_frames(pk.sortWithinPartitions("seg_id", "term"),
                             nm.mapInPandas(_zero_deleted, nm.schema)) \
            .write.mode("overwrite").option("compression", "zstd") \
            .parquet(self._gen_dir("segments", gen))

        lineage = f"expunge({','.join(map(str, old_ids))})"
        # surviving-corpus stats: the snapshot plus the rewritten rows
        # minus the rows they replace
        gone = six.packed.filter(F.col("seg_id").isin(old_ids)).select(
            "term", (-F.col("df")).alias("df"), (-F.col("ttf")).alias("ttf"))
        _term_totals(self._term_stats(st), self._postings(gen), gone) \
            .filter(F.col("df") > 0) \
            .write.mode("overwrite").parquet(self._gen_dir("term_stats", gen))
        return self._commit(st, add=self._new_records(gen, lineage),
                            drop=old_ids, generation=gen, stats_gen=gen,
                            lineage=lineage, del_gens=[])

    # -- deletes (live docs) ------------------------------------------------

    def delete_docids(self, docids, lineage: str = "") -> SegmentIndex:
        """Mark docids deleted (Lucene live-docs bitset,
        codecs/lucene50/Lucene50LiveDocsFormat.java). Postings keep the
        docs until a future compaction; every query path excludes them
        at scoring time, exactly like Lucene readers consulting
        liveDocs. Collection statistics (docCount/avgdl/idf) keep the
        deleted docs until merge, matching Lucene's stats-ignore-deletes
        semantics (IndexSearcher.collectionStatistics over
        Terms.getDocCount). An empty list commits nothing."""
        ids = sorted({int(d) for d in docids})
        return self._commit_delete_set(
            self.spark.createDataFrame([(d,) for d in ids], DELETES_SCHEMA),
            lineage or f"delete {len(ids)} docs")

    def update_by_term(self, term: str, batch, text_col: str = "text",
                       order_cols: list | None = None,
                       lineage: str = "") -> SegmentIndex:
        """IndexWriter.updateDocument(Term, doc) analogue
        (INDEX/IndexWriter.java updateDocument: an atomic
        delete-by-term + addDocuments): every live doc matching
        ``term`` is marked deleted and the replacement batch is
        indexed, both riding ONE commit.json swap — no reader
        generation can observe the delete without the add or vice
        versa. The old-doc resolution and the delete-set write are
        fully distributed (no driver materialization of hit lists)."""
        from ..search.query import Term as _Term
        from ..search.segment_searcher import SegmentSearcher
        st = self.commit_state()
        gen = st["generation"] + 1
        del_gens = list(st.get("del_gens", []))
        if st["doc_count"] and self._write_delete_set(
                SegmentSearcher(self.reader()).scored(_Term(term))
                .select("docid"), gen):
            del_gens.append(gen)
        return self.append_raw(
            batch, text_col=text_col, order_cols=order_cols,
            lineage=lineage or f"update term={term!r}",
            extra_commit={"del_gens": del_gens})

    def update_numeric_docvalue(self, term: str, field: str,
                                value: int,
                                lineage: str = "") -> SegmentIndex:
        """IndexWriter.updateNumericDocValue(Term, field, value)
        analogue (INDEX/IndexWriter.java updateNumericDocValue +
        DocValuesFieldUpdates.java): every live doc matching ``term``
        gets docvalue ``field`` set to ``value`` WITHOUT reindexing —
        a per-generation patch file resolved at read time with
        newest-generation-wins (SegmentIndex.dv_updates /
        resolve_docvalue).  Hit resolution and the patch write are
        fully distributed; the commit.json swap is atomic, so no
        reader observes a partial update."""
        from ..search.query import Term as _Term
        from ..search.segment_searcher import SegmentSearcher
        st = self.commit_state()
        gen = st["generation"] + 1
        hits = (SegmentSearcher(self.reader())
                .scored(_Term(term)).select("docid"))
        (hits.select("docid",
                     F.lit(field).alias("field"),
                     F.lit(int(value)).cast("long").alias("value"),
                     F.lit(gen).cast("int").alias("upd_gen"))
         .write.mode("overwrite")
         .parquet(self._gen_dir("dv_updates", gen)))
        return self._commit(
            st, generation=gen,
            dv_gens=list(st.get("dv_gens", [])) + [gen],
            lineage=lineage or f"dv update {field}={value} term={term!r}")

    def delete_by_term(self, term: str) -> SegmentIndex:
        """Delete every document containing ``term`` (delete-by-term,
        INDEX/DocumentsWriterDeleteQueue.java)."""
        from ..search.query import Term
        return self.delete_by_query(Term(term),
                                    lineage=f"delete term={term!r}")

    def delete_by_query(self, query, lineage: str = "") -> SegmentIndex:
        """IndexWriter.deleteDocuments(Query..) analogue
        (INDEX/IndexWriter.java deleteDocuments(Query);
        BufferedUpdatesStream.java resolves the query against each
        segment at flush): every live doc matching an arbitrary query
        AST is marked deleted.  Hit resolution runs through the same
        pruned SegmentSearcher the readers use and the delete set is
        written straight from the executors — no driver
        materialization of the hit list, so a delete-by-query matching
        10^9 docs streams 10^9 ids through a one-file parquet write,
        never the driver heap."""
        from ..search.segment_searcher import SegmentSearcher
        if not self.commit_state()["doc_count"]:
            return self.reader()
        hits = (SegmentSearcher(self.reader())
                .scored(query).select("docid"))
        return self._commit_delete_set(
            hits, lineage or f"deleteByQuery {query!r}")

    def expire_docs(self, docvalues: DataFrame, field: str,
                    now, docid_col: str = "docid") -> SegmentIndex:
        """DocExpirationUpdateProcessorFactory's reaper sweep
        (solr/core/src/java/org/apache/solr/update/processor/
        DocExpirationUpdateProcessorFactory.java: a periodic
        ``deleteByQuery {expirationField}:[* TO NOW]``): mark every
        live doc whose ``field`` value is <= ``now`` deleted.
        ``docvalues`` supplies the expiration docvalue as a
        (docid, field) table — the role Solr's stored expiration
        field plays.  The filter + delete-set write are one pushed
        parquet scan; nothing crosses the driver."""
        if not self.commit_state()["doc_count"]:
            return self.reader()
        hits = (docvalues
                .filter(F.col(field) <= F.lit(now))
                .select(F.col(docid_col).cast("long").alias("docid")))
        return self._commit_delete_set(hits, f"expire {field} <= {now}")

    def delete_docids_df(self, hits: DataFrame,
                         lineage: str = "") -> SegmentIndex:
        """DataFrame-native delete set (the DeleteStream shape,
        solrj/io/stream/DeleteStream.java:40 — deleteById per incoming
        tuple): mark every docid in ``hits`` deleted in ONE commit,
        with the set written executor-side (never the driver heap)."""
        ids = hits.select(F.col(hits.columns[0]).cast("long")
                          .alias("docid")).distinct()
        return self._commit_delete_set(ids, lineage or "delete docids (df)")

    def _commit_delete_set(self, hits: DataFrame,
                           lineage: str) -> SegmentIndex:
        """The one delete commit every delete ends in: write the docid
        frame ``hits`` as the next generation's delete set and commit
        it; nothing is committed when it is empty. Ids outside
        ``[0, next docid)`` name no doc and are dropped, so a later
        append is never born deleted. Deletes change no statistics, so
        the commit keeps the previous ``stats_gen``."""
        st = self.commit_state()
        gen = st["generation"] + 1
        hits = hits.filter(F.col("docid").between(
            0, next_ids(st["segments"])[1] - 1))
        if not self._write_delete_set(hits, gen):
            return self.reader()
        return self._commit(st, generation=gen, lineage=lineage,
                            del_gens=list(st.get("del_gens", [])) + [gen])

    def _write_delete_set(self, hits: DataFrame, gen: int) -> bool:
        """Write ``hits`` as ``deletes/gen=gen``; False (the dir
        removed again) when it is empty. The query behind ``hits`` runs
        once: emptiness is read from the written files' footers."""
        out = self._gen_dir("deletes", gen)
        hits.coalesce(1).write.mode("overwrite").parquet(out)
        if delete_set_footers(out)[0]:
            return True
        shutil.rmtree(out)
        return False

    def vacuum(self) -> list:
        """Delete every generation dir under ``segments/``,
        ``term_stats/`` and ``deletes/`` that the commit does not
        reference — merge and expunge inputs, superseded snapshots and
        delete sets, crashed attempts. A prepared commit's references
        count too, like a pending segments_N in Lucene's
        IndexFileDeleter."""
        keep = set(commit_dirs(self.commit_state()))
        if os.path.exists(os.path.join(self.path, _PENDING_COMMIT)):
            keep |= set(commit_dirs(read_commit(self.path, _PENDING_COMMIT)))
        removed = []
        for sub in ("segments", "term_stats", "deletes"):
            root = os.path.join(self.path, sub)
            for d in sorted(os.listdir(root) if os.path.isdir(root) else ()):
                if d.startswith("gen=") and f"{sub}/{d}" not in keep:
                    removed.append(f"{sub}/{d}")
        for rel in removed:
            shutil.rmtree(os.path.join(self.path, rel))
        return removed


def _term_totals(*frames: DataFrame) -> DataFrame:
    """Per-term (df, ttf) totals over posting or term-stats rows."""
    rows = functools.reduce(DataFrame.unionByName, [
        f.select("term", "df", "ttf") for f in frames])
    return (rows.groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("ttf").cast("long").alias("ttf")))


def _expunge_packed(pk_with_norms: DataFrame, dels: dict) -> DataFrame:
    """Decode-filter-reencode packed posting rows, dropping deleted
    docids (the live-docs filter of SegmentMerger's mergeTerms). ``dels``
    maps each seg_id to its sorted deleted docids, so a row is tested
    only against its own segment's deletes. Input
    rows carry their segment's ``nlo`` (docid_min) and ``qblob``
    (qdl forward blob) so surviving docs keep exact impact metadata.
    Untouched rows pass through byte-identical and fully deleted rows
    are dropped; the touched rows of each Arrow batch are re-encoded
    together by ONE ``encode_postings_batch`` call — the encoder the
    segment build uses."""
    import numpy as np

    from .segments import PACKED_SCHEMA, _posting_table

    names = [f.name for f in PACKED_SCHEMA.fields]

    def fn(it):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..codecs import blocks as blk
        schema = to_arrow_schema(PACKED_SCHEMA)
        for batch in it:
            col = {c: batch.column(c).to_pylist() for c in (
                "seg_id", "term", "doc_blocks", "tf_blocks", "pos_blocks",
                "skip_n_docs", "nlo", "qblob")}
            touched = np.zeros(batch.num_rows, dtype=bool)
            segs, terms, docs, tfs, qdls, poss = [], [], [], [], [], []
            for i, nd in enumerate(col["skip_n_docs"]):
                d, t = blk.decode_all(col["doc_blocks"][i],
                                      col["tf_blocks"][i], nd)
                dd = dels[col["seg_id"][i]]
                keep = dd[np.searchsorted(dd, d).clip(max=dd.size - 1)] != d
                if keep.all():
                    continue
                touched[i] = True
                if not keep.any():
                    continue
                ends = np.cumsum(nd)
                pos = np.concatenate([
                    blk.decode_pos_block(b, t[e - n:e])
                    for b, n, e in zip(col["pos_blocks"][i], nd, ends)])
                qblob = np.frombuffer(col["qblob"][i], dtype=np.int32)
                segs.append(col["seg_id"][i])
                terms.append(col["term"][i])
                docs.append(d[keep])
                tfs.append(t[keep])
                qdls.append(qblob[d[keep] - col["nlo"][i]])
                poss.append(pos[np.repeat(keep, t)])
            out = [pa.Table.from_batches(
                [batch.filter(pa.array(~touched)).select(names)])
                .cast(schema)]
            if docs:
                df = np.array([x.size for x in docs], dtype=np.int64)
                enc = blk.encode_postings_batch(
                    np.concatenate(docs), np.concatenate(tfs),
                    np.concatenate(qdls).astype(np.int64),
                    np.concatenate(poss), df)
                out.append(_posting_table(
                    segs, pa.array(terms, pa.string()), df,
                    [int(x.sum()) for x in tfs], enc))
            yield from pa.concat_tables(out).to_batches()

    return pk_with_norms.mapInArrow(fn, PACKED_SCHEMA)


# ---------------------------------------------------------------------------
# tiered merge policy (INDEX/TieredMergePolicy.java:312-401,565-625)
# ---------------------------------------------------------------------------

def pick_merge(catalog: list, segs_per_tier: int = 10,
               max_merge_at_once: int = 10, floor_bytes: int = 2 << 20,
               max_merged_bytes: int = 5 << 30):
    """Pick one merge (list of seg_ids) or None.

    Reproduces the tiered shape: segments sorted by size, the allowed
    segment budget = segsPerTier per size tier above the floor; when
    over budget, score docid-adjacent candidate runs by skew ×
    size^0.05 (TieredMergePolicy.score — smaller merges of equal-sized
    segments win) and return the best one under max_merged_bytes.
    Adjacency (by docid range) is our extra constraint so merged
    segments stay contiguous — Lucene concatenates arbitrary segments
    because its docids are per-segment; ours are global.
    """
    if len(catalog) < 2:
        return None
    by_size = sorted(catalog, key=lambda r: -r["packed_bytes"])
    # allowed count: log_{segsPerTier}(total/floor) tiers * segsPerTier
    total = sum(max(r["packed_bytes"], 1) for r in by_size)
    floored = max(float(floor_bytes), 1.0)
    level = total
    allowed = 0.0
    while level >= floored and allowed < 10_000:
        allowed += segs_per_tier
        level /= float(segs_per_tier)
    # sub-floor segments form one tier of their own (Lucene's floorSize)
    allowed = max(allowed, float(segs_per_tier))
    if len(catalog) <= int(allowed):
        return None

    by_range = sorted(catalog, key=lambda r: r["docid_min"])
    best, best_score = None, None
    for i in range(len(by_range)):
        run, run_bytes = [], 0
        for j in range(i, min(i + max_merge_at_once, len(by_range))):
            run.append(by_range[j])
            run_bytes += max(by_range[j]["packed_bytes"], 1)
            if run_bytes > max_merged_bytes:
                break
            if len(run) < 2:
                continue
            floored_sizes = [max(r["packed_bytes"], 1) for r in run]
            skew = max(floored_sizes) / float(sum(floored_sizes))
            score = skew * sum(floored_sizes) ** 0.05
            if best_score is None or score < best_score:
                best_score = score
                best = [r["seg_id"] for r in run]
    return best
