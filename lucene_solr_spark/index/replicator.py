"""Index replication: commit-point snapshot / restore / replica sync.

The reference's replicator module publishes an IndexRevision — the
exact file set referenced by one commit point — and replicas copy only
the files they are missing before atomically switching to the new
commit (lucene/replicator/src/java/org/apache/lucene/replicator/
IndexRevision.java:45 revision = commit's file list;
IndexReplicationHandler.java:120 copy-then-sync-then-publish order;
ReplicationClient.java incremental file diff).

This store's commit model maps 1:1: ``commit.json`` is the commit
point, and the data it references lives in per-generation parquet
directories that are NEVER rewritten after publication (appends create
new ``gen=N`` dirs; merges publish new segments and only ``vacuum``
removes dead dirs).  Immutability gives the same safety the reference
gets from write-once segment files:

- a revision = commit.json content + the gen-dirs it references: the
  segment data gens its segment records name, its delete and docvalue
  generations, and the term_stats snapshot at its ``stats_gen`` (a
  delete or docvalue update commits no new snapshot, so a re-sync after
  one copies only the new delete/patch dir);
- replication copies MISSING gen dirs only (incremental by
  construction), then atomically swaps the replica's commit.json last
  — a reader of the replica sees either the old commit or the new
  one, never a half-copied state (the IndexReplicationHandler
  "copy files, then publish segments_N" ordering);
- restore/snapshot are the same operation with an empty destination.

At cluster scale the copy is a distributed filesystem copy (DistCp /
object-store replication) of whole immutable directories; here it is
shutil.  The revision manifest is metadata-sized.
"""

from __future__ import annotations

import os
import shutil

from .segments import read_commit, write_commit

__all__ = ["revision", "replicate", "snapshot_index"]


def commit_dirs(state: dict) -> list[str]:
    """Relative gen-dir paths referenced by a commit state — the
    IndexRevision file list."""
    out = [f"segments/gen={g}"
           for g in sorted({r["gen"] for r in state["segments"]})]
    for g in state.get("del_gens", ()):
        out.append(f"deletes/gen={int(g)}")
    for g in state.get("dv_gens", ()):
        out.append(f"dv_updates/gen={int(g)}")
    out.append(f"term_stats/gen={state['stats_gen']}")
    return out


def revision(path: str) -> dict:
    """The current commit's revision manifest: the commit state plus
    the gen-dirs it references (IndexRevision.getSourceFiles)."""
    st = read_commit(path)
    return {"state": st, "dirs": commit_dirs(st)}


def replicate(src: str, dst: str) -> dict:
    """Sync ``dst`` to ``src``'s current commit point, copying only
    gen dirs missing at the destination, then publishing the commit
    atomically (ReplicationClient incremental update +
    IndexReplicationHandler publish order).  Returns
    ``{"copied": [...], "skipped": [...], "generation": N}``.

    Safe against a concurrent appender on ``src``: the manifest is
    read ONCE and only dirs it references are copied, so a newer
    in-progress generation is simply not part of this revision.
    """
    rev = revision(src)
    os.makedirs(dst, exist_ok=True)
    copied, skipped = [], []
    for rel in rev["dirs"]:
        s, d = os.path.join(src, rel), os.path.join(dst, rel)
        if not os.path.isdir(s):
            continue
        if os.path.isdir(d):
            # gen dirs are immutable after publication -> presence
            # alone proves the replica already holds this revision part
            skipped.append(rel)
            continue
        tmp = d + ".copying"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        shutil.copytree(s, tmp)
        os.replace(tmp, d)
        copied.append(rel)
    # publish LAST — the atomic segments_N swap
    write_commit(dst, rev["state"])
    return {"copied": copied, "skipped": skipped,
            "generation": rev["state"]["generation"]}


def snapshot_index(src: str, dest: str) -> dict:
    """Point-in-time snapshot of the current commit (Solr backup
    handler shape — solr/core/src/java/org/apache/solr/handler/
    SnapShooter.java): a fresh replicate into an empty directory."""
    if os.path.exists(dest) and os.listdir(dest):
        raise ValueError(f"snapshot destination {dest!r} not empty")
    return replicate(src, dest)
