"""Spans, per-span Spark stage metrics and process-tree memory sampling.

A span times one call into a layer of ``lucene_solr_spark``. While it is
open, every Spark job the driver thread submits carries the span's own
job group, so after the span closes the benchmark reads exactly that
span's jobs from the status store (``sc._jsc.sc().statusStore()``,
which works with the UI disabled) and sums their stage metrics. Nested
spans get their own groups, so a parent's metrics are its self metrics.

Spans stay in memory; ``Tracer.dump`` writes them once, at the end.

A stage counts as a Python stage (``python_stage_ms``) when its
operation graph holds a Python evaluation node: grouped Arrow/pandas
kernels (``applyInPandas``/``applyInArrow``) and pandas/Arrow UDFs. The
figure is the whole stage's executor time, so the shuffle read and the
codegen that share the stage with the kernel are included.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# StageData getter -> record key; times in ms except executorCpuTime (ns)
_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_ms"),
    ("executorCpuTime", "executor_cpu_ns"),
    ("inputBytes", "input_bytes"),
    ("outputBytes", "output_bytes"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
    ("numTasks", "tasks"),
)

PYTHON_NODES = frozenset((
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow"))


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        self._sc = spark.sparkContext
        if enabled:
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()

    def begin(self, layer: str, **attrs) -> dict | None:
        if not self.enabled:
            return None
        rec = {"id": self._next_id, "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        self._next_id += 1
        self._stack.append(rec)
        self._sc.setJobGroup(f"perfbench-{rec['id']}", layer)
        rec["_t0"] = time.perf_counter()
        rec["_start_ms"] = time.time() * 1000.0
        return rec

    def end(self, rec: dict | None) -> None:
        """Close ``rec``, which must be the innermost open span."""
        if rec is None or not self._stack or self._stack[-1] is not rec:
            return
        rec["wall_s"] = time.perf_counter() - rec.pop("_t0")
        end_ms = time.time() * 1000.0
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            self._sc.setJobGroup(f"perfbench-{parent['id']}",
                                 parent["layer"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(self._group_metrics(f"perfbench-{rec['id']}",
                                       rec.pop("_start_ms"), end_ms))
        self.spans.append(rec)

    def unwind(self, rec: dict | None) -> None:
        """Close every span opened inside ``rec``, then ``rec`` itself;
        a no-op when ``rec`` is not open."""
        if rec is None or all(r is not rec for r in self._stack):
            return
        while self._stack[-1] is not rec:
            self.end(self._stack[-1])
        self.end(rec)

    @contextmanager
    def paused(self):
        """Record nothing inside: work the benchmark adds only to learn
        a count stays out of every span."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextmanager
    def span(self, layer: str, **attrs):
        rec = self.begin(layer, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    def _group_metrics(self, group: str, start_ms: float,
                       end_ms: float) -> dict:
        """Sum the stage metrics of the group's jobs; ``jobs_s`` is the
        part of the span's interval covered by at least one job."""
        self._bus.waitUntilEmpty()
        out = {v: 0 for _, v in _STAGE_FIELDS}
        out.update(jobs=0, stages=0, python_stage_ms=0,
                   python_shuffle_read_bytes=0)
        intervals = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                hi = done.get().getTime() if done.isDefined() else end_ms
                intervals.append((max(sub.get().getTime(), start_ms),
                                  min(hi, end_ms)))
            ids = job.stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage: no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                vals = {v: int(getattr(st, g)()) for g, v in _STAGE_FIELDS}
                for k, v in vals.items():
                    out[k] += v
                if self._python_stage(sid):
                    out["python_stage_ms"] += vals["executor_run_ms"]
                    out["python_shuffle_read_bytes"] += \
                        vals["shuffle_read_bytes"]
        out["jobs_s"] = _covered(intervals) / 1000.0
        return out

    def _python_stage(self, sid: int) -> bool:
        todo = [self._store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            if c.name().strip() in PYTHON_NODES:
                return True
            it = c.childClusters().iterator()
            while it.hasNext():
                todo.append(it.next())
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _covered(intervals: list) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants() -> list[int]:
    """Every live process below this one: the JVM and its workers."""
    out, todo = [], _children(os.getpid())
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once in a sum, unlike RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return 0
    fields = s[s.rfind(")") + 2:].split()
    return int(fields[11]) + int(fields[12])  # utime + stime


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the live
    Python workers."""
    ticks = _cpu_ticks(os.getpid()) + sum(_cpu_ticks(p)
                                          for p in descendants())
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple:
    """(total, idle, steal) jiffies of the host since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7]


class MemorySampler:
    """Peak summed memory (PSS) of this process's descendants (the Spark
    JVM and the Python workers it forks), sampled from /proc while open,
    and the host's idle and stolen CPU share over the same interval."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.idle_share = self.steal_share = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._cpu0 = host_cpu()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self.sample())
        total, idle, steal = (b - a for a, b in zip(self._cpu0, host_cpu()))
        self.idle_share = idle / max(total, 1)
        self.steal_share = steal / max(total, 1)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self.sample())

    @staticmethod
    def sample() -> int:
        return sum(_pss_bytes(p) for p in descendants())
