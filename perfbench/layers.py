"""Per-layer metrics from the spans of a traced run.

Layers are the package's modules. Each figure is the median over the
calls the run made (so it does not depend on how many calls fit in the
run), except ``merges`` (a total) and the store figures (at the end of
the run). A layer the workload never calls reads 0.

Span times and Spark figures are a span's own: its wall time minus its
child spans' (``self``), and the stage metrics of the jobs submitted
under its own job group. ``subtree`` sums a span and its descendants.
``driver_s`` is a query's wall time not covered by any of its Spark jobs.
"""

from __future__ import annotations

from workloads import BANDS, LANGS, K, median

SETUP = ("session_s", "datagen_s", "prebuild_s", "warmup_s")
SPARK = ("executor_run_ms", "executor_cpu_ns", "input_bytes",
         "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "tasks", "jobs", "stages", "python_stage_ms",
         "python_shuffle_read_bytes", "jobs_s")


class Spans:
    def __init__(self, spans: list):
        self.spans = spans
        self.kids: dict = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def layer(self, name: str) -> list:
        return [s for s in self.spans if s["layer"] == name]

    def subtree(self, s: dict) -> dict:
        out = {k: s.get(k, 0) for k in SPARK}
        for c in self.kids.get(s["id"], []):
            for k, v in self.subtree(c).items():
                out[k] += v
        return out

    def child(self, s: dict, layer: str) -> list:
        return [c for c in self.kids.get(s["id"], []) if c["layer"] == layer]

    def below(self, s: dict, layer: str) -> list:
        out = []
        for c in self.kids.get(s["id"], []):
            if c["layer"] == layer:
                out.append(c)
            out += self.below(c, layer)
        return out

    def self_wall(self, s: dict) -> float:
        return s["wall_s"] - sum(c["wall_s"]
                                 for c in self.kids.get(s["id"], []))


def _med(xs) -> float:
    return float(median(list(xs)))


def _searcher(sp: Spans, queries: list, prefix: str) -> dict:
    """search.segment_searcher figures over ``queries`` (topk spans)."""
    sub = [sp.subtree(q) for q in queries]
    cands = [c for q in queries
             for c in sp.below(q, "search.segment_searcher.candidates")]
    comps = [c for q in queries
             for c in sp.below(q, "search.segment_searcher.compile")]
    rows = [q["candidate_rows"] for q in queries if "candidate_rows" in q]
    return {
        f"{prefix}query_s": (_med(q["wall_s"] for q in queries), "s"),
        f"{prefix}compile_s": (_med(c["wall_s"] for c in comps), "s"),
        f"{prefix}compile_jobs": (_med(c["jobs"] for c in comps), "count"),
        f"{prefix}scan_input_bytes": (_med(s["input_bytes"] for s in sub),
                                      "bytes"),
        f"{prefix}kernel_stage_s": (
            _med(s["python_stage_ms"] / 1e3 for s in sub), "s"),
        f"{prefix}kernel_shuffle_read_bytes": (
            _med(s["python_shuffle_read_bytes"] for s in sub), "bytes"),
        f"{prefix}candidates_s": (_med(c["wall_s"] for c in cands), "s"),
        f"{prefix}topk_merge_s": (_med(
            q["wall_s"] - sum(c["wall_s"] for c in sp.child(
                q, "search.segment_searcher.candidates"))
            for q in queries), "s"),
        f"{prefix}candidate_rows": (_med(rows), "count"),
        f"{prefix}useful_ratio": (_med(min(K / r, 1.0) for r in rows if r),
                                  "ratio"),
        f"{prefix}query_jobs": (_med(s["jobs"] for s in sub), "count"),
        f"{prefix}query_tasks": (_med(s["tasks"] for s in sub), "count"),
        f"{prefix}driver_s": (_med(
            q["wall_s"] - s["jobs_s"] for q, s in zip(queries, sub)), "s"),
    }


BAND_KEYS = ("query_s", "kernel_stage_s", "candidate_rows", "useful_ratio")


def per_layer(spans: list, run) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    sp = Spans(spans)
    out: dict = {}

    docids = sp.layer("index.docids")
    out["index.docids.wall_s"] = (_med(s["wall_s"] for s in docids), "s")
    out["index.docids.shuffle_write_bytes"] = (
        _med(s["shuffle_write_bytes"] for s in docids), "bytes")
    out["index.docids.jobs"] = (_med(s["jobs"] for s in docids), "count")

    segs = sp.layer("index.segments")
    out["index.segments.wall_s"] = (_med(s["wall_s"] for s in segs), "s")
    out["index.segments.executor_cpu_s"] = (
        _med(s["executor_cpu_ns"] / 1e9 for s in segs), "s")
    for k in ("shuffle_write_bytes", "output_bytes", "spill_bytes"):
        out[f"index.segments.{k}"] = (_med(s[k] for s in segs), "bytes")

    # publish = append_raw minus the docid and segment spans inside it
    appends = sp.layer("index.writer.append")
    out["index.writer.publish_s"] = (
        _med(sp.self_wall(s) for s in appends), "s")
    out["index.writer.publish_jobs"] = (
        _med(s["jobs"] for s in appends), "count")
    out["index.writer.publish_input_bytes"] = (
        _med(s["input_bytes"] for s in appends), "bytes")
    out["index.writer.bytes_written_per_text_byte"] = (_med(
        sp.subtree(s)["output_bytes"] / s["text_bytes"] for s in appends),
        "ratio")
    deletes = sp.layer("index.writer.delete")
    out["index.writer.delete_s"] = (_med(s["wall_s"] for s in deletes), "s")
    out["index.writer.delete_jobs"] = (
        _med(sp.subtree(s)["jobs"] for s in deletes), "count")
    merging = [s for s in sp.layer("index.writer.merge")
               if s.get("merges", 0) > 0]
    out["index.writer.merge_s"] = (_med(s["wall_s"] for s in merging), "s")
    out["index.writer.merge_bytes_rewritten"] = (
        _med(sp.subtree(s)["output_bytes"] for s in merging), "bytes")
    out["index.writer.merges"] = (run.attrs.get("merges", 0), "count")
    out["index.writer.live_segments"] = (
        run.attrs.get("live_segments", 0), "count")
    out["index.writer.store_bytes_per_text_byte"] = (
        run.attrs.get("store_bytes_per_text_byte", 0.0), "ratio")

    builds = sp.layer("index.builder")
    out["index.builder.wall_s"] = (_med(s["wall_s"] for s in builds), "s")
    for k in ("shuffle_write_bytes", "spill_bytes"):
        out[f"index.builder.{k}"] = (_med(s[k] for s in builds), "bytes")

    analysis = sp.layer("analysis")
    for lang in LANGS:
        out[f"analysis.{lang}.wall_s"] = (_med(
            s["wall_s"] for s in analysis if s["lang"] == lang), "s")

    queries = sp.layer("search.segment_searcher.topk")
    pre = "search.segment_searcher."
    out.update({k: v for k, v in _searcher(sp, queries, pre).items()
                if k != pre + "query_s"})
    for band in BANDS:
        picked = _searcher(sp, [q for q in queries if q["band"] == band],
                           f"{pre}{band}.")
        out.update({f"{pre}{band}.{k}": picked[f"{pre}{band}.{k}"]
                    for k in BAND_KEYS})

    eq = sp.layer("search.engine.topk")
    out["search.engine.query_s"] = (_med(s["wall_s"] for s in eq), "s")
    out["search.engine.query_jobs"] = (_med(s["jobs"] for s in eq), "count")
    out["search.engine.shuffle_bytes"] = (
        _med(s["shuffle_write_bytes"] for s in eq), "bytes")
    out["search.engine.driver_s"] = (
        _med(s["wall_s"] - s["jobs_s"] for s in eq), "s")

    for k in SETUP:
        out[f"setup.{k}"] = (float(run.setup.get(k, 0.0)), "s")
    return out
