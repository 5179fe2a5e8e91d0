"""The repository benchmark: closed-loop workloads of lucene_solr_spark
on ``local[nproc]``, each checked for correct output.

    python3 perfbench/run.py                      # every workload, both modes
    python3 perfbench/run.py --workload update --seed 1 --trace 0

Run it from the root of a checkout: the package is imported from
``./lucene_solr_spark`` and nothing else. Every file a run makes,
Spark's scratch space and the temp dir included, lives under
``./.perfbench/run-*`` and is removed at the end.

One workload per call: the run's inputs come from ``--seed`` and its
timed loop lasts ``--seconds`` of summed operation latency (default:
``run_seconds`` of BENCHMARK.json, so both sides of a comparison run
equally long). With ``--trace 0`` the last stdout line carries the
end-to-end metrics. With ``--trace 1`` every call into a layer runs in
a span with its own Spark job group, and the last line carries the
per-layer metrics aggregated from the spans (see ``layers.py``); the
spans themselves go to ``.perfbench/spans-*.jsonl``. The line before
the last is the full run record: input properties, the seed, the
workload's purpose, latency summaries and every output check.

Without ``--workload`` the command runs every workload untraced and
then traced, in fresh processes, prints each metric with its unit and
the tracing overhead (traced minus untraced end-to-end figures), and
ends with one JSON line holding all of it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    from pyspark.sql import SparkSession
    n = cores()
    tmp = os.path.join(work, "tmp")
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                     # a heap committed and touched up front keeps GC and
                     # memory independent of when the heap would have grown
                     "-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it forked
    (the Python workers) has exited."""
    from pyspark import SparkContext

    from spans import descendants
    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                jvm.kill()
                jvm.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = procs
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rfind(")") + 2] != "Z"


def run_seconds() -> float:
    """``run_seconds`` of BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return float(json.load(f)["run_seconds"])


def spawn(name: str, seed: int, seconds: float, trace: int):
    """One run in a fresh process: (record, result), or None if it
    failed."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode or len(lines) < 2:
        print(f"perfbench: {name} seed={seed} trace={trace} failed "
              f"(exit {p.returncode})", file=sys.stderr)
        return None
    return json.loads(lines[-2]), json.loads(lines[-1])


def overhead_of(untraced: dict, traced: dict) -> dict:
    """Tracing overhead: traced minus untraced end-to-end figures."""
    return {k: traced["end_to_end"][k] - v
            for k, v in untraced["end_to_end"].items()}


def run_all(args) -> int:
    """Every workload untraced, then traced, each in a fresh process."""
    import workloads
    summary = {}
    for name in workloads.WORKLOADS:
        runs = [spawn(name, args.seed, args.seconds, t) for t in (0, 1)]
        if None in runs:
            return 1
        (rec0, res0), (rec1, res1) = runs
        print(f"== {name}: {rec0['why']}")
        print(f"   correct={res0['correct'] and res1['correct']} "
              f"attempted={res0['attempted']} failed={res0['failed']}")
        for key, m in {**res0["metrics"], **res1["metrics"]}.items():
            print(f"   {key:<52} {m['value']:>14.6g} {m['unit']}")
        overhead = overhead_of(rec0, rec1)
        for key, v in overhead.items():
            print(f"   tracing overhead {key:<35} {v:>+14.6g}")
        summary[name] = {"untraced": res0, "traced": res1,
                         "named": rec0["named"],
                         "tracing_overhead": overhead}
    print(json.dumps(summary))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lucene_solr_spark",
                                       "__init__.py")):
        print("perfbench: run from a checkout root that holds "
              "lucene_solr_spark/", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = run_seconds()
    sys.path[:0] = [HERE, ROOT]
    import layers
    import workloads
    from spans import Tracer
    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from all, {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers inherit this environment through the JVM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts first keeps its perf
    # data and temp files in the run directory too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tempfile.tempdir = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, bool(args.trace))
            run = workloads.WORKLOADS[args.workload](
                spark, tracer, work, args.seed, args.seconds)
            run.setup["session_s"] = session_s
            with workloads.instrument(tracer):
                run.execute()
            if tracer.enabled:
                tracer.dump(os.path.join(
                    base, f"spans-{args.workload}-{args.seed}.jsonl"))
        finally:
            stop_session(spark)
    except Exception:  # noqa: BLE001 - report, print no result, exit 1
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = run.record()
    metrics = (layers.per_layer(tracer.spans, run) if args.trace
               else run.end_to_end())
    record.update(workload=args.workload, seed=args.seed,
                  seconds=args.seconds, cores=cores(), trace=args.trace)
    print(json.dumps(record, default=float))
    print(json.dumps({"correct": run.failed == 0 and run.checked,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
