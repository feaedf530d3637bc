"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload {geojoin,raster} --seed N \
        --seconds S --trace {0,1} [--scale X]

Run from the repository root. The run generates the seed's inputs (cached
per seed under ``.perfbench_work/``), starts a Spark session, runs the
workload's untimed warm jobs, then runs jobs back to back for ``--seconds``
and at least the workload's count of timed jobs: one driver process, one
job at a time, ``nproc - 1`` task slots. Every job's output is checked
against a reference computed without Spark.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` splits
``--seconds`` over two sessions started one after the other, the second
with Spark's event log on, and prints the per-layer metrics, including the
traced/untraced wall ratio. Either way the last stdout line is one JSON
object; a table of every metric goes to stderr and the full record to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
# metric names and units of the result line, in BENCHMARK.json's order;
# a per-layer metric of a layer the workload does not call reads 0
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def host_env() -> None:
    """Fit Spark to this host and keep every file it writes under WORK.

    One core is left to the driver, the JIT compiler and the collector:
    measured on 4 cores, geojoin's warm jobs took 2.8-3.7 s at 4 task
    slots and 2.4-2.9 s at 3, as 4 slots raced the JVM's own threads.
    """
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = max(1024, min(24 * 1024, mem_mb // 4))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_XMS=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        SPARK_EXTRA_JAVA_OPTS=java_opts,
        SPARK_LAUNCHER_OPTS=java_opts,
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = str(tmp)


def start_spark(traced: bool, extra_conf: dict):
    from geotiff_scalable_analysis_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **extra_conf,
    }
    if traced:
        log_dir = WORK / "eventlog"
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, so the next session starts cold."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Run:
    """Jobs of one run, with their pass/fail tally, grouped by session."""

    def __init__(self, wl, expected):
        from layers import Tracer

        self.wl, self.expected = wl, expected
        self.attempted = self.failed = 0
        self.sessions: list[dict] = []
        self.tracer = Tracer(False)

    def job(self, spark, group: str) -> dict:
        from layers import tree_cpu_s

        job_dir = WORK / "jobs" / group
        shutil.rmtree(job_dir, ignore_errors=True)
        job_dir.mkdir(parents=True)
        spark.sparkContext.setJobGroup(group, group)
        self.tracer.current = {}
        rec = {"group": group, "ok": False, "units": 0.0}
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            rec["units"], observe = self.wl.job(spark, self.tracer, job_dir)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            got = observe()
            rec["out_bytes"], rec["out_files"] = got.out_bytes, got.out_files
            rec["ok"] = got.matches(self.expected)
            if not rec["ok"]:
                print(f"perfbench: {group}: output differs from the reference", file=sys.stderr)
        except Exception:  # a failed job is counted and the loop goes on
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            traceback.print_exc()
        rec["calls"] = dict(self.tracer.current)
        shutil.rmtree(job_dir, ignore_errors=True)  # disk use stays flat
        self.attempted += 1
        self.failed += not rec["ok"]
        return rec

    def session(self, idx: int, traced: bool, budget_s: float, min_jobs: int) -> dict:
        from layers import Tracer, read_event_log, tree_peak_rss_mb

        self.tracer = Tracer(traced)
        t0 = time.perf_counter()
        spark = start_spark(traced, self.wl.extra_conf)
        s = {"traced": traced, "get_spark_s": time.perf_counter() - t0}
        try:
            s["warm"] = [self.job(spark, f"s{idx}-warm{i}") for i in range(self.wl.warm_jobs)]
            s["setup_s"] = time.perf_counter() - t0
            jobs, end = [], time.perf_counter() + budget_s
            while len(jobs) < min_jobs or time.perf_counter() < end:
                jobs.append(self.job(spark, f"s{idx}-job{len(jobs)}"))
            s["jobs"] = jobs
            if traced:
                s["layer_counts"] = self.wl.layer_counts(spark)
            s["peak_rss_mb"] = tree_peak_rss_mb()
        finally:
            stop_spark(spark)
        if traced:
            (log,) = (WORK / "eventlog").iterdir()
            s["spark"] = read_event_log(log, {j["group"]: j["wall_s"] for j in s["jobs"]})
        self.sessions.append(s)
        return s


def _median(values):
    return statistics.median(values) if values else 0.0


def summarize(run: Run, corpus_s: float, probes: dict) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric values of a finished run."""
    plain = [s for s in run.sessions if not s["traced"]]
    jobs = [j for s in plain for j in s["jobs"]]
    wall = _median([j["wall_s"] for j in jobs])
    e2e = {
        "units_per_s": max(j["units"] for j in jobs) / wall if wall else 0.0,
        "wall_s": wall,
        "cpu_s": _median([j["cpu_s"] for j in jobs]),
        "peak_rss_mb": max(s["peak_rss_mb"] for s in run.sessions),
        "setup_s": _median([s["setup_s"] for s in plain]),
        "output_bytes_per_input_byte":
            _median([j["out_bytes"] for j in jobs if "out_bytes" in j]) / run.wl.input_bytes,
    }

    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer.update({
        "session.get_spark_s": _median([s["get_spark_s"] for s in run.sessions]),
        "datagen.corpus_s": corpus_s,
        **probes,
    })
    for s in run.sessions:
        if not s["traced"]:
            continue
        tj = s["jobs"]
        names = sorted({n for j in tj for n in j["calls"]})
        for n in names:
            key = n if n.endswith("action_s") else f"{n}.call_s"
            layer[key] = _median([j["calls"].get(n, 0.0) for j in tj])
        for k, v in s["spark"].items():
            layer[k] = _median(v)
        layer.update(s["layer_counts"])
        if any(j.get("out_files") for j in tj):
            layer["catalog.files_written"] = _median([j.get("out_files", 0) for j in tj])
            layer["catalog.bytes_written"] = _median([j.get("out_bytes", 0) for j in tj])
        layer["trace.overhead_ratio"] = _median([j["wall_s"] for j in tj]) / wall
    unknown = sorted(set(layer) - set(PER_LAYER))
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    return e2e, layer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="flip the reference digest, so every job must fail the check")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import geotiff_scalable_analysis_pipeline_spark as program
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if ROOT not in Path(program.__file__).resolve().parents:
        print(f"perfbench: the program must come from {ROOT}, not {program.__file__}",
              file=sys.stderr)
        return 2
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    host_env()
    canary = [layers.canary_ms()]
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed, args.scale)
    corpus_s = wl.prepare()
    expected = wl.expected()
    if args.corrupt_expected:
        expected.digest = expected.digest[::-1]

    run = Run(wl, expected)
    sessions = [False, True] if args.trace else [False]
    try:
        for i, traced in enumerate(sessions):
            # a traced run times one job per session, as its two cold
            # set-ups already double its length
            run.session(i, traced, args.seconds / len(sessions), 1 if args.trace else wl.timed_jobs)
    finally:
        layers.stop_descendants()
    probes = layers.kernel_probes(*workloads.probe_sample(args.seed, args.scale), workloads.CHUNK) \
        if args.trace else {}
    canary.append(layers.canary_ms())
    e2e, layer = summarize(run, corpus_s, probes)

    n_jobs = sum(len(s["jobs"]) for s in run.sessions if not s["traced"])
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"jobs={n_jobs} attempted={run.attempted} failed={run.failed} "
          f"failed_ratio={run.failed / run.attempted:g} "
          f"unit={wl.unit} canary_ms={canary}", file=sys.stderr)
    for name, value in [*e2e.items(), *(layer.items() if args.trace else [])]:
        print(f"#   {name:42s} {value:16.6f} {UNITS[name]}", file=sys.stderr)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "unit": wl.unit, "canary_ms": canary,
        "attempted": run.attempted, "failed": run.failed,
        "end_to_end": e2e, "per_layer": layer, "sessions": run.sessions,
    }
    out = WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=str))

    names, values = (PER_LAYER, layer) if args.trace else (END_TO_END, e2e)
    metrics = {n: {"value": values[n], "unit": UNITS[n]} for n in names}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
