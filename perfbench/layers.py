"""Per-layer measurement taken from outside the program: timed calls into
module functions, the process tree in /proc, Spark's event log, and
single-thread kernel probes."""

from __future__ import annotations

import json
import os
import signal
import statistics
import time
from collections import defaultdict
from pathlib import Path

import numpy as np

from geotiff_scalable_analysis_pipeline_spark.formats import tiff
from geotiff_scalable_analysis_pipeline_spark.functions import geometry
from geotiff_scalable_analysis_pipeline_spark.operators import chunking

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Times calls made through :meth:`call`, summed per name for the
    current job. Disabled, it only forwards the call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.current: dict[str, float] = {}

    def call(self, name, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.current[name] = self.current.get(name, 0.0) + time.perf_counter() - t0


# ---------------------------------------------------------------------------
# process tree (driver, JVM, Python workers)
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids[ppid].append(int(d))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process and every descendant, including
    reaped children's (cutime/cstime)."""
    total = 0
    for p in [os.getpid(), *descendants()]:
        try:
            f = Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for p in [os.getpid(), *descendants()]:
        try:
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def stop_descendants(timeout: float = 20.0) -> None:
    """Terminate whatever this process started and wait until it is gone."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout / 2
        while time.monotonic() < deadline:
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if Path(f"/proc/{p}").exists()
                    and "\nState:\tZ" not in _status(p)]
            if not pids:
                return
            time.sleep(0.05)


def _status(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/status").read_text()
    except OSError:
        return ""


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# SQL metrics of the Python runners (PythonSQLMetrics), per task
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _union_s(spans: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000


def read_event_log(path: Path, walls: dict[str, float]) -> dict[str, list[float]]:
    """Per-layer Spark metrics for each job group in ``walls`` (group →
    driver-measured wall in s). Returns name → one value per group."""
    job_group, job_span, stage_group = {}, {}, {}
    stage_span: dict[int, tuple[int, int]] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g in walls:
                    job_group[ev["Job ID"]] = g
                    job_span[ev["Job ID"]] = [ev["Submission Time"], None]
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, g)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_group and "Submission Time" in info:
                    stage_span[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                tasks[stage_group[ev["Stage ID"]]].append(ev)

    out: dict[str, list[float]] = defaultdict(list)
    for g, wall in walls.items():
        jobs = [j for j, jg in job_group.items() if jg == g]
        spans = [tuple(job_span[j]) for j in jobs if job_span[j][1] is not None]
        stages = [s for s, sg in stage_group.items() if sg == g and s in stage_span]
        evs = tasks[g]
        m = defaultdict(float)
        for ev in evs:
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            m["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["result_bytes"] += tm.get("Result Size", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") == _PY_SENT:
                    m["python_bytes_sent"] += int(acc.get("Update") or 0)
                elif acc.get("Name") == _PY_RETURNED:
                    m["python_bytes_returned"] += int(acc.get("Update") or 0)
        m["jobs"] = len(jobs)
        m["stages"] = len(stages)
        m["tasks"] = len(evs)
        m["driver_gap_s"] = wall - _union_s(spans)
        # skew: longest over median task in the stage that ran longest
        if stages:
            slow = max(stages, key=lambda s: stage_span[s][1] - stage_span[s][0])
            d = [e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
                 for e in evs if e["Stage ID"] == slow]
            m["straggler_ratio"] = max(d) / max(statistics.median(d), 1) if d else 1.0
        for k, v in m.items():
            out[f"spark.{k}"].append(float(v))
    return out


# ---------------------------------------------------------------------------
# single-thread kernel probes and the CPU canary
# ---------------------------------------------------------------------------


def _rate(fn, work: float, min_s: float = 0.15) -> float:
    """work units per second of ``fn``, repeated for at least ``min_s``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n * work / dt


def kernel_probes(payloads: list[tuple[bytes, int]], px, py, rings, chunk: dict) -> dict[str, float]:
    """Throughput of the numpy kernels under the Spark UDFs, on one thread,
    over a fixed sample of the workload's inputs: (payload, baseline) tiles
    and tile centres against the polygon rings."""
    bufs = [b for b, _ in payloads]
    prof = tiff.read_profile(bufs[0])
    mpx = len(bufs) * prof.bands * prof.height * prof.width / 1e6
    arrays = [tiff.decode(b)[0] for b in bufs]
    side = chunk["zor"] + 2 * chunk["halo"]
    win = min(side, prof.height, prof.width)

    def windows():
        for b in bufs:
            for r in range(0, prof.height - win + 1, chunk["zor"]):
                for c in range(0, prof.width - win + 1, chunk["zor"]):
                    tiff.decode_window(b, r, c, win, win)

    n_win = len(bufs) * len(range(0, prof.height - win + 1, chunk["zor"])) * len(
        range(0, prof.width - win + 1, chunk["zor"]))

    def chunk_pass() -> int:
        zor_px = 0
        for b, base in payloads:
            for _, _, zorp in chunking.iter_chunk_probs(b, base, **chunk):
                zor_px += zorp.size
        return zor_px

    # decoded pixels per ZoR pixel: one pass with the window decoder wrapped
    decoded = 0
    real = tiff.decode_window

    def counting(buf, r0, c0, h, w):
        nonlocal decoded
        out = real(buf, r0, c0, h, w)
        decoded += out.size
        return out

    tiff.decode_window = counting
    try:
        zor_px = chunk_pass()
    finally:
        tiff.decode_window = real

    n_pip = len(px) * len(rings)
    return {
        "tiff.decode.mpx_per_s": _rate(lambda: [tiff.decode(b) for b in bufs], mpx),
        "tiff.decode_window.mpx_per_s": _rate(windows, n_win * prof.bands * win * win / 1e6),
        "tiff.encode.mpx_per_s": _rate(lambda: [tiff.encode(a) for a in arrays], mpx),
        "chunking.iter_chunk_probs.ms_per_tile": 1e3 / _rate(chunk_pass, len(payloads)),
        "chunking.decoded_px_per_zor_px": decoded / zor_px,
        "geometry.points_in_polygon.mpts_per_s": _rate(
            lambda: [geometry.points_in_polygon(px, py, r) for r in rings], n_pip / 1e6),
    }


def canary_ms() -> float:
    """Fixed single-thread CPU work; its time shows how busy the host is."""
    t0 = time.perf_counter()
    x = 0
    for i in range(400_000):
        x += i * i % 7
    np.sort(np.arange(400_000, dtype=np.int64)[::-1] * 2654435761 % 1000003)
    return (time.perf_counter() - t0) * 1e3
