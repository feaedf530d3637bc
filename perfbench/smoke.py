"""Self-test of the benchmark at tiny size (about five minutes).

    python3 perfbench/smoke.py

Checks that every metric named in BENCHMARK.json is printed with its unit
on the JSON result line, that the stderr table names every end-to-end
metric, that every workload passes its output check, that a corrupted
reference digest makes the jobs fail, and that a directory holding only the
benchmark (no program) exits non-zero without a result line.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seed", "7", "--seconds", "1", "--scale", "0.05"]


def bench(cwd: Path, *args: str) -> tuple[int, list[str], str]:
    p = subprocess.run(
        [*SPEC["command"], *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def result(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    rc, out, err = bench(ROOT, "--workload", workload, "--trace", str(trace), *TINY, *extra)
    assert rc == 0, f"{workload} trace={trace} exited {rc}:\n{err[-3000:]}"
    line = json.loads(out[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    assert isinstance(line["attempted"], int) and line["attempted"] >= 1
    assert isinstance(line["failed"], int)
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = line["metrics"]
    assert set(got) == {m["name"] for m in want}, sorted(set(got) ^ {m["name"] for m in want})
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (m["name"], v["unit"], m["unit"])
        assert isinstance(v["value"], (int, float)), m["name"]
    return line, err


def table(err: str) -> dict[str, tuple[float, str]]:
    """name → (value, unit) from the stderr metric table."""
    rows = [r.split() for r in err.splitlines() if r.startswith("#   ")]
    return {r[1]: (float(r[2]), r[3]) for r in rows}


# per-layer metrics that only the named workload exercises; they must not
# read 0 there
OWN_LAYERS = {
    "geojoin": ["spans.media_spans.call_s", "skew.salted_join.call_s", "geojoin.action_s",
                "pip_join.match_ratio", "skew.materialize_plan.call_s"],
    "raster": ["raster.tile_stats_and_histogram.call_s", "chunking.chunk_class_stats.call_s",
               "raster.action_s", "chunking.chunk_prob_payloads.call_s", "catalog.commit.call_s",
               "lineage.run_resumable.call_s", "catalog.files_written", "catalog.bytes_written"],
}


def main() -> int:
    e2e_names = [m["name"] for m in SPEC["end_to_end"]]
    for w in [w["name"] for w in SPEC["workloads"]]:
        line, err = result(w, 1)
        assert line["correct"] and line["failed"] == 0, f"{w}: {line['failed']} failed"
        missing = [n for n in e2e_names if n not in table(err)]
        assert not missing, f"{w}: stderr table lacks {missing}"
        zero = [n for n in OWN_LAYERS[w] if not line["metrics"][n]["value"]]
        assert not zero, f"{w}: own layers read 0: {zero}"
        print(f"ok  {w} traced: {len(line['metrics'])} per-layer metrics, "
              f"{line['attempted']} jobs checked")

    line, err = result("geojoin", 0)
    assert line["correct"] and line["failed"] == 0
    zero = [n for n, v in line["metrics"].items() if not v["value"]]
    assert not zero, f"end-to-end metrics read 0: {zero}"
    print(f"ok  geojoin plain: {sorted(line['metrics'])}")

    line, err = result("raster", 0, "--corrupt-expected")
    assert line["failed"] == line["attempted"] and not line["correct"], line
    assert "failed_ratio=1 " in err, err[-2000:]
    print("ok  corrupted reference digest: failed_ratio = 1")

    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, _ = bench(bare, "--workload", "geojoin", "--trace", "0", *TINY)
    assert rc != 0 and not any(o.startswith("{") for o in out), (rc, out)
    shutil.rmtree(bare)
    print(f"ok  without the program: exit {rc}, no result line")
    return 0


if __name__ == "__main__":
    sys.exit(main())
