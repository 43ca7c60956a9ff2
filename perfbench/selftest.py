"""Self-test of the benchmark harness (about twelve minutes on 4 cores).

Runs every workload on tiny inputs and checks that:

- the last stdout line has exactly ``correct``, ``attempted``,
  ``failed`` and ``metrics``, that every metric of ``BENCHMARK.json``
  (end-to-end with ``--trace 0``, per-layer with ``--trace 1``) is
  printed with its unit, and that every output passed its check;
- a deliberately wrong expected answer (``--plant-wrong``) raises
  ``failed`` and names the request in a ``# FAILED`` line;
- without the program next to it, the benchmark exits non-zero and
  prints no result.

Usage (from the repository root): python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join("perfbench", "run.py")
WORKLOADS = ("mr_olap", "llm_pipeline", "meta_ops")
PLANTED = {"mr_olap": "q6_forecast_revenue", "meta_ops": "file_info"}


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(out)}")
    if not (isinstance(out["attempted"], int) and out["attempted"] >= 1
            and isinstance(out["failed"], int)):
        raise AssertionError(f"attempted/failed {out}")
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines = run(w, trace, "--tiny")
            expect(rc == 0 and bool(lines), f"{w} trace={trace} exits 0")
            if rc != 0 or not lines:
                continue
            out = result(lines)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(got == want, f"{w} trace={trace} prints every {key} "
                                "metric with its unit")
            expect(all(isinstance(v["value"], float)
                       for v in out["metrics"].values()),
                   f"{w} trace={trace} values are numbers")
            expect(out["correct"] and out["failed"] == 0,
                   f"{w} trace={trace} outputs pass their checks "
                   f"({out['failed']}/{out['attempted']} failed)")

    for w, kind in PLANTED.items():
        rc, lines = run(w, 0, "--tiny", "--plant-wrong", kind)
        out = result(lines) if rc == 0 and lines else None
        expect(out is not None and out["failed"] >= 1
               and not out["correct"]
               and any(ln.startswith(f"# FAILED {kind}") for ln in lines),
               f"{w}: a wrong expected answer for {kind} counts as failed")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines = run("meta_ops", 0, cwd=bare)
    expect(rc != 0 and not any(ln.startswith("{") for ln in lines),
           "without the program: non-zero exit and no result line")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
