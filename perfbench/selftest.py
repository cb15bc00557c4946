"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Drives both workloads end to end (untraced and traced) on a few small
shards and checks that

- a clean run is correct and prints every metric ``BENCHMARK.json``
  lists for its mode, each a finite number;
- a deliberately corrupted gold row and a corrupted dashboard result are
  each caught: the run reports a failed operation and exits non-zero;
- in a directory holding only ``BENCHMARK.json`` and the benchmark's
  files, the command exits non-zero without printing a result.

Takes about six minutes on four cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *, inject: str | None = None, cwd: str = ROOT):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cmd = json.load(fh)["command"]
    cmd = cmd + ["--workload", workload, "--seed", "7", "--seconds", "4",
                 "--trace", str(trace), "--scale", "tiny"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return p.returncode, result, p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    def metrics_ok(result, trace: int) -> bool:
        listed = bench["per_layer" if trace else "end_to_end"]
        got = result["metrics"]
        return set(got) == {m["name"] for m in listed} and all(
            isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
            for v in got.values()
        )

    for workload, trace in (("dashboard", 0), ("dashboard", 1), ("drilldown", 0),
                            ("drilldown", 1)):
        rc, res, err = run(workload, trace)
        label = f"{workload} trace={trace}"
        expect(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
               f"{label}: clean run is correct")
        if res is not None:
            expect(metrics_ok(res, trace), f"{label}: prints every listed metric")
        if rc != 0:
            print(err[-3000:], file=sys.stderr)

    for workload, trace, inject in (("drilldown", 0, "gold"),
                                    ("dashboard", 0, "dashboard")):
        rc, res, _err = run(workload, trace, inject=inject)
        expect(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{workload}: corrupted {inject} output is a failed operation")

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, res, _err = run("dashboard", 0, cwd=bare)
        expect(rc != 0 and res is None, "bare directory: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{'FAILED' if failures else 'OK'}: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
