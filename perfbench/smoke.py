#!/usr/bin/env python3
"""Self-test of the benchmark at minimum input size.

    python3 perfbench/smoke.py

For every workload BENCHMARK.json lists, and for the hand-run
``label_eval``, it runs ``run.py --smoke`` traced and untraced and
requires each metric BENCHMARK.json names, with its unit, and passing
output checks.  It then requires that a ``--corrupt`` run (every expected
value shifted) reports a failure, and that ``run.py`` exits non-zero without
a result in a directory that holds only BENCHMARK.json and perfbench/.
Prints one line per case; exits 1 if any case fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "3",
                        "--seconds", "1", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and "correct" not in result:
        result = None
    return p.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = 0

    def report(case: str, problem: str | None) -> None:
        nonlocal failures
        failures += problem is not None
        print(f"{'FAIL' if problem else 'ok'}  {case}"
              + (f": {problem}" if problem else ""), flush=True)

    for wl in [w["name"] for w in spec["workloads"]] + ["label_eval"]:
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            case = f"{wl} --trace {trace}"
            code, res = bench("--workload", wl, "--trace", trace, "--smoke")
            if code != 0 or res is None:
                report(case, f"exit {code}, no result")
                continue
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problem = None
            if got != want:
                problem = f"metrics {sorted(set(got) ^ set(want))} differ"
            elif not (res["correct"] and res["failed"] == 0
                      and res["attempted"] >= 1):
                problem = f"checks failed: {res}"
            report(case, problem)

    code, res = bench("--workload", "hot_cell_join", "--smoke", "--corrupt")
    report("corrupted expected values", None if (
        code == 0 and res is not None and not res["correct"]
        and res["failed"] == res["attempted"]) else f"exit {code}: {res}")

    bare = os.path.join(ROOT, ".perfbench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res = bench("--workload", "tile_mask", cwd=bare)
    shutil.rmtree(bare)
    report("benchmark files only", None if code != 0 and res is None
           else f"exit {code}: {res}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
