#!/usr/bin/env python3
"""Self-tests of the benchmark itself (they run the engine at sf0.001).

    python3 perfbench/selftest.py

From the repository root.  Checks that:

* a run whose expected checksum of one query is flipped reports failed
  operations;
* an ``etl`` run whose landing file is changed after its expected state
  was computed reports failed operations;
* every workload, untraced and traced, prints every metric of
  ``BENCHMARK.json`` with its unit and no failed operation;
* without the engine package (only the benchmark's files) a run exits
  non-zero and prints no result.

Exits 1 on the first failed check.  Takes about 5 minutes on 4 CPUs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SMOKE = ["--scale", "0.001", "--seconds", "1", "--seed", "3"]


def bench(*args: str, cwd: str | None = None) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd or os.getcwd(), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc.returncode, None


def check(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }

    _, res = bench("--workload", "dashboard", *SMOKE, "--flip-expected", "a1_scorecard")
    check(res is not None and res["failed"] > 0 and not res["correct"],
          "a flipped expected checksum fails its operation")
    _, res = bench("--workload", "etl", *SMOKE, "--corrupt-landing")
    check(res is not None and res["failed"] > 0 and not res["correct"],
          "a landed doc changed after its expected state fails the etl")

    declared = [w["name"] for w in spec["workloads"]]
    for name in declared + [w for w in ("dashboard", "etl", "curation") if w not in declared]:
        for trace in (0, 1):
            code, res = bench("--workload", name, *SMOKE, "--trace", str(trace))
            check(code == 0 and res is not None and res["failed"] == 0
                  and res["attempted"] >= 1,
                  f"{name} trace={trace}: runs with no failed operation")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == units[trace],
                  f"{name} trace={trace}: prints every metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{name} trace={trace}: every value is a number")

    bare = os.path.join(os.getcwd(), ".perfbench_work", f"bare-{os.getpid()}")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(os.getcwd(), "BENCHMARK.json"), bare)
    try:
        code, res = bench("--workload", "dashboard", *SMOKE, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and res is None, "without the engine package: non-zero exit, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
