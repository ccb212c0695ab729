#!/usr/bin/env python3
"""Self-test of the benchmark: one short run per workload and mode.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs ``run.py`` on the
sf0.001 corpus for a single round, once untraced and once traced, and
checks that:

* the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
* every metric ``BENCHMARK.json`` names for that mode is printed, with
  the unit it declares, and no other;
* every metric name uses only ``[A-Za-z0-9_.-]``;
* ``failed_frac`` (failed / attempted) is 0.

It then prints the tracing overhead of each workload (traced minus
untraced ``pass_s``). Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {proc.returncode}\n"
                 f"{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, trace: int, result: dict, declared: list) -> None:
    where = f"{workload} trace={trace}"
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit(f"FAIL {where}: result keys {sorted(result)}")
    if result["attempted"] < 1 or result["failed"] != 0:
        sys.exit(f"FAIL {where}: failed_frac "
                 f"{result['failed']}/{result['attempted']}")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    for name in sorted(set(want) | set(got)):
        if not NAME.match(name):
            sys.exit(f"FAIL {where}: bad metric name {name!r}")
        if want.get(name) != got.get(name):
            sys.exit(f"FAIL {where}: metric {name}: declared unit "
                     f"{want.get(name)!r}, printed {got.get(name)!r}")
    print(f"ok   {where}: {len(got)} metrics, "
          f"{result['attempted']} attempted, 0 failed")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload in (w["name"] for w in bench["workloads"]):
        untraced = run(workload, 0)
        check(workload, 0, untraced, bench["end_to_end"])
        traced = run(workload, 1)
        check(workload, 1, traced, bench["per_layer"])
        overhead = (traced["metrics"]["trace.pass_s"]["value"]
                    - untraced["metrics"]["pass_s"]["value"])
        print(f"     {workload}: tracing overhead {overhead:+.3f} s per pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
