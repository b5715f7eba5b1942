#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py [engine|lifecycle ...]

Runs each workload (both by default) at ``--scale tiny``, once
untraced and once traced, and fails unless every run succeeds, checks
its outputs, prints every named end-to-end metric with its unit in the
table, and ends with a JSON line holding exactly the metrics that
BENCHMARK.json lists for that mode. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the end-to-end metrics each workload must print, with their units
COMMON = {"setup_s": "s", "peak_rss_mb": "MB", "error_rate": "fraction"}
EXPECTED = {
    "engine": {"cascade_s": "s", "cascade_shp_s": "s",
               "rolled_points_per_s": "rows/s", "invert_l2_s": "s",
               "invert_wls_s": "s", "invert_l1_s": "s"},
    "lifecycle": {"lifecycle_s": "s", "resume_s": "s",
                  "warehouse_bytes_per_input_byte": "ratio", "q52_s": "s"},
}


def run(workload: str, trace: int) -> tuple[str, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                             f"{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return proc.stdout, json.loads(lines[-1])


def check(workload: str, bench: dict) -> list[str]:
    errors = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        text, result = run(workload, trace)
        tag = f"{workload} --trace {trace}"
        if not (result["correct"] and result["failed"] == 0
                and result["attempted"] >= 1):
            errors.append(f"{tag}: not correct: {text[-2000:]}")
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            errors.append(f"{tag}: JSON metrics {sorted(got.items())} "
                          f"!= BENCHMARK.json {sorted(want.items())}")
        for name, unit in {**EXPECTED[workload], **COMMON}.items():
            if not re.search(rf"^{re.escape(name)} +\S+ +\S+ +\d+ +"
                             rf"{re.escape(unit)}$", text, re.MULTILINE):
                errors.append(f"{tag}: table lacks {name} [{unit}]")
        if trace and "-- kernels" not in text:
            errors.append(f"{tag}: no kernel micro-timings")
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for workload in argv or list(EXPECTED):
        found = check(workload, bench)
        print(f"{workload}: {'ok' if not found else 'FAILED'}", flush=True)
        errors += found
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
