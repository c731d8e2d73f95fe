#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 and the smallest load.

    python3 perfbench/smoke.py            # from the repository root

For every workload it checks that
- an untraced run prints every end-to-end metric of BENCHMARK.json with its
  unit and finishes with zero failed operations;
- a traced run with one deliberately corrupted output prints every
  per-layer metric with its unit and counts that output as a failure;
and that the benchmark exits non-zero, without a result line, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Runs one benchmark process at a time. Exit code 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *args: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    small = ["--seed", "1", "--seconds", "2", "--cores", "2",
             "--data", os.path.join(HERE, "data", "sf0.001")]
    problems = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in spec["workloads"]:
        name = w["name"]
        for trace, corrupt, key in (("0", "0", "end_to_end"),
                                    ("1", "1", "per_layer")):
            rc, res = _run(ROOT, "--workload", name, "--trace", trace,
                           "--corrupt", corrupt, *small)
            tag = f"{name} trace={trace} corrupt={corrupt}"
            check(rc == 0 and res is not None, f"{tag}: exit 0 with a result")
            if res is None:
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result keys")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            check(got == want, f"{tag}: every {key} metric with its unit")
            check(res["attempted"] >= 1, f"{tag}: attempted >= 1")
            if corrupt == "1":
                check(res["failed"] >= 1 and not res["correct"],
                      f"{tag}: corrupted output counted as failed")
            else:
                check(res["failed"] == 0 and res["correct"],
                      f"{tag}: zero failed operations")
                check(all(v["value"] > 0 for v in res["metrics"].values()),
                      f"{tag}: every end-to-end metric non-zero")

    os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "_out")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_out", "_work",
                                                      "__pycache__"))
        rc, res = _run(bare, "--workload", spec["workloads"][0]["name"],
                       "--trace", "0", *small)
        check(rc != 0 and res is None,
              "benchmark alone (no package) exits non-zero without a result")

    print(f"{'FAILED' if problems else 'PASSED'}: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
