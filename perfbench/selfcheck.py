#!/usr/bin/env python3
"""Tiny-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload once at its smallest size (``--tiny``: the query suite
on the sf0.001 tables; the ETL always runs at 300 patients) and asserts that the untraced result line
carries every end-to-end and named metric with its unit, that the outputs
checked correct and that ``error_rate`` is 0. Exits 1 on the first
workload that does not.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, NAMED  # noqa: E402


def check(workload: str) -> list[str]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--tiny"],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        return [f"exit code {proc.returncode}", *proc.stderr.splitlines()[-5:]]
    result = json.loads(lines[-1])
    metrics = result["metrics"]
    problems = [f"{k}: missing or unit is not {u!r}"
                for k, u in {**END_TO_END, **NAMED[workload]}.items()
                if metrics.get(k, {}).get("unit") != u
                or not isinstance(metrics[k].get("value"), (int, float))]
    if not result["correct"] or result["failed"]:
        problems.append(f"failed {result['failed']} of {result['attempted']} operations")
    if metrics.get("error_rate", {}).get("value") != 0:
        problems.append(f"error_rate {metrics.get('error_rate')}")
    return problems


def main() -> int:
    status = 0
    for workload in NAMED:
        problems = check(workload)
        print(f"{workload}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
        status |= bool(problems)
    return status


if __name__ == "__main__":
    sys.exit(main())
