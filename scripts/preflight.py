#!/usr/bin/env python
"""Snapshot-commit preflight — the un-fumble-able gate (VERDICT r7 #2).

Round 7 landed three well-designed ops with none of their registration
paperwork and turned HEAD red; the guard tests caught it, the commit
discipline didn't. This script IS the discipline: run it as the LAST
action before any end-of-round snapshot commit. It refuses a dirty
exit if any of the registration/scale/robustness contracts fail:

  * tests/test_coverage.py   — SURVEY §2 ↔ registry bijection, coverage
                               note count, _PRIORITY placement,
                               OPERATORS.md sync, rotation staleness
  * tests/test_plan_lint.py  — no unallowlisted cartesian/nested-loop,
                               no row-Python-UDF hot paths, no
                               unbounded global windows
  * tests/test_empty_inputs.py — every op survives an empty table
  * tests/test_slowlog.py structural pins (AST only, no Spark) — one
                               record path, one class-event stage

Usage:  python scripts/preflight.py        (exit 0 = safe to commit)
        python scripts/preflight.py --full (also run the whole suite)
"""

from __future__ import annotations

import os
import subprocess
import sys

GATES = [
    "tests/test_coverage.py",
    "tests/test_plan_lint.py",
    "tests/test_empty_inputs.py",
    "tests/test_slowlog.py::test_one_record_path_in_package",
    "tests/test_slowlog.py::test_one_class_event_stage_in_package",
]


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    targets = ["tests/"] if "--full" in sys.argv[1:] else GATES
    cmd = [sys.executable, "-m", "pytest", "-q", *targets]
    print(f"preflight: {' '.join(cmd)}", flush=True)
    rc = subprocess.call(cmd, cwd=root)
    if rc != 0:
        print(
            "\npreflight: RED — do NOT snapshot-commit. Fix the "
            "registration/lint failures above first (SURVEY §2 row, "
            "coverage note, _PRIORITY, OPERATORS.md regen, allowlist "
            "justification).",
            flush=True,
        )
    else:
        print("preflight: green — safe to snapshot-commit.", flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
