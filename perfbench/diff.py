#!/usr/bin/env python3
"""Structural diff of two traced runs.

    python3 perfbench/diff.py BEFORE.json AFTER.json

Each file is the detail record a traced run writes with ``--out``.  The
diff lists, per span, the Spark jobs, tasks and shuffle-write bytes that
changed between the two runs.  With one closed-loop client these counts
repeat exactly for the same workload and seed, so any line printed is a
change in what the code does, not host noise.  Exits 1 when something
changed, 0 when the structure is identical.
"""

from __future__ import annotations

import json
import sys

UNITS = ("count", "jobs", "tasks", "shuffle_write_bytes")


def structural_diff(before: dict, after: dict) -> list[str]:
    """One line per (span, unit) whose value differs."""
    a, b = before.get("structure", {}), after.get("structure", {})
    lines = []
    for span in sorted(set(a) | set(b)):
        for unit in UNITS:
            x = a.get(span, {}).get(unit, 0)
            y = b.get(span, {}).get(unit, 0)
            if x != y:
                lines.append(f"{span}.{unit}: {x:g} -> {y:g} ({y - x:+g})")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as fh:
            records.append(json.load(fh))
    for key in ("workload", "seed", "seconds"):
        if records[0].get(key) != records[1].get(key):
            print(f"note: runs differ in {key}: {records[0].get(key)} vs {records[1].get(key)}")
    lines = structural_diff(*records)
    print("\n".join(lines) if lines else "structure identical")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
