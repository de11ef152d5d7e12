"""Compare the exact counts of two traced runs of one workload and seed.

    python3 perfbench/counts.py .perfbench_out/trace-A.json .perfbench_out/trace-B.json

Spans are matched by (operation, name, position); a run's window holds a
time-bounded number of operations, so only the operations both runs reached
are compared. Prints the mismatches and exits non-zero if there are any.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("jobs", "tasks", "failed_tasks", "rows", "merged")


def keyed(path: str) -> dict:
    with open(path) as f:
        spans = json.load(f)
    out, seen = {}, {}
    for s in spans:
        k = (s["op"], s["name"])
        seen[k] = seen.get(k, 0) + 1
        out[k + (seen[k],)] = {c: s[c] for c in COUNTS if c in s}
    return out


def main() -> int:
    a, b = keyed(sys.argv[1]), keyed(sys.argv[2])
    common = sorted(set(a) & set(b), key=str)
    bad = [(k, a[k], b[k]) for k in common if a[k] != b[k]]
    for k, x, y in bad:
        print(f"{k}: {x} != {y}")
    print(json.dumps({"spans_compared": len(common), "mismatches": len(bad)}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
