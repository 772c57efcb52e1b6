"""Determinism self-check: diff two traced profiles.

    python3 perfbench/run.py --workload llm_docs --seed 7 --seconds 4 --trace 1
    python3 perfbench/run.py --workload llm_docs --seed 7 --seconds 4 --trace 1
    python3 perfbench/diff_profiles.py .perfbench/results/llm_docs-seed7-trace1-*.json

Every exact counter (``tracing.EXACT_COUNTERS``: loads, input records,
jobs, stages, tasks, output rows, Python bytes, streaming batches, rows and
state rows) must be equal between the two profiles, per pass and per query.
Two runs of unchanged code on one seed that differ here point to a plan
change or a nondeterministic plan, not to a slow host. Timings are printed
for reference and never fail the check. Exit code 0 when all counters
match, 1 otherwise.
"""

from __future__ import annotations

import json
import sys

from tracing import EXACT_COUNTERS


def counters(record: dict, passes: int) -> dict[str, float]:
    """Exact counters of a profile: for its first ``passes`` traced passes
    and per query."""
    out = {}
    detail = record["layer_detail"]
    for i, p in enumerate(detail["passes"][:passes]):
        for k in EXACT_COUNTERS:
            out[f"pass{i}.{k}"] = p[k]
    for q, m in detail["per_query"].items():
        for k in EXACT_COUNTERS:
            out[f"{q}.{k}"] = m[k]
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    if (a["args"]["workload"], a["args"]["seed"]) != (b["args"]["workload"], b["args"]["seed"]):
        print("profiles are of different workloads or seeds", file=sys.stderr)
        return 2
    passes = min(len(a["layer_detail"]["passes"]), len(b["layer_detail"]["passes"]))
    ca, cb = counters(a, passes), counters(b, passes)
    bad = [k for k in sorted(ca.keys() | cb.keys()) if ca.get(k) != cb.get(k)]
    for k in bad:
        print(f"DIFF {k}: {ca.get(k)} != {cb.get(k)}")
    for k in sorted(a["layers"]):
        if k.endswith("_s"):
            print(f"time {k}: {a['layers'][k]:.4f} vs {b['layers'][k]:.4f}")
    print(f"{len(ca) - len(bad)} of {len(ca)} exact counters match")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
