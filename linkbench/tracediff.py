"""Compares the deterministic per-layer counters of two traced runs.

    python3 linkbench/tracediff.py linkbench/out/A.json linkbench/out/B.json

A and B are result files of `run.py --trace 1` (same workload and seed).
Jobs, stages, tasks and shuffle bytes depend only on the input and the
engine's plans, so they must agree exactly; wall times, CPU time, driver gap
and task skew are host-dependent and are not compared. Exits 1 on a
difference.
"""
import json
import sys

EXACT = ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb", "supersteps",
         "manifests", "quarantined", "aa_per_ap")


def main(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    if (a["workload"], a["seed"], a["sizes"]) != (b["workload"], b["seed"], b["sizes"]):
        sys.exit("the two runs are of different workloads, seeds or sizes")
    diff = 0
    for name, m in sorted(a["metrics"].items()):
        if name.rsplit(".", 1)[-1] not in EXACT:
            continue
        other = b["metrics"].get(name, {}).get("value")
        if other != m["value"]:
            diff += 1
            print(f"{name}: {m['value']} != {other}")
    print(f"{diff} of the compared counters differ")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main(*sys.argv[1:3])
