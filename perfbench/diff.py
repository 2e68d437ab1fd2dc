#!/usr/bin/env python3
"""Compare the per-layer counters of two traced runs.

    python3 perfbench/diff.py A.json B.json [--all]

A and B are full results of traced runs of one workload and seed, as
`run.py --trace 1` leaves them in `.bench_build/results/` (or the result
line it prints). Counts that repeat exactly from run to run on the same
code and seed (jobs, stages, tasks, shuffle and spill bytes,
`n_candidates`, dispatcher strategy counts) are compared exactly and
any change is flagged. Times are listed with their ratio under `--all`;
they are not flagged, since they move from run to run. Exit code 1 when
an exact count changed.
"""
import json
import re
import sys

EXACT = [re.compile(p) for p in (
    r"(^|\.)jobs$", r"(^|\.)stages$", r"(^|\.)tasks$", r"failed_tasks$",
    r"shuffle_(read|write)_mb$", r"spill_mb$", r"^GridSearch\.n_candidates\.",
    r"\.strategy\.")]

# serve_local's strategy counts grow with the calls a timed loop fits
# in; their share of the calls is what repeats exactly
SHARE_OF = {"Serving.local.strategy.": "Serving.local.calls"}


def load(path):
    text = open(path).read().strip()
    try:
        r = json.loads(text)
    except json.JSONDecodeError:
        r = json.loads(text.splitlines()[-1])
    metrics = r.get("per_layer") or r.get("metrics") or {}
    return {k: v["value"] for k, v in metrics.items()}, r.get("provenance", {})


def exact_value(name, m):
    for prefix, base in SHARE_OF.items():
        if name.startswith(prefix) and m.get(base):
            return m[name] / m[base]
    return m[name]


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (a, pa), (b, pb) = load(args[0]), load(args[1])
    for key in ("workload", "seed"):
        if pa.get(key) != pb.get(key):
            print(f"warning: {key} differs: {pa.get(key)} vs {pb.get(key)}")
    changed = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"ONLY IN {'A' if name in a else 'B'}  {name}")
            changed += 1
            continue
        if any(p.search(name) for p in EXACT):
            va, vb = exact_value(name, a), exact_value(name, b)
            if abs(va - vb) > 1e-9 * max(1.0, abs(va)):
                print(f"CHANGED  {name:52s} {va:>14.6g} -> {vb:<14.6g}")
                changed += 1
        elif "--all" in argv:
            ratio = b[name] / a[name] if a[name] else float("nan")
            print(f"         {name:52s} {a[name]:>14.6g} -> {b[name]:<14.6g} x{ratio:.3f}")
    print(f"{changed} exact count(s) changed")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
