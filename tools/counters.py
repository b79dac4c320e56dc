"""Compare the traced work counters of the parent and the working tree.

    python3 tools/counters.py --workload W --workdir DIR [--parent REV] [--seed 3]

A change that claims no gain must do the same work as its parent. This
runs one `--trace 1` perfbench run of each side at the same seed (the
parent is `git archive REV`, default HEAD, unpacked into DIR as
tools/pairs.py does, and both sides are built first) and prints the work
counters side by side. Exits 1 if any counter differs or if either run is
not `correct`.
"""

import argparse
import sys

from pairs import prepare, run_once, unpack_parent, ROOT

COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks", "registry.eager_jobs",
            "plans.exchanges", "plans.joins_broadcast", "plans.joins_hash",
            "plans.joins_sort_merge", "streaming.batches", "streaming.input_rows",
            "streaming.state_rows", "streaming.state_rows_updated", "ops.failed_share"]

# The run length, in seconds, that the recorded counter baselines were
# taken at: perfbench scales a workload's passes with it, so every
# counter above depends on it.
SECONDS = 20


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--workdir", required=True, help="where the parent is unpacked")
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--seed", type=int, default=3)
    a = ap.parse_args(argv)
    sides = {"parent": unpack_parent(a.parent, a.workdir), "change": ROOT}
    for side in sides.values():
        prepare(side)
    runs = {name: run_once(side, a.workload, a.seed, SECONDS, trace=1)
            for name, side in sides.items()}
    print(f"{a.workload} seed={a.seed}: parent {a.parent} -> working tree")
    print(f"{'counter':30} {'parent':>12} {'change':>12}")
    same = True
    for c in COUNTERS:
        p, w = (runs[s]["metrics"][c] for s in ("parent", "change"))
        same &= p == w
        print(f"{c:30} {p:>12g} {w:>12g}{'' if p == w else '  DIFF'}")
    for name, r in runs.items():
        steal = r["steal"] if r["steal"] is None else round(r["steal"], 3)
        print(f"{name}: correct={r['correct']} steal={steal}")
    ok = same and all(r["correct"] for r in runs.values())
    print("same work" if ok else "NOT the same work")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
