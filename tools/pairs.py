"""Alternating parent/change perfbench pairs for one workload.

    python3 tools/pairs.py --workload olap_mix --workdir DIR [--parent REV]
                           [--pairs 10] [--seconds 20] [--seed 1]

The change is this checkout's working tree. The parent is `git archive REV`
(default HEAD) unpacked into DIR/parent-<sha>; an existing unpack is reused.
Pair i runs both sides at seed `--seed + i`, and the side that runs first
alternates from pair to pair, so a drift of the host over time falls on
both. Both sides are built and their fixtures generated before the first
pair, outside any run's timing.

Prints one line per run (side, seed, correct, cpu_steal_share, loadavg at
start, the end-to-end metrics), then for each end-to-end metric of
BENCHMARK.json the q1, median and q3 of each side and the change's wins out
of the pairs. A run with high steal is host noise, not code: read the
numbers next to it.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def unpack_parent(rev, workdir):
    sha = subprocess.run(["git", "rev-parse", "--short", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(workdir, f"parent-{sha}")
    if not os.path.isdir(dest):
        tmp = dest + ".tmp"
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"pairs: git archive {sha} failed")
        os.rename(tmp, dest)
    return dest


def prepare(side):
    """Build the engine and generate the fixtures, so no timed run does."""
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); import build, run; "
                    "build.build(); run.fixtures()"], cwd=side, check=True)


def run_once(side, workload, seed, seconds):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=side, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"pairs: run in {side} seed {seed} failed (exit {out.returncode})")
    env = json.loads(lines[-2])["perfbench_env"]
    result = json.loads(lines[-1])
    return {"correct": result["correct"], "failed": result["failed"],
            "steal": env.get("cpu_steal_share"), "load": env["loadavg_start"][0],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--workdir", required=True, help="where the parent is unpacked")
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args(argv)
    if a.pairs < 2:
        ap.error("--pairs must be at least 2 for quartiles")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        end_to_end = json.load(fh)["end_to_end"]
    sides = {"parent": unpack_parent(a.parent, a.workdir), "change": ROOT}
    for side in sides.values():
        prepare(side)
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for name in order:
            r = run_once(sides[name], a.workload, seed, a.seconds)
            runs[name].append(r)
            shown = " ".join(f"{m['name']}={r['metrics'][m['name']]:.4g}" for m in end_to_end)
            print(f"{name:6} seed={seed} correct={r['correct']} failed={r['failed']} "
                  f"steal={r['steal'] if r['steal'] is None else round(r['steal'], 3)} "
                  f"load={r['load']:.1f} {shown}", flush=True)
    print(f"\n{a.workload}: {a.pairs} pairs, parent {a.parent} -> working tree")
    for m in end_to_end:
        name = m["name"]
        par = [r["metrics"][name] for r in runs["parent"]]
        chg = [r["metrics"][name] for r in runs["change"]]
        better = (lambda c, p: c < p) if m["better"] == "lower" else (lambda c, p: c > p)
        wins = sum(better(c, p) for c, p in zip(chg, par))
        pq, cq = quartiles(par), quartiles(chg)
        print(f"{name:14} parent {pq[0]:.4g}/{pq[1]:.4g}/{pq[2]:.4g}  "
              f"change {cq[0]:.4g}/{cq[1]:.4g}/{cq[2]:.4g} {m['unit']}  "
              f"median {100 * (cq[1] - pq[1]) / pq[1]:+.1f}%  change won {wins}/{a.pairs}")


if __name__ == "__main__":
    main(sys.argv[1:])
