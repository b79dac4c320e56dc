"""Prints the trace summary of traced runs: every per-layer metric, each
workload's layer self-time shares, and the tracing overhead.

    python3 perfbench/summarize.py [dump.json ...]

Without arguments it reads every dump the traced runs (`--trace 1`) wrote
under `.bench_build/perfbench/traces/`.
"""

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
import build  # noqa: E402


def main(paths):
    paths = paths or sorted(glob.glob(os.path.join(build.OUT, "traces", "*.json")))
    if not paths:
        raise SystemExit("perfbench: no trace dumps; run with --trace 1 first")
    for path in paths:
        with open(path) as fh:
            dump = json.load(fh)
        w = dump["workload"]
        lat = bench.samples(dump["raw"]["phases"]["traced"])
        print(bench.summary(w, dump["per_layer"], len(lat)))
        print(f"  (seed {dump['seed']}, {path})\n")


if __name__ == "__main__":
    main(sys.argv[1:])
