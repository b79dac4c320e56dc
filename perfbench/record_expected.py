"""Records `expected.json`, the outputs every benchmark run is checked
against, and cross-checks them once against DuckDB.

For each workload it runs the benchmark's own JVM on two seeds and keeps
each operation's result digest (both seeds must agree). Every query that
carries oracle SQL (`SparkEntry.oracleSql`) is then re-run through
`graft.Verify` on the same fixtures and compared with DuckDB using the
comparator of `tools/check_oracle.py`; the outcome is stored per query.

Run it only at a commit whose outputs are known good:

    python3 perfbench/record_expected.py
"""

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
import build  # noqa: E402
import gen_fixtures  # noqa: E402
import run  # noqa: E402

SEEDS = (1, 2)
RUN_SECONDS = 20
# Headroom over the recorded SMAPE: the model seed is fixed, so SMAPE
# repeats exactly on one layout and moves only in far digits across core
# counts; a change to the model itself moves it by more.
SMAPE_HEADROOM = 1.02


def digests(workload, seed, run_dir):
    os.makedirs(run_dir)
    _, raw = run.run_jvm(build.build(), workload, seed, RUN_SECONDS, 0, run_dir,
                         time.monotonic())
    out, smape = {}, {}
    for op in raw["phases"]["timed"]["ops"]:
        if not op.get("ok"):
            raise SystemExit(f"{workload}: {op['name']} failed: {op.get('error')}")
        if "digest" in op:
            if out.setdefault(op["name"], op["digest"]) != op["digest"]:
                raise SystemExit(f"{workload}: {op['name']} digest differs between passes")
        if "smape" in op:
            smape[op["name"]] = op["smape"]
    return out, smape


def oracle_check(names, run_dir):
    """{query: "ok" | failure text} for every listed query with oracle SQL."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(build.ROOT, "tools", "check_oracle.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    os.makedirs(run_dir)
    fixtures = run.fixtures()
    out_dir = os.path.join(run_dir, "verify")
    cmd, env = run.jvm_command(run_dir, build.build(), run.cores(),
                               ["graft.Verify", fixtures, out_dir, ",".join(names)])
    subprocess.run(cmd, cwd=run_dir, env=env, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = {k: v for k, v in json.load(fh).items() if k in names}
    con = check.duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    verdict = {}
    for name, sql in sorted(oracle.items()):
        spark_df = check.pd.read_parquet(os.path.join(out_dir, name))
        issues = check.cmp_frames(name, spark_df, con.execute(sql).df())
        verdict[name] = "ok" if not issues else "; ".join(issues[:3])
    return verdict


def main():
    run_dir = os.path.join(build.ROOT, ".bench_build", f"record-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        all_digests, smapes = {}, {}
        for w in bench.WORKLOADS:
            per_seed = [digests(w, s, os.path.join(run_dir, f"{w}-{s}")) for s in SEEDS]
            if per_seed[0][0] != per_seed[1][0]:
                raise SystemExit(f"{w}: digests differ between seeds {SEEDS}")
            all_digests.update(per_seed[0][0])
            smapes.update(per_seed[0][1])
        queries = sorted(n for n in all_digests if "." not in n)
        verdict = oracle_check(queries, os.path.join(run_dir, "oracle"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, v in verdict.items():
        print(f"oracle {name}: {v}")
    bad = {n: v for n, v in verdict.items() if v != "ok"}
    if bad:
        raise SystemExit(f"{len(bad)} queries disagree with DuckDB; nothing recorded")
    expected = {
        "generator_version": gen_fixtures.GENERATOR_VERSION,
        "sf": gen_fixtures.SF,
        "digests": dict(sorted(all_digests.items())),
        "smape_max": {name: round(v * SMAPE_HEADROOM, 3) for name, v in smapes.items()},
        "smape_recorded": smapes,
        "oracle_checked": sorted(verdict),
    }
    with open(os.path.join(build.BENCH_DIR, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1)
        fh.write("\n")
    print(f"recorded {len(all_digests)} digests; {len(verdict)} oracle queries agree with DuckDB")


if __name__ == "__main__":
    main()
