#!/usr/bin/env python3
"""Write a workload's expected results to perfbench/expected.json, and only
results that a check independent of the engine has passed.

    python3 perfbench/record.py --workload <name>

Run it from the root of a full checkout of the repository (the catalog
check uses tools/check_oracle.py). Benchmark runs only read
expected.json; this script is the one way to change it.

- Catalog workloads: `perfbench.Record` runs each query once in the
  benchmark's own session (`Harness.session`, `GraftExtensions.install`)
  and dumps its rows to parquet, together with the fingerprint of the
  rows dumped. tools/check_oracle.py then compares every dump with its
  DuckDB oracle SQL. The fingerprints are stored only if every query of
  the workload passes.
- Stream workloads: one untraced harness run. Its results are stored only
  if every timed pipeline ran, gave the same result in every timed pass,
  and emitted the row count `gen_tables.independent_counts` derives from
  the input with DuckDB.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import gen_tables
import metrics
import run


def oracle_passes(report):
    """The query names check_oracle.py reports as passing."""
    return {m.group(1) for m in re.finditer(r"^PASS (\S+)", report, re.M)}


def record_catalog(name, wl, cp):
    data, _ = run.prepare_data(None)
    work = os.path.join(run.WORK, "record", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dumps = os.path.join(work, "dumps")
    run.java(cp, "perfbench.Record", work,
             [f"data={data}", f"out={dumps}", "ops=" + ",".join(wl["ops"])])
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"), data, dumps],
        capture_output=True, text=True, timeout=600)
    sys.stderr.write(check.stdout + check.stderr)
    failed = sorted(set(wl["ops"]) - oracle_passes(check.stdout))
    if check.returncode != 0 or failed:
        raise SystemExit(f"perfbench: nothing recorded, the oracle check failed for {failed}")
    with open(os.path.join(dumps, "fingerprints.json")) as f:
        return json.load(f)


def record_stream(name, wl, cp):
    data, landing = run.prepare_data(wl["chunks"])
    work = os.path.join(run.WORK, "record", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    recs, _ = run.run_jvm(cp, wl, sorted(wl["ops"]), data, landing, 1, 0, work)
    counts = gen_tables.independent_counts(data, landing)
    got = {}
    for p in recs.get("pipe"):
        # the warm-up pass replays one chunk, so only timed passes count
        if p["pass"] not in recs.timed:
            continue
        if not p["ok"]:
            raise SystemExit(f"perfbench: {p['name']} failed: {p.get('err')}")
        res = metrics.stream_result(p, recs.get("batch"))
        if got.setdefault(p["name"], res) != res:
            raise SystemExit(f"perfbench: {p['name']} differs between passes")
        if res["rows"] != counts[p["name"]]:
            raise SystemExit(f"perfbench: {p['name']} emitted {res['rows']} rows, "
                             f"counted from the input: {counts[p['name']]}")
    missing = sorted(set(wl["ops"]) - set(got))
    if missing:
        raise SystemExit(f"perfbench: no timed run of {missing}")
    return got


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    workloads = run.load_json("workloads.json")
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    wl = workloads[args.workload]
    cp = run.build()
    got = (record_catalog if wl["mode"] == "catalog" else record_stream)(args.workload, wl, cp)
    path = os.path.join(run.HERE, "expected.json")
    allx = run.load_json("expected.json") if os.path.exists(path) else {}
    allx[args.workload] = dict(sorted(got.items()))
    with open(path, "w") as f:
        json.dump(allx, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(got)} results of {args.workload} in {os.path.relpath(path, run.ROOT)}")


if __name__ == "__main__":
    main()
