#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the harness from source (sbt) and generates the input tables
under perfbench/.work; later runs reuse both while their sources are
unchanged. The run then starts one JVM (`perfbench.Harness`), which sets
up a Spark session, warms the workload up once untimed, and times passes
over the workload until --seconds have been measured. This script checks
every result against perfbench/expected.json and prints the metrics; the
last line of standard output is one JSON object.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
harness also listens to Spark and the metrics are the per-layer ones,
the spans go to perfbench/.work/traces, and the tracing overhead against
an untraced run of the same workload and seed (if one ran in this
checkout) is printed. Workloads are defined in perfbench/workloads.json;
perfbench/README.md says why each exists and what every metric means.
The expected results are written by perfbench/record.py, never by a run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen_tables
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
JVM_DEADLINE_S = 170
# Every workload reads sf0.1 tables written as one row group per file, the
# layout `graft.bench.singleFileFixture` is meant for, and runs on local[4]
# (the core count of the machine the benchmark was defined on) with the
# heap fixed at 2 GB.
SF = 0.1
ROWS_PER_GROUP = 10_000_000
CORES = 4
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; past `timeout`
    seconds kill the whole group (sbt and the JVM fork children) and wait
    for it to end. Returns the exit code, or None after a kill."""
    proc = subprocess.Popen(cmd, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"perfbench: not a checkout of the engine, missing {missing}")
    stamp = tree_digest(sources)
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness (sbt)")
    t0 = time.time()
    log_path = os.path.join(out, "sbt.log")
    with open(log_path, "w") as lf:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], 800, stdout=lf, cwd=HERE, env=env)
    lines = open(log_path).read().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def prepare_data(chunks):
    """Generate the tables once per checkout and check their row counts;
    land the events as `chunks` stream files when that is set. Returns the
    table directory and the landing directory."""
    stamp = tree_digest([os.path.join(HERE, "gen_tables.py")])
    out = os.path.join(WORK, "data", f"sf{SF}")
    stamp_file = os.path.join(out, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        counts = gen_tables.generate(SF, out, ROWS_PER_GROUP)
        want = gen_tables.expected_rows(SF)
        if counts != want:
            raise SystemExit(f"perfbench: generated row counts {counts} != {want}")
        log(f"generated sf{SF} in {time.time() - t0:.1f} s: {counts}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    landing = os.path.join(out, f"landing-{chunks}")
    if chunks and not os.path.exists(landing):
        for d in (landing + ".tmp", landing + "-warm"):
            shutil.rmtree(d, ignore_errors=True)
        gen_tables.land_events(out, landing + ".tmp", landing + "-warm", chunks)
        os.rename(landing + ".tmp", landing)
    return out, landing


def java(cp, main, run_dir, args):
    """Run `main` in one JVM with the benchmark's flags; return when it
    has ended, or stop the run if it failed."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp, main,
            f"work={run_dir}", f"cores={CORES}"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        rc = run_bounded(cmd, JVM_DEADLINE_S, stdout=lf, cwd=run_dir)
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        raise SystemExit(f"perfbench: {main} failed (exit {rc})")


def run_jvm(cp, wl, order, data, landing, seconds, trace, run_dir):
    out = os.path.join(run_dir, "records.jsonl")
    spawn_us = int(time.time() * 1e6)
    java(cp, "perfbench.Harness", run_dir, [
        f"mode={wl['mode']}", f"data={data}", f"landing={landing}",
        f"warm_landing={landing}-warm", f"out={out}", f"seconds={seconds}",
        f"trace={trace}", f"warmup_passes={wl['warmup_passes']}",
        f"min_passes={wl['min_passes']}", "ops=" + ",".join(order)])
    if not os.path.exists(out):
        raise SystemExit("perfbench: the harness wrote no records")
    with open(out) as f:
        recs = metrics.Records(json.loads(line) for line in f if line.strip())
    return recs, spawn_us


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    wl = workloads[args.workload]

    cp = build()
    t0 = time.time()
    data, landing = prepare_data(wl.get("chunks"))
    prep_s = time.time() - t0
    order = metrics.seeded_order(wl["ops"], args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    recs, spawn_us = run_jvm(cp, wl, order, data, landing, args.seconds, args.trace, run_dir)

    expected = load_json("expected.json").get(args.workload, {})
    report, attempted, failures = metrics.end_to_end(
        recs, wl["mode"], spawn_us, expected, wl["min_passes"],
        gen_tables.independent_counts(data, landing) if wl["mode"] == "stream" else {})
    layers = None
    if args.trace:
        layers, guard = metrics.per_layer(recs, wl["mode"], CORES, report)
        for p, ok, got, want in guard:
            attempted += 1
            if not ok:
                failures.append(f"recompute guard, pass {p}: (scan bytes, scan rows, jobs) "
                                f"{got} vs reference pass {want}")
        write_spans(recs, spawn_us, args)
    # keep the raw records and the JVM log of the latest run only
    for sub in ("tmp", "stream", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    passes = len(metrics.timed_passes(recs))
    tl = report["op_tail"]
    e2e = {
        "setup_s": (report["setup_s"], "s"),
        "sweep_s": (report["sweep_s"], "s"),
        "op_p50_ms": (report["op_p50_ms"], "ms"),
        "peak_rss_mb": (report["peak_rss_mb"], "MB"),
    }
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"local[{CORES}], {passes} timed passes, data prep {prep_s:.1f} s "
          f"(not in setup_s)")
    for k, (v, u) in e2e.items():
        print(f"  {k} = {v:.6g} {u}")
    # sweep_s is the sum of exactly these printed medians
    print("  medians (s): " + " ".join(f"{k}={v:.7f}" for k, v in sorted(report["medians"].items())))
    # Reported, not gated: the few operations a run affords put this
    # percentile near the median (README.md, end-to-end metrics).
    unit = "query" if wl["mode"] == "catalog" else "batch"
    if tl:
        print(f"  op_tail_ms = {tl[0]:.6g} ms  (p{tl[1]:.1f} of {tl[2]} {unit} samples)")
    if wl["mode"] == "stream":
        print(f"  stream_rows_per_s = {report['stream_rows_per_s']:.6g} rows/s")
    print(f"  error_rate = {len(failures) / max(attempted, 1):.6g} fraction "
          f"({len(failures)} of {attempted} operations)")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    overhead_path = os.path.join(WORK, "results", f"{args.workload}-{args.seed}.json")
    if args.trace:
        for k, v in sorted(layers.items()):
            print(f"  {k} = {v:.6g}")
        if os.path.exists(overhead_path):
            base = json.load(open(overhead_path))
            print("  tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{k} {e2e[k][0] - base[k]:+.4g} {e2e[k][1]}" for k in base))
        else:
            print("  tracing overhead: no untraced run of this workload and seed yet")
    else:
        os.makedirs(os.path.dirname(overhead_path), exist_ok=True)
        with open(overhead_path, "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)

    if args.trace:
        out = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def write_spans(recs, spawn_us, args):
    end_us = int(time.time() * 1e6)
    path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.spans.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in metrics.spans(recs, spawn_us, end_us):
            f.write(json.dumps(s) + "\n")
    print(f"spans: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
