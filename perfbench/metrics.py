"""Pure functions that turn the harness's raw records into metrics and
spans. Kept apart from run.py so the self-tests can exercise them."""
import math
import random
import statistics

US = 1e6


def seeded_order(names, seed):
    """The order a run visits its queries or pipelines: a shuffle drawn
    from the seed alone, so the same seed always gives the same order."""
    out = sorted(names)
    random.Random(seed).shuffle(out)
    return out


def tail(values, n_min, beyond=10):
    """The tail latency: the highest percentile that has at least `beyond`
    samples above it in a run of `n_min` samples, the fewest a run of the
    workload takes. Fixing the percentile by the workload rather than by
    each run's count keeps a faster commit, which fits more samples into
    the same seconds, from being read at a higher percentile. Returns
    (value, percentile, sample count), or None for too few samples."""
    xs = sorted(values)
    n = len(xs)
    if n_min <= beyond or n < n_min:
        return None
    pct = 100.0 * (n_min - beyond) / n_min
    # nearest rank: the smallest sample with at least pct% at or below it
    i = math.ceil(round(pct * n / 100, 9)) - 1
    return xs[i], pct, n


def median_of_passes(samples):
    """`samples` maps a name to its per-pass values; the result maps each
    name to the median of its passes."""
    return {k: statistics.median(v) for k, v in samples.items() if v}


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - covered(lo, hi, children)


def attribute_jobs(jobs):
    """Split jobs by the phase the harness set before the call that ran
    them: {trace: {"build": [job], "action": [job]}}. Jobs with no trace
    (Spark's own housekeeping) are left out."""
    out = {}
    for j in jobs:
        if j.get("trace") is None:
            continue
        phase = j.get("phase") or "action"
        out.setdefault(j["trace"], {"build": [], "action": []})[phase].append(j)
    return out


def pass_of(trace):
    """Traces are "<pass>/<name>"."""
    return int(trace.split("/", 1)[0])


def combine_fingerprints(parts):
    """Fingerprints of disjoint parts of one result (e.g. the micro-batches
    of one pipeline) combine to the fingerprint of the whole."""
    rows = xor = hsum = 0
    for p in parts:
        rows += p["rows"]
        xor ^= p["xor"]
        hsum += p["hsum"]
    return {"rows": rows, "xor": xor, "hsum": hsum}


class Records:
    """The raw JSON-lines records of one harness run, grouped by kind."""

    def __init__(self, recs):
        self.by = {}
        for r in recs:
            self.by.setdefault(r["k"], []).append(r)
        passes = self.get("pass")
        # ids of the timed passes, and of the last untimed warm-up pass
        self.timed = {p["pass"] for p in passes if p["timed"]}
        self.last_warmup = max((p["pass"] for p in passes if not p["timed"]), default=None)

    def get(self, kind):
        return self.by.get(kind, [])

    def one(self, kind):
        rs = self.get(kind)
        return rs[0] if rs else None


def timed_passes(recs):
    return [p for p in recs.get("pass") if p["timed"]]


def end_to_end(recs, mode, spawn_us, expected, min_passes, row_counts):
    """End-to-end metrics and the operation tally of one run. `expected`
    maps a query or pipeline to its result fingerprint; `row_counts` maps
    a pipeline to the row count its output must have, counted from the
    input independently of the engine."""
    setup = recs.one("setup")
    end = recs.one("end")
    report = {
        "setup_s": (setup["t1"] - spawn_us) / US,
        "peak_rss_mb": end["vm_hwm_kb"] / 1024.0,
    }
    failures = []
    latencies = []
    per_unit = {}
    if mode == "catalog":
        for op in recs.get("op"):
            if op["pass"] not in recs.timed:
                continue
            latencies.append((op["t1"] - op["t0"]) / 1e3)
            per_unit.setdefault(op["name"], []).append((op["t1"] - op["t0"]) / US)
            want = expected.get(op["name"])
            if not op["ok"]:
                failures.append(f"{op['trace']}: {op.get('err')}")
            elif want is None or op["result"] != want:
                failures.append(f"{op['trace']}: result {op['result']} != expected {want}")
        attempted = len(latencies)
        n_min = len({op["name"] for op in recs.get("op")}) * min_passes
    else:
        batches = [b for b in recs.get("batch") if b["pass"] in recs.timed]
        latencies = [b["durations"].get("triggerExecution", 0) for b in batches]
        rows = sum(b["input_rows"] for b in batches)
        wall = 0.0
        pipes = [p for p in recs.get("pipe") if p["pass"] in recs.timed]
        for p in pipes:
            w = (p["t1"] - p["t0"]) / US
            wall += w
            per_unit.setdefault(p["name"], []).append(w)
            if not p["ok"]:
                failures.append(f"{p['trace']}: {p.get('err')}")
                continue
            got = stream_result(p, batches)
            want = expected.get(p["name"])
            if want is None or got != want:
                failures.append(f"{p['trace']}: result {got} != expected {want}")
            elif p["name"] in row_counts and got["rows"] != row_counts[p["name"]]:
                failures.append(f"{p['trace']}: {got['rows']} rows, counted from the "
                                f"input: {row_counts[p['name']]}")
        report["stream_rows_per_s"] = rows / wall if wall else 0.0
        first = min((b["pass"] for b in batches), default=1)
        n_min = sum(1 for b in batches if b["pass"] == first) * min_passes
        attempted = len(latencies) + len(pipes)
    # times are whole microseconds, so 7 decimals print each median exactly
    report["medians"] = {k: round(v, 7) for k, v in median_of_passes(per_unit).items()}
    report["sweep_s"] = sum(report["medians"].values())
    report["op_p50_ms"] = statistics.median(latencies) if latencies else 0.0
    report["op_tail"] = tail(latencies, n_min)
    return report, attempted, failures


def stream_result(pipe, batches):
    """A pipeline's checked output: the upsert target as read back after
    the run, or else the combined fingerprint of its micro-batches."""
    if pipe["target"]:
        return pipe["target"]
    return combine_fingerprints(
        b["result"] for b in batches
        if b["trace"] == pipe["trace"] and b.get("result"))


def job_intervals(jobs, ends):
    return [(j["t0"], ends[j["id"]]["t1"]) for j in jobs if j["id"] in ends]


def per_layer(recs, mode, cores, report):
    """Per-layer metrics of a traced run, each per timed pass (the mean
    over the timed passes), plus the recompute guard's verdicts."""
    passes = timed_passes(recs)
    n = len(passes)
    ends = {e["id"]: e for e in recs.get("job_end")}
    stage_by_id = {}
    for s in recs.get("stage"):
        stage_by_id.setdefault(s["id"], []).append(s)
    jobs = [j for j in recs.get("job") if j.get("trace")]

    def per_pass(p):
        js = [j for j in jobs if pass_of(j["trace"]) == p]
        sids = {s for j in js for s in j["stages"]}
        ran = [a for s in sids for a in stage_by_id.get(s, [])]
        return js, sids, ran

    tot = {}

    def add(k, v):
        tot[k] = tot.get(k, 0) + v

    # Recompute guard: every timed pass must scan the same bytes and rows
    # and run the same jobs as the reference pass, and scan something. The
    # catalog's reference is its last warm-up pass; a stream warms up on
    # one chunk, so its timed passes are held to the first of them.
    def scanned(ran, js):
        return (sum(s["in_bytes"] for s in ran), sum(s["in_rows"] for s in ran), len(js))

    guard = []
    ref = recs.last_warmup if mode == "catalog" or not passes else passes[0]["pass"]
    w_js, _, w_ran = per_pass(ref)
    want = scanned(w_ran, w_js)
    for p in passes:
        js, sids, ran = per_pass(p["pass"])
        got = scanned(ran, js)
        guard.append((p["pass"], got == want and got[0] > 0, got, want))
        wall = (p["t1"] - p["t0"]) / US
        add("sources.scan_bytes", got[0])
        add("sources.scan_rows", got[1])
        add("queries.build_jobs",
            sum(len(v["build"]) for v in attribute_jobs(js).values()))
        add("sched.jobs", len(js))
        add("sched.stages", len(ran))
        add("sched.stages_skipped", len([s for s in sids if s not in stage_by_id]))
        add("sched.tasks", sum(s["tasks"] for s in ran))
        add("sched.single_task", sum(1 for s in ran if s["num_tasks"] == 1))
        add("sched.task_delay_s", sum(s["task_delay_ms"] for s in ran) / 1e3)
        add("exec.run_s", sum(s["run_ms"] for s in ran) / 1e3)
        add("exec.cpu_s", sum(s["cpu_ns"] for s in ran) / 1e9)
        add("exec.gc_s", sum(s["gc_ms"] for s in ran) / 1e3)
        add("exec.wall_core_s", wall * cores)
        add("shuffle.write_bytes", sum(s["shuffle_write"] for s in ran))
        add("shuffle.read_bytes", sum(s["shuffle_read"] for s in ran))
        add("shuffle.fetch_wait_s", sum(s["fetch_wait_ms"] for s in ran) / 1e3)
        add("shuffle.spill_bytes", sum(s["spill"] for s in ran))
        add("codegen.compile_s", p["compile_ns"] / 1e9)
        add("codegen.compiles", p["compiles"])
        add("jvm.gc_s", p["gc_ms"] / 1e3)
    m = {k: v / n for k, v in tot.items()} if n else {}
    m["sched.single_task_stage_share"] = (
        tot.get("sched.single_task", 0) / tot["sched.stages"]
        if tot.get("sched.stages") else 0.0)
    m["exec.busy_share"] = (tot.get("exec.run_s", 0) / tot["exec.wall_core_s"]
                            if tot.get("exec.wall_core_s") else 0.0)
    m.pop("sched.single_task", None)
    m.pop("exec.wall_core_s", None)
    setup = recs.one("setup")
    m["sources.warmup_s"] = (setup["t_warmup"] - setup["t_tables"]) / US

    # Time inside each timed operation with no job running.
    gap = 0.0
    by_trace = {}
    for j in jobs:
        by_trace.setdefault(j["trace"], []).append(j)
    units = recs.get("op") if mode == "catalog" else recs.get("pipe")
    for u in units:
        if u["pass"] in recs.timed:
            gap += self_time((u["t0"], u["t1"]),
                             job_intervals(by_trace.get(u["trace"], []), ends)) / US
    m["sched.driver_gap_s"] = gap / n if n else 0.0

    build = {}
    storage = 0
    for op in recs.get("op"):
        if op["pass"] in recs.timed:
            build.setdefault(op["name"], []).append((op["t_build"] - op["t0"]) / US)
            storage = max(storage, op.get("storage_bytes", 0))
    m["queries.build_s"] = sum(median_of_passes(build).values())
    m["queries.build_share"] = (m["queries.build_s"] / report["sweep_s"]
                                if report["sweep_s"] else 0.0)
    m["storage.peak_bytes"] = storage

    action_execs = {j["sql_exec"]: pass_of(j["trace"]) for j in jobs
                    if j.get("phase") == "action" and j.get("sql_exec") is not None}
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for pl in recs.get("plan"):
        if action_execs.get(str(pl["sql_exec"])) in recs.timed:
            for k in phases:
                phases[k] += pl["phases"].get(k, 0) / 1e3
    m["plan.analysis_s"] = phases["analysis"] / n if n else 0.0
    m["plan.optimize_s"] = phases["optimization"] / n if n else 0.0
    m["plan.physical_s"] = phases["planning"] / n if n else 0.0

    batches = [b for b in recs.get("batch") if b["pass"] in recs.timed]
    nb = len(batches)
    for name, key in [("stream.latest_offset_ms", "latestOffset"),
                      ("stream.get_batch_ms", "getBatch"),
                      ("stream.plan_ms", "queryPlanning"),
                      ("stream.add_batch_ms", "addBatch"),
                      ("stream.wal_commit_ms", "walCommit"),
                      ("stream.commit_offsets_ms", "commitOffsets")]:
        m[name] = sum(b["durations"].get(key, 0) for b in batches) / nb if nb else 0.0
    states = [s for b in batches for s in b["state"]]
    m["state.commit_ms"] = sum(s["commit_ms"] for s in states) / nb if nb else 0.0
    m["state.rows_max"] = max((s["rows"] for s in states), default=0)
    m["state.bytes_max"] = max((s["bytes"] for s in states), default=0)
    m["state.rows_removed"] = sum(s["removed"] for s in states) / n if n else 0.0
    dropped = sum(s["late_dropped"] for s in states)
    m["state.late_dropped"] = dropped / n if n else 0.0
    rows_in = sum(b["input_rows"] for b in batches if b["state"])
    m["state.kept_share"] = (rows_in - dropped) / rows_in if rows_in else 0.0
    return m, guard


def spans(recs, spawn_us, end_us):
    """The run's spans: run -> pass -> query execution -> build | action
    -> job -> stage, and run -> pass -> pipeline -> batch -> phase | job ->
    stage; warm-up passes hang under the set-up span. Each is (id, parent,
    trace, name, start_us, end_us, self_us); ids are list positions."""
    out = []

    def span(parent, trace, name, t0, t1):
        out.append({"id": len(out), "parent": parent, "trace": trace,
                    "name": name, "t0": t0, "t1": t1})
        return len(out) - 1

    run = span(None, None, "run", spawn_us, end_us)
    setup = span(run, None, "setup", spawn_us, recs.one("setup")["t1"])
    ends = {e["id"]: e for e in recs.get("job_end")}
    stages = {}
    for s in recs.get("stage"):
        stages.setdefault(s["id"], []).append(s)
    jobs_by = {}
    for j in recs.get("job"):
        if j.get("trace"):
            jobs_by.setdefault((j["trace"], j.get("phase"), j.get("stream_batch")),
                               []).append(j)

    def add_jobs(parent, trace, js):
        for j in js:
            if j["id"] not in ends:
                continue
            jid = span(parent, trace, f"job {j['id']}", j["t0"], ends[j["id"]]["t1"])
            for sid in j["stages"]:
                for s in stages.get(sid, []):
                    span(jid, trace, f"stage {sid}.{s['attempt']}", s["t0"], s["t1"])

    pass_span = {}
    for p in recs.get("pass"):
        # warm-up passes are part of the set-up
        pass_span[p["pass"]] = span(run if p["timed"] else setup, None,
                                    f"pass {p['pass']}", p["t0"], p["t1"])
    for op in recs.get("op"):
        tr = op["trace"]
        q = span(pass_span[op["pass"]], tr, f"query {op['name']}", op["t0"], op["t1"])
        b = span(q, tr, "build", op["t0"], op["t_build"])
        add_jobs(b, tr, jobs_by.get((tr, "build", None), []))
        a = span(q, tr, "action", op["t_build"], op["t1"])
        add_jobs(a, tr, jobs_by.get((tr, "action", None), []))
    order = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
             "addBatch", "commitOffsets"]
    for pipe in recs.get("pipe"):
        tr = pipe["trace"]
        pid = span(pass_span[pipe["pass"]], tr, f"pipeline {pipe['name']}",
                   pipe["t0"], pipe["t1"])
        for b in recs.get("batch"):
            if b["trace"] != tr:
                continue
            btr = f"{tr}/{b['batch']}"
            t0 = b["start_us"]
            bid = span(pid, btr, f"batch {b['batch']}", t0,
                       t0 + b["durations"].get("triggerExecution", 0) * 1000)
            # Spark reports phase durations, not start times: the phases
            # are laid end to end in the order a micro-batch runs them.
            t = t0
            for ph in order:
                d = b["durations"].get(ph)
                if d is not None:
                    span(bid, btr, ph, t, t + d * 1000)
                    t += d * 1000
            add_jobs(bid, btr, jobs_by.get((tr, None, str(b["batch"])), []))
    kids = {}
    for s in out:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    for s in out:
        s["self_us"] = self_time((s["t0"], s["t1"]), kids.get(s["id"], []))
    return out
