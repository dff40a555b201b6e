"""Per-layer metrics and spans from the events `perfbench.Trace` records.

Events are JSON lines with wall-clock ms (`t`, or `start`/`end` for
stages). A span is {id, parent, run, name, start, end, self_ms}; its self
time is its duration minus the part of it its children cover. The span
tree is: workload run -> op -> build/action or ETL phase -> Spark job ->
stage, with streaming micro-batches under the op they ran in.

Per-layer metrics are totals per pass of the measured window; a layer a
workload does not reach reads 0. The layer
prefixes name the repository's modules: `etl` (graft.EtlMain), `queries`
(graft.Queries call boundary), `index` (stored-index writes and reads),
`sources`, `operators`, `plans`, `streaming`, and `spark` underneath.
"""
import json
import statistics

UNITS = {
    "etl.scan_s": "s", "etl.dedup_write_s": "s", "etl.report_s": "s",
    "etl.scan_gap_s": "s", "etl.dedup_write_gap_s": "s",
    "etl.report_gap_s": "s", "etl.outside_jobs_s": "s",
    "queries.build_s": "s", "queries.action_s": "s",
    "queries.analysis_ms": "ms", "queries.optimization_ms": "ms",
    "queries.planning_ms": "ms", "queries.outside_jobs_s": "s",
    "index.write_s": "s", "index.read_s": "s",
    "sources.read_mb": "MB", "sources.read_rows": "count",
    "sources.scan_passes": "1", "sources.corrupt_rows": "count",
    "sources.cache_peak_mb": "MB", "sources.write_mb": "MB",
    "sources.write_rows": "count", "sources.files_listed": "count",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.fetch_wait_s": "s", "operators.spill_mem_mb": "MB",
    "operators.spill_disk_mb": "MB", "operators.peak_exec_mb": "MB",
    "operators.keep_ratio": "1",
    "plans.codegen_compile_s": "s", "plans.codegen_compiles": "count",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.offset_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.core_util": "1",
    "ops.failed_ratio": "1", "trace.overhead_s": "s",
}
CORES = 4  # every workload runs local[4]
MB = 1e6
ETL_PHASES = ("scan", "dedup_write", "report")
# The traced child's own clock must account for the CLI's measured wall
# time within this share of it.
TRACE_WALL_TOLERANCE = 0.05


def read_events(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    xs = []
    for a, b in intervals:
        a = a if lo is None else max(a, lo)
        b = b if hi is None else min(b, hi)
        if b > a:
            xs.append((a, b))
    total, end = 0, None
    for a, b in sorted(xs):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Spans:
    def __init__(self, run):
        self.run, self.items = run, []

    def add(self, name, start, end, parent=None):
        self.items.append({"id": len(self.items), "parent": parent,
                           "run": self.run, "name": name,
                           "start": start, "end": end})
        return len(self.items) - 1

    def parent_at(self, candidates, start, end):
        for i in candidates:
            s = self.items[i]
            if s["start"] <= start and end <= s["end"]:
                return i
        return None

    def done(self):
        kids = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.items:
            s["self_ms"] = (s["end"] - s["start"]) - union_ms(
                kids.get(s["id"], []), s["start"], s["end"])
        return self.items


def jobs_of(events):
    """Jobs with start, end, stages and call site; the site is that of the
    root SQL execution the job ran for, when it ran for one."""
    sql = {e["exec"]: e for e in events if e["ev"] == "sql"}

    def site(s):
        x = sql.get(s.get("exec"))
        while x and x.get("root") and x["root"] != x["exec"] \
                and x["root"] in sql:
            x = sql[x["root"]]
        return x["site"] if x else s["site"]

    starts = {e["job"]: e for e in events if e["ev"] == "job_start"}
    ends = {e["job"]: e for e in events if e["ev"] == "job_end"}
    return [{"job": j, "start": s["t"], "end": ends[j]["t"], "site": site(s),
             "stages": [int(x) for x in str(s["stages"]).split(",") if x],
             "ok": ends[j]["ok"]}
            for j, s in sorted(starts.items()) if j in ends]


def counter_diff(a, b, key):
    return (b or {}).get(key, 0) - (a or {}).get(key, 0)


def spark_layers(events, windows, n_pass, input_bytes, c1s):
    """Metrics of the sources, operators, plans, streaming and spark layers
    over events inside `windows` (list of [lo, hi] ms), per pass."""
    def inside(t):
        return any(lo <= t <= hi for lo, hi in windows)

    tasks = [e for e in events if e["ev"] == "task" and inside(e["t"])]
    stages = [e for e in events if e["ev"] == "stage" and inside(e["end"])]
    jobs = [j for j in jobs_of(events) if inside(j["end"])]
    batches = [e for e in events if e["ev"] == "batch" and inside(e["t"])]
    cache = [e["bytes"] for e in events if e["ev"] == "cache" and inside(e["t"])]
    wall_ms = sum(hi - lo for lo, hi in windows)

    def tot(k):
        return sum(t.get(k, 0) for t in tasks)

    p = float(n_pass)
    codegen = sum(counter_diff(a, b, "codegen_ns") for a, b in c1s) / 1e9
    in_rows, out_rows = tot("in_rows"), tot("out_rows")
    return {
        "sources.read_mb": tot("in_bytes") / MB / p,
        "sources.read_rows": in_rows / p,
        "sources.scan_passes": tot("in_bytes") / input_bytes / p,
        "sources.cache_peak_mb": max(cache, default=0) / MB,
        "sources.write_mb": tot("out_bytes") / MB / p,
        "sources.write_rows": out_rows / p,
        "sources.files_listed":
            sum(counter_diff(a, b, "files_discovered") for a, b in c1s) / p,
        "operators.shuffle_write_mb": tot("shw_bytes") / MB / p,
        "operators.shuffle_read_mb": tot("shr_bytes") / MB / p,
        "operators.fetch_wait_s": tot("fetch_wait_ms") / 1e3 / p,
        "operators.spill_mem_mb": tot("spill_mem") / MB / p,
        "operators.spill_disk_mb": tot("spill_disk") / MB / p,
        "operators.peak_exec_mb":
            max((t.get("peak_exec", 0) for t in tasks), default=0) / MB,
        "operators.keep_ratio": out_rows / in_rows if in_rows else 0.0,
        "plans.codegen_compile_s": codegen / p,
        "plans.codegen_compiles":
            sum(counter_diff(a, b, "codegen_compiles") for a, b in c1s) / p,
        "streaming.batches": len(batches) / p,
        "streaming.batch_p50_ms": statistics.median(
            [b["trigger_ms"] for b in batches]) if batches else 0.0,
        "streaming.offset_ms":
            sum(b["offset_ms"] + b["get_batch_ms"] for b in batches) / p,
        "streaming.planning_ms": sum(b["planning_ms"] for b in batches) / p,
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches) / p,
        "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches) / p,
        "spark.jobs": len(jobs) / p,
        "spark.stages": len(stages) / p,
        "spark.tasks": len(tasks) / p,
        "spark.tasks_failed": sum(not t["ok"] for t in tasks) / p,
        "spark.task_run_s": tot("run_ms") / 1e3 / p,
        "spark.task_cpu_s": tot("cpu_ns") / 1e9 / p,
        "spark.gc_s": tot("gc_ms") / 1e3 / p,
        "spark.core_util": tot("run_ms") / (wall_ms * CORES) if wall_ms else 0.0,
    }, jobs, stages, batches


def qe_layers(events, windows, n_pass):
    qes = [e for e in events if e["ev"] == "qe"
           and any(lo <= e["t"] <= hi for lo, hi in windows)]
    return {f"queries.{k}": sum(q[k] for q in qes) / n_pass
            for k in ("analysis_ms", "optimization_ms", "planning_ms")}


def attach_jobs(spans, parents, jobs, stages, batches):
    by_stage = {s["stage"]: s for s in stages}
    for j in jobs:
        jid = spans.add(f"job {j['job']}: {j['site']}", j["start"], j["end"],
                        spans.parent_at(parents, j["start"], j["end"]))
        for sid in j["stages"]:
            s = by_stage.get(sid)
            if s and s["start"]:
                spans.add(f"stage {sid}: {s['name']}", s["start"], s["end"], jid)
    for b in batches:
        end = b["t"] + b["trigger_ms"]
        spans.add(f"micro-batch {b['batch']}", b["t"], end,
                  spans.parent_at(parents, b["t"], end))


def etl_layers(events, start_s, wall_s, untraced_wall_s, input_bytes):
    """Layers of one traced `EtlMain` run that started at epoch `start_s`
    and took `wall_s` by the benchmark's clock.

    Jobs are put in phases by their call site in `EtlMain`, in run order:
    `scan` runs to the last job called from a `csv` write (the quarantine
    write, which also parses the input and fills the corrupt-split cache),
    `dedup_write` to the last job of the first `parquet` call site after
    it, and `report` is everything after. `etl.<phase>_s` is a phase's job
    time (the union of its jobs' spans) and `etl.<phase>_gap_s` the CLI's
    time between its jobs (the phase's span, first job start to last job
    end, minus its job time). `etl.outside_jobs_s` is the wall time outside
    every job span, as `queries.outside_jobs_s` is for in-process ops, so
    it holds the gaps too, and job times plus it make the wall time.

    What does not hold by construction is checked: the child's own clock,
    from its JVM's start to the application's end, must account for the
    wall time measured around the process to within TRACE_WALL_TOLERANCE
    (the rest is process launch and JVM exit). The result's `ok` is False
    when it does not."""
    lo, hi = start_s * 1e3, (start_s + wall_s) * 1e3
    jobs = sorted(jobs_of(events), key=lambda j: j["start"])
    last_csv = max((i for i, j in enumerate(jobs)
                    if j["site"].startswith("csv at")), default=-1)
    writes = [j["site"] for j in jobs[last_csv + 1:]
              if j["site"].startswith("parquet at")]
    last_write = max((i for i, j in enumerate(jobs)
                      if writes and j["site"] == writes[0]), default=last_csv)
    phase_of = {j["job"]: "scan" if i <= last_csv else
                "dedup_write" if i <= last_write else "report"
                for i, j in enumerate(jobs)}
    spans = Spans("etl_fit")
    root = spans.add("etl_fit run", lo, hi)
    op = spans.add("EtlMain", lo, hi, root)
    phase_spans, metrics = [], {}
    for ph in ETL_PHASES:
        js = [(j["start"], j["end"]) for j in jobs if phase_of[j["job"]] == ph]
        job_ms = union_ms(js, lo, hi)
        span_ms = 0.0
        if js:
            a, b = min(a for a, _ in js), max(b for _, b in js)
            phase_spans.append(spans.add(f"phase {ph}", a, b, op))
            span_ms = b - a
        metrics[f"etl.{ph}_s"] = job_ms / 1e3
        metrics[f"etl.{ph}_gap_s"] = (span_ms - job_ms) / 1e3
    metrics["etl.outside_jobs_s"] = (
        hi - lo - union_ms([(j["start"], j["end"]) for j in jobs], lo, hi)) / 1e3
    c = {e["label"]: e for e in events if e["ev"] == "counters"}
    spark, jobs_in, stages, batches = spark_layers(
        events, [(lo, hi)], 1, input_bytes,
        [(c.get("app_start"), c.get("app_end"))])
    metrics.update(spark)
    metrics.update(qe_layers(events, [(lo, hi)], 1))
    scan = [spans.items[i] for i in phase_spans
            if spans.items[i]["name"] == "phase scan"]
    metrics["sources.corrupt_rows"] = sum(
        e.get("out_rows", 0) for e in events if e["ev"] == "task" and scan
        and scan[0]["start"] <= e["t"] <= scan[0]["end"])
    metrics["trace.overhead_s"] = wall_s - untraced_wall_s
    attach_jobs(spans, phase_spans, jobs_in, stages, batches)
    jvm = [e["start"] for e in events if e["ev"] == "jvm"]
    seen_s = (c["app_end"]["t"] - jvm[0]) / 1e3 \
        if jvm and "app_end" in c else 0.0
    err = abs(wall_s - seen_s) / wall_s
    ok = err <= TRACE_WALL_TOLERANCE
    jobs_s = sum(metrics[f"etl.{p}_s"] for p in ETL_PHASES)
    gaps_s = sum(metrics[f"etl.{p}_gap_s"] for p in ETL_PHASES)
    notes = [f"etl phase jobs {jobs_s:.3f} s (gaps inside phases "
             f"{gaps_s:.3f} s) + outside jobs "
             f"{metrics['etl.outside_jobs_s']:.3f} s = CLI wall {wall_s:.3f} s",
             f"trace accounts for {seen_s:.3f} s (JVM start to application "
             f"end, child's clock) of the {wall_s:.3f} s CLI wall: off by "
             f"{100 * err:.2f}%, tolerance {100 * TRACE_WALL_TOLERANCE:.0f}%: "
             f"{'ok' if ok else 'EXCEEDED, traced op counted failed'}",
             f"tracing overhead {metrics['trace.overhead_s']:+.3f} s "
             f"(traced {wall_s:.3f} s - untraced {untraced_wall_s:.3f} s)"]
    return {"metrics": metrics, "spans": spans.done(), "notes": notes,
            "ok": ok}


def inprocess_layers(events, recs, n_pass, traced_pass_s, untraced_pass_s,
                     input_bytes, probes):
    """Layers of the traced in-process JVM: ops come from the harness's own
    timings, windows from its per-pass counter snapshots."""
    marks = [e for e in events if e["ev"] == "counters"]
    starts = [e for e in marks if e["label"] == "pass_start"]
    ends = [e for e in marks if e["label"] == "pass_end"]
    pairs = list(zip(starts, ends))
    windows = [(a["t"], b["t"]) for a, b in pairs]
    spark, jobs, stages, batches = spark_layers(
        events, windows, n_pass, input_bytes, pairs)
    metrics = dict(spark)
    metrics.update(qe_layers(events, windows, n_pass))
    spans = Spans("query_mix")
    root = spans.add("query_mix run", min(a for a, _ in windows),
                     max(b for _, b in windows))
    leaf = []
    outside = 0.0
    all_jobs = [(j["start"], j["end"]) for j in jobs]
    for r in recs:
        t0 = r["t0"]
        t1 = t0 + r["build_ns"] / 1e6
        t2 = t1 + r["action_ns"] / 1e6
        op = spans.add(f"op {r['op']} (pass {r['pass']})", t0, t2, root)
        leaf.append(spans.add("build", t0, t1, op))
        leaf.append(spans.add("action", t1, t2, op))
        outside += (t2 - t0) - union_ms(all_jobs, t0, t2)
    metrics["queries.build_s"] = sum(r["build_ns"] for r in recs) / 1e9 / n_pass
    metrics["queries.action_s"] = sum(r["action_ns"] for r in recs) / 1e9 / n_pass
    metrics["queries.outside_jobs_s"] = outside / 1e3 / n_pass
    metrics["index.write_s"], metrics["index.read_s"] = index_write_read(
        recs, probes, n_pass)
    metrics["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    attach_jobs(spans, leaf, jobs, stages, batches)
    notes = [f"tracing overhead {metrics['trace.overhead_s']:+.3f} s per pass "
             f"(traced {traced_pass_s:.3f} s - untraced {untraced_pass_s:.3f} s)"]
    return {"metrics": metrics, "spans": spans.done(), "notes": notes}


def index_write_read(recs, probes, n_pass):
    """Stored-index writes (probe builds) and reads (probe actions), s per
    pass."""
    w = sum(r["build_ns"] for r in recs if r["op"] in probes)
    rd = sum(r["action_ns"] for r in recs if r["op"] in probes)
    return w / 1e9 / n_pass, rd / 1e9 / n_pass
