#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload etl_fit --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first call builds the program and the
benchmark's JVM side (`perfbench/harness`, an sbt build that loads the
repository's own build) into `target/` directories, and records the
classpath in `.bench_build/`; later calls rebuild only when a source file
changed. Inputs are generated from `--seed` under `.bench_build/work/`.

Workloads (one client, closed loop, `local[4]`):

* `etl_fit` - the `graft.EtlMain` CLI as a child JVM at `-Xmx512m` on a
  seeded dirty transaction CSV well under that heap. Set-up is the same CLI
  on a header-only CSV. Every run's output is checked against the
  generator's own bookkeeping (rows, content hash, quarantined lines).
* `query_mix` - registry ops in one `perfbench.Harness` JVM at `-Xmx1g`
  over seeded star tables: short analytic queries, an AvailableNow
  streaming rollup, and a stored-index build (a write) and probe (a read).
  Each op is `Queries.all(op)(spark, dir)` and a `noop` write inside
  `CacheScope.withScope`; set-up is JVM start to a session that has run
  one small aggregate. Each op's result is checked against its
  `Oracles.all` SQL in DuckDB outside the timed region.
* `etl_overheap` - `etl_fit` with input twice the heap; not in
  BENCHMARK.json because one op takes minutes.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics (from listeners installed in the
measured JVM) with `--trace 1`. A traced run skips the set-ups, measures
once untraced and once traced, reports the difference as
`trace.overhead_s`, and writes its spans to `.bench_build/trace/`. Lines
before the last one are for people.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

# What each workload runs. `nominal_s` is the expected length of one pass;
# a run makes round(--seconds / nominal_s) passes, at least one, so the
# amount of work in a run does not depend on how fast it went. `setups` is
# the number of set-ups in a run, and setup_s is their median. The CLI
# sets up twice, not three times like the in-process JVM (whose measured
# JVM is one of its set-ups): a third 13-19 s CLI set-up would make an
# `etl_fit` run about 30% longer.
ETL = {"heap": "512m", "rows": 200_000, "nominal_s": 20.0, "timeout": 170,
       "setups": 2}
# The reference's design point: input at least twice the CLI's heap
# (about 1.1 GB at -Xmx512m, the smallest heap Spark starts with). One op
# takes minutes, too long for the benchmark's run budget, so it is not in
# BENCHMARK.json; run it by name to see how the CLI fares.
ETL_OVERHEAP = dict(ETL, rows=20_000_000, timeout=1800)
# Short registry queries, then one micro-batch streaming query and one
# stored-index family (build = write, probe = read).
QUERY_OPS = ["q09_sql_surface", "q13_window_orders", "q46_approx_percentile"]
STREAM_OPS = ["q57_streaming_rollup"]
PROBE_OPS = ["q165_bm25_indexed"]
QM = {"heap": "1g", "sf": 0.01, "docs": 500, "vecs": 500, "nominal_s": 20.0,
      "setups": 3, "ops": QUERY_OPS + STREAM_OPS + PROBE_OPS}
WARM = {"sf": 0.001, "docs": 100, "vecs": 100}
WORKLOADS = ["etl_fit", "query_mix"]

# Op latency percentiles are printed but not end-to-end metrics: a run has
# one CLI op or five registry ops, so its median is the latency of a single
# op and no percentile has ten samples beyond it.
END_TO_END = {"setup_s": "s", "wall_s": "s", "mb_s": "MB/s", "peak_rss_mb": "MB"}

# Spark 4 on JDK 17 outside spark-submit needs these; the same list as the
# repository's build.sbt passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
LISTENER_PROPS = [
    "-Dspark.extraListeners=perfbench.JobListener",
    "-Dspark.sql.queryExecutionListeners=perfbench.QueryListener",
]


def log(*a):
    print(*a, flush=True)


# ---- build -----------------------------------------------------------------

def _sources():
    yield ROOT / "build.sbt"
    for base in [ROOT / "project", ROOT / "src" / "main",
                 HERE / "harness"]:
        for p in sorted(base.rglob("*")):
            if p.is_file() and "target" not in p.relative_to(base).parts \
                    and p.suffix in (".scala", ".java", ".sbt", ".properties"):
                yield p


def build():
    """Compile the program and the harness when sources changed; return
    the runtime classpath."""
    stamp = hashlib.sha256()
    for p in _sources():
        stamp.update(str(p.relative_to(ROOT)).encode())
        stamp.update(p.read_bytes())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt ...")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE / "harness",
                       env=env, stdout=out, timeout=850)[0]
    lines = (BUILD / "build.log").read_text().strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit(f"build failed (exit {rc}); see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


# ---- child processes -------------------------------------------------------

def _vm_hwm_kb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def run_child(cmd, cwd, env=None, stdout=None, timeout=170, ready=None):
    """Run `cmd` to completion and return (exit code, wall s, peak RSS MB,
    s until a line equal to `ready` appeared on stdout or None). Peak RSS is
    the child's VmHWM, sampled from /proc every 50 ms until it exits."""
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if ready else stdout,
                            stderr=subprocess.STDOUT if stdout else subprocess.DEVNULL,
                            text=True)
    seen = {}
    reader = None
    if ready:
        def read():
            for line in proc.stdout:
                if line.strip() == ready and "t" not in seen:
                    seen["t"] = time.monotonic() - t0
                if stdout:
                    stdout.write(line)
        reader = threading.Thread(target=read, daemon=True)
        reader.start()
    hwm = 0
    try:
        while proc.poll() is None:
            hwm = max(hwm, _vm_hwm_kb(proc.pid))
            if time.monotonic() - t0 > timeout:
                raise subprocess.TimeoutExpired(cmd, timeout)
            time.sleep(0.05)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    wall = time.monotonic() - t0
    if reader:
        reader.join()
    return proc.returncode, wall, hwm / 1024.0, seen.get("t")


def java(cp, heap, main, args, extra=()):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", f"-Xmx{heap}"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}"]
            + list(extra) + ["-cp", cp, main] + list(args))


# ---- statistics ------------------------------------------------------------

def tail(samples):
    """(value, percentile, samples beyond it): the highest nearest-rank
    percentile with at least ten samples beyond it; the maximum when there
    are ten samples or fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def end_to_end(setups, passes, ops, mb, rss):
    value, pct, beyond = tail(ops)
    log(f"op p50 {statistics.median(ops):.4f} s, op tail {value:.4f} s: "
        f"p{pct:.1f} of {len(ops)} op samples, {beyond} beyond it")
    return {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(passes),
        "mb_s": mb / statistics.median(passes),
        "peak_rss_mb": rss,
    }


# ---- workloads -------------------------------------------------------------
#
# Each workload returns (attempted, failed, result): the end-to-end metrics,
# or with trace on the per-layer metrics, spans and notes of `layers`. With
# trace off it sets up `setups` times and measures; with trace on it skips the
# set-ups and runs the measured part twice, untraced and then traced, so
# that the difference is the tracing overhead.

def passes_for(seconds, nominal):
    return max(1, round(seconds / nominal))


def etl_fit(cp, work, seed, seconds, trace, cfg=ETL):
    csv, header = work / "txn.csv", work / "header.csv"
    con = gen.connect(spill_dir=work / "duckdb_tmp")
    planted, expected = gen.txn_csv(str(csv), seed, cfg["rows"], con)
    header.write_text(gen.HEADER + "\n")
    mb = expected["bytes"] / 1e6
    log(f"input {mb:.2f} MB, {cfg['rows']} rows, heap -Xmx{cfg['heap']}, "
        f"planted {json.dumps(planted)}")
    attempted = failed = 0

    def cli(name, inp, extra=()):
        nonlocal attempted, failed
        out = work / name
        with open(f"{out}.log", "w") as lg:
            rc, wall, hwm, _ = run_child(
                java(cp, cfg["heap"], "graft.EtlMain",
                     [str(inp), str(out), "--cores", str(layers.CORES),
                      "--run-ts", gen.RUN_TS], extra), cwd=work, stdout=lg,
                timeout=cfg["timeout"])
        ok = rc == 0 and (inp == header or etl_output_ok(con, out, expected))
        attempted += 1
        failed += not ok
        log(f"{name}: {wall:.3f} s, exit {rc}, peak RSS {hwm:.0f} MB, "
            f"{'ok' if ok else 'FAILED'}")
        return wall, hwm

    if not trace:
        setups = [cli(f"setup{i}", header)[0]
                  for i in range(cfg["setups"])]
        runs = [cli(f"op{i}", csv)
                for i in range(passes_for(seconds, cfg["nominal_s"]))]
        walls = [w for w, _ in runs]
        con.close()
        return attempted, failed, end_to_end(
            setups, walls, walls, mb, max(h for _, h in runs))
    untraced, _ = cli("op", csv)
    events = work / "trace.jsonl"
    start = time.time()
    failed_before = failed
    wall, _ = cli("op_traced", csv,
                  LISTENER_PROPS + [f"-Dperfbench.trace.out={events}"])
    con.close()
    result = layers.etl_layers(layers.read_events(events), start, wall,
                               untraced, expected["bytes"])
    # a trace that does not account for the CLI's wall time fails the op
    if failed == failed_before and not result["ok"]:
        failed += 1
    return attempted, failed, result


def etl_overheap(cp, work, seed, seconds, trace):
    return etl_fit(cp, work, seed, seconds, trace, ETL_OVERHEAP)


def etl_output_ok(con, out, expected):
    try:
        rows, digest = gen.written_output(con, out)
        quarantined = oracle.quarantined_lines(out / "_corrupt")
    except Exception as e:  # missing or unreadable output is a wrong output
        log(f"  output unreadable: {e}")
        return False
    good = (rows == expected["rows"] and int(digest) == expected["hash"]
            and quarantined == expected["quarantined"])
    if not good:
        log(f"  expected rows={expected['rows']} hash={expected['hash']} "
            f"quarantined={len(expected['quarantined'])}; got rows={rows} "
            f"hash={digest} quarantined={len(quarantined)}")
    return good


def query_mix(cp, work, seed, seconds, trace):
    data, warm = work / "data", work / "warm"
    gen.star(str(data), seed, QM["sf"], QM["docs"], QM["vecs"])
    gen.star(str(warm), seed + 1_000_003, WARM["sf"], WARM["docs"],
             WARM["vecs"])
    input_bytes = sum(p.stat().st_size for p in data.glob("*.parquet"))
    ops = QM["ops"]
    n_pass = passes_for(seconds, QM["nominal_s"])
    log(f"input {input_bytes / 1e6:.2f} MB of parquet at sf {QM['sf']}, "
        f"heap -Xmx{QM['heap']}, {len(ops)} ops x {n_pass} pass(es)")
    attempted = failed = 0

    def harness(name, args):
        nonlocal attempted, failed
        out = work / name
        out.mkdir()
        with open(f"{out}.log", "w") as lg:
            rc, wall, hwm, ready = run_child(
                java(cp, QM["heap"], "perfbench.Harness",
                     ["--data", str(data), "--warm", str(warm), "--out",
                      str(out)] + args),
                cwd=work, stdout=lg, ready="READY")
        log(f"{name}: set-up {ready or math.inf:.3f} s, exit {rc}, "
            f"peak RSS {hwm:.0f} MB")
        if "--setup-only" in args:
            attempted += 1
            failed += rc != 0 or ready is None
            return ready or math.inf
        recs = [json.loads(line) for line in
                (out / "ops.jsonl").read_text().splitlines()] \
            if (out / "ops.jsonl").exists() else []
        for r in recs:
            log(f"  pass {r['pass']} {r['op']}: build "
                f"{r['build_ns'] / 1e9:.3f} s, action {r['action_ns'] / 1e9:.3f} s"
                f"{'' if r['ok'] else ', FAILED'}")
        wrong = set(oracle.check_ops(out, data, ops, log))
        attempted += len(ops) * n_pass
        failed += max(len(ops) * n_pass - len(recs), 0) + sum(
            not r["ok"] or (r["pass"] == 0 and r["op"] in wrong) for r in recs)
        failed += rc != 0 and len(recs) == len(ops) * n_pass
        return ready or math.inf, hwm, recs, out

    main = ["--ops", ",".join(ops), "--passes", str(n_pass)]
    if not trace:
        setups = [harness(f"setup{i}", ["--setup-only"])
                  for i in range(QM["setups"] - 1)]
        ready, rss, recs, _ = harness("main", main)
        passes, lat = pass_times(recs)
        log("index write_s {:.3f} s, read_s {:.3f} s per pass".format(
            *layers.index_write_read(recs, PROBE_OPS, n_pass)))
        return attempted, failed, end_to_end(
            setups + [ready], passes or [math.inf], lat or [math.inf],
            input_bytes / 1e6, rss)
    _, _, recs, _ = harness("main", main)
    _, _, traced_recs, out = harness("traced", main + ["--trace", "1"])
    return attempted, failed, layers.inprocess_layers(
        layers.read_events(out / "trace.jsonl"), traced_recs, n_pass,
        statistics.median(pass_times(traced_recs)[0] or [math.nan]),
        statistics.median(pass_times(recs)[0] or [math.nan]), input_bytes,
        PROBE_OPS)


def pass_times(recs):
    by_pass = {}
    lat = []
    for r in recs:
        d = (r["build_ns"] + r["action_ns"]) / 1e9
        by_pass[r["pass"]] = by_pass.get(r["pass"], 0.0) + d
        lat.append(d)
    return [by_pass[k] for k in sorted(by_pass)], lat


# ---- main ------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["etl_overheap"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        print(f"no program sources next to {HERE.name}/ "
              "(run from the root of a checkout)", file=sys.stderr)
        return 2
    cp = build()
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    fn = {"etl_fit": etl_fit, "query_mix": query_mix,
          "etl_overheap": etl_overheap}[a.workload]
    attempted, failed, result = fn(cp, work, a.seed, a.seconds, a.trace)
    log(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    if a.trace:
        result["metrics"]["ops.failed_ratio"] = failed / attempted
        tdir = BUILD / "trace"
        tdir.mkdir(exist_ok=True)
        path = tdir / f"{a.workload}-seed{a.seed}.json"
        path.write_text(json.dumps(result["spans"]))
        log(f"spans written to {path}")
        for line in result["notes"]:
            log(line)
        metrics = {k: {"value": result["metrics"].get(k, 0.0), "unit": u}
                   for k, u in layers.UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in result.items()}
    for k, v in metrics.items():
        log(f"{k} {v['value']:.6g} {v['unit']}")
        if not math.isfinite(v["value"]):  # a failed run; JSON has no inf
            v["value"] = 0.0
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
