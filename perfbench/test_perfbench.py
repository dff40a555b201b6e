"""Self-tests of the benchmark (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
ROWS = 20000


def parse_txn(path):
    """Read a generated CSV the way the ETL spec does, independently of the
    generator's bookkeeping: (planted counts, expected rows, quarantine)."""
    with open(path, newline="") as f:
        lines = f.read().split("\n")
    assert lines[0] == gen.HEADER and lines[-1] == ""
    counts = {k: 0 for k, _ in gen.TXN_KINDS}
    seen, dups, keep, quarantine = set(), 0, {}, []
    for line in lines[1:-1]:
        fields = line.split(",")
        if len(fields) != 5:
            counts["malformed"] += 1
            quarantine.append(line)
            continue
        tid, uid, amount, ts, status = fields
        if tid:
            dups += tid in seen
            seen.add(tid)
        if not tid or not uid:
            counts["null_key"] += 1
            continue
        try:
            value = float(amount)
        except ValueError:
            counts["bad_amount"] += 1
            continue
        if value < 0:
            counts["negative"] += 1
            continue
        norm = status.strip().lower()
        if norm == "cancelled":
            counts["cancelled"] += 1
            continue
        if not status:
            counts["null_status"] += 1
            norm = "unknown"
        elif norm != status:
            counts["padded"] += 1
        cents = round(value * 100)
        row = (tid, uid, value, ts, norm)
        best = keep.get(tid)
        if best is None or (cents, uid, ts, norm) > best[0]:
            keep[tid] = ((cents, uid, ts, norm), row)
    counts["duplicate_keys"] = dups
    return counts, [r for _, r in keep.values()], sorted(quarantine)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = Path(tempfile.mkdtemp())
        cls.a = cls.tmp / "a.csv"
        cls.planted, cls.expected = gen.txn_csv(str(cls.a), 7, ROWS)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        b, c = self.tmp / "b.csv", self.tmp / "c.csv"
        gen.txn_csv(str(b), 7, ROWS)
        gen.txn_csv(str(c), 8, ROWS)
        self.assertEqual(self.a.read_bytes(), b.read_bytes())
        self.assertNotEqual(self.a.read_bytes(), c.read_bytes())

    def test_planted_counts_match_the_file(self):
        counts, _, _ = parse_txn(self.a)
        for k, v in counts.items():
            self.assertEqual(v, self.planted[k], k)
            self.assertGreater(v, 0, k)

    def test_expected_output_matches_the_file(self):
        _, rows, quarantine = parse_txn(self.a)
        self.assertEqual(quarantine, self.expected["quarantined"])
        self.assertEqual(len(rows), self.expected["rows"])
        con = gen.connect()
        con.execute("CREATE TABLE t (transaction_id VARCHAR, user_id VARCHAR, "
                    "amount DOUBLE, ts VARCHAR, status VARCHAR, "
                    "processed_at VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)",
                        [r + (gen.RUN_TS,) for r in rows])
        digest = con.execute(f"SELECT {gen.ROW_HASH} FROM t").fetchone()[0]
        self.assertEqual(int(digest), self.expected["hash"])

    def test_star_tables_are_seeded(self):
        for seed, name in ((3, "x"), (3, "y"), (4, "z")):
            gen.star(str(self.tmp / name), seed, 0.0005, 40, 30)
        same = all((self.tmp / "x" / f"{t}.parquet").read_bytes()
                   == (self.tmp / "y" / f"{t}.parquet").read_bytes()
                   for t in gen.TABLES)
        self.assertTrue(same)
        self.assertNotEqual((self.tmp / "x" / "lineitem.parquet").read_bytes(),
                            (self.tmp / "z" / "lineitem.parquet").read_bytes())


class MetricTest(unittest.TestCase):
    def test_metric_names(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names + list(run.END_TO_END) + list(layers.UNITS):
            self.assertRegex(n, NAME)

    def test_benchmark_json_matches_the_code(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         layers.UNITS)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         run.WORKLOADS)

    def test_one_command_prints_every_metric_with_its_unit(self):
        def fake(cp, work, seed, seconds, trace):
            if trace:
                return 3, 0, {"metrics": {k: 1.5 for k in layers.UNITS},
                              "spans": [], "notes": []}
            return 3, 0, {k: 1.5 for k in run.END_TO_END}

        saved = (run.build, run.etl_fit, run.query_mix, run.BUILD)
        run.build = lambda: "cp"
        run.etl_fit = run.query_mix = fake
        run.BUILD = Path(tempfile.mkdtemp())
        try:
            for trace, units in ((0, run.END_TO_END), (1, layers.UNITS)):
                for w in run.WORKLOADS:
                    out = io.StringIO()
                    with contextlib.redirect_stdout(out):
                        rc = run.main(["--workload", w, "--seed", "1",
                                       "--seconds", "1", "--trace", str(trace)])
                    self.assertEqual(rc, 0)
                    last = json.loads(out.getvalue().strip().splitlines()[-1])
                    self.assertEqual(set(last), {"correct", "attempted",
                                                 "failed", "metrics"})
                    self.assertEqual({k: v["unit"] for k, v in
                                      last["metrics"].items()}, units)
        finally:
            shutil.rmtree(run.BUILD)
            run.build, run.etl_fit, run.query_mix, run.BUILD = saved

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, Path(d) / HERE.name,
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(HERE.parent / "BENCHMARK.json", d)
            p = subprocess.run(
                [sys.executable, f"{HERE.name}/run.py", "--workload",
                 run.WORKLOADS[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)

    def test_etl_trace_must_account_for_the_wall_time(self):
        def events(jvm_start, app_end):
            ev = [{"ev": "jvm", "start": jvm_start},
                  {"ev": "counters", "label": "app_start", "t": 1000},
                  {"ev": "counters", "label": "app_end", "t": app_end}]
            for job, (a, b, site) in enumerate([
                    (2000, 3000, "csv at EtlMain.scala:66"),
                    (3500, 5000, "parquet at EtlMain.scala:76"),
                    (5200, 5400, "show at EtlMain.scala:82"),
                    (5600, 6000, "count at EtlMain.scala:87")]):
                ev += [{"ev": "job_start", "job": job, "t": a, "exec": "-1",
                        "site": site, "stages": ""},
                       {"ev": "job_end", "job": job, "t": b, "ok": True}]
            return ev

        good = layers.etl_layers(events(10, 6400), 0.0, 6.5, 6.4, 100)
        m = good["metrics"]
        self.assertTrue(good["ok"])
        self.assertEqual((m["etl.scan_s"], m["etl.dedup_write_s"],
                          m["etl.report_s"]), (1.0, 1.5, 0.6))
        self.assertEqual((m["etl.scan_gap_s"], m["etl.report_gap_s"]),
                         (0.0, 0.2))
        self.assertAlmostEqual(m["etl.outside_jobs_s"], 6.5 - 3.1)
        # a trace that misses a second of the CLI's wall time fails
        self.assertFalse(
            layers.etl_layers(events(10, 5400), 0.0, 6.5, 6.4, 100)["ok"])

    def test_tail_and_union(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(run.tail(xs), (90.0, 90.0, 10))
        self.assertEqual(layers.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(layers.union_ms([(0, 10), (5, 20)], 8, 12), 4)


if __name__ == "__main__":
    unittest.main()
