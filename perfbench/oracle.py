"""Output checks that run outside the timed region.

`check_ops` compares each in-process op's result (written by the harness
to `<out>/check/<op>`) with its `Oracles.all` SQL run by DuckDB over the
same generated tables, with the canonicalisation and value equality of
the repository's oracle gate, imported from `tools/check.py`: columns
sorted by name, rows sorted by their string form, floats compared exactly.
Queries whose output is an engine-specific sketch have no oracle; for
those only the row count is compared, against the SQL in `ROWS_ONLY`.
"""
import csv
import glob
import json
import sys
from pathlib import Path

import duckdb

from gen import TABLES

TOOLS = Path(__file__).resolve().parents[1] / "tools"

ROWS_ONLY = {
    # one row per l_returnflag, whatever the sketch estimates
    "q46_approx_percentile": "SELECT count(DISTINCT l_returnflag) FROM lineitem",
}


def compare(con, files, sql):
    """None when the parquet `files` hold what `sql` returns, else why not."""
    if str(TOOLS) not in sys.path:
        sys.path.insert(0, str(TOOLS))
    from check import canon, eq  # the oracle gate's own comparison

    sp = con.execute(f"SELECT * FROM read_parquet({files!r})")
    sp_cols = [d[0] for d in sp.description]
    sp_rows = sp.fetchall()
    du = con.execute(sql)
    du_cols = [d[0] for d in du.description]
    du_rows = du.fetchall()
    if sorted(sp_cols) != sorted(du_cols):
        return f"columns {sorted(sp_cols)} != {sorted(du_cols)}"
    a, b = canon(sp_rows, sp_cols)[0], canon(du_rows, du_cols)[0]
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if not all(eq(u, v) for u, v in zip(x, y)):
            return f"row {i}: {x} != {y}"
    return None


def check_ops(out, data, ops, log):
    """Names of the ops whose checked result is missing or wrong."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    sql = json.loads((out / "oracle_sql.json").read_text()) \
        if (out / "oracle_sql.json").exists() else {}
    bad = []
    for op in ops:
        files = sorted(glob.glob(f"{out}/check/{op}/*.parquet"))
        try:
            if not files:
                why = "no result written"
            elif op in ROWS_ONLY:
                n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})"
                                ).fetchone()[0]
                want = con.execute(ROWS_ONLY[op]).fetchone()[0]
                why = None if n == want else f"{n} rows != {want}"
            elif op in sql:
                why = compare(con, files, sql[op])
            else:
                why = "no oracle"
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            log(f"check FAIL {op}: {why}")
            bad.append(op)
    con.close()
    log(f"checked {len(ops)} op results: {len(ops) - len(bad)} pass, "
        f"{len(bad)} fail")
    return bad


def quarantined_lines(corrupt_dir):
    """The raw lines `EtlMain` quarantined, sorted."""
    lines = []
    for path in sorted(glob.glob(f"{corrupt_dir}/*.csv")):
        with open(path, newline="") as f:
            lines.extend(row[0] for row in csv.reader(f) if row)
    return sorted(lines)
