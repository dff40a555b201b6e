"""Seeded input generators for the benchmark.

Every value is a function of (seed, row number, salt) through DuckDB's
`hash`, so the same seed gives the same bytes and no state is carried
between rows. Two generators:

* `txn_csv` writes a dirty transaction CSV in the schema `graft.EtlMain`
  reads, and returns the counts it planted plus the expected output
  (rows written, order-independent content hash, quarantined lines),
  worked out from its own bookkeeping rather than by re-parsing the file.
* `star` writes the ten parquet tables the registry queries read
  (region … lineitem, events, documents, embeddings) at a chosen scale,
  calibrated to the repository's sf0.01 test data: the same column names
  and types, row counts, vocabulary and document lengths, value ranges,
  row order and parquet writer (perfbench/BASELINE.md compares the two).
"""
import os

import duckdb
import pyarrow.parquet as pq

# Row kinds the transaction generator plants, with their share of rows.
# Each row gets exactly one kind from one uniform draw.
TXN_KINDS = [
    ("malformed", 0.002),   # wrong field count: quarantined by the CSV scan
    ("null_key", 0.003),    # empty transaction_id or user_id: dropped
    ("bad_amount", 0.005),  # amount that is not a number: dropped
    ("negative", 0.010),    # amount < 0: dropped
    ("cancelled", 0.020),   # cancelled in any case/padding: dropped
    ("padded", 0.020),      # status with case/padding noise: normalised
    ("null_status", 0.005), # empty status: becomes "unknown"
]
DUP_SHARE = 0.10            # rows that reuse an earlier row's key
STATUSES = ["completed", "pending", "failed", "refunded"]
HEADER = "transaction_id,user_id,amount,ts,status"
RUN_TS = "2024-02-01T00:00:00Z"


def connect(threads=2, spill_dir=None):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='1GB'")
    if spill_dir:
        con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET preserve_insertion_order=true")
    con.execute("SET enable_progress_bar=false")
    return con


def _macros(con, seed):
    # u(i, salt): uniform in [0, 1); n(i, salt, k): uniform int in [0, k)
    con.execute(f"CREATE OR REPLACE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 4294967296)::DOUBLE / 4294967296.0")
    con.execute("CREATE OR REPLACE MACRO n(i, salt, k) AS "
                "least(floor(u(i, salt) * k)::BIGINT, k - 1)")


def txn_table(con, seed, rows):
    """Create table `txn`: one generated row per line, with its kind and
    the canonical values the program should produce for it."""
    _macros(con, seed)
    acc, cases = 0.0, []
    for kind, share in TXN_KINDS:
        acc += share
        cases.append(f"WHEN r < {acc!r} THEN '{kind}'")
    kind_case = "CASE " + " ".join(cases) + " ELSE 'clean' END"
    statuses = "[" + ",".join(f"'{s}'" for s in STATUSES) + "]"
    con.execute(f"""
    CREATE OR REPLACE TABLE txn AS
    WITH base AS (
      SELECT i,
             CASE WHEN i > 0 AND u(i, 'dup') < {DUP_SHARE}
                  THEN n(i, 'dupsrc', i) ELSE i END AS k,
             u(i, 'kind') AS r,
             'U' || lpad(n(i, 'user', 50000)::VARCHAR, 5, '0') AS user_id,
             n(i, 'cents', 1000000) AS cents,
             strftime(TIMESTAMP '2024-01-01' + to_seconds(n(i, 'ts', 2592000)),
                      '%Y-%m-%d %H:%M:%S') AS ts,
             {statuses}[1 + n(i, 'status', {len(STATUSES)})] AS status
      FROM range({int(rows)}) t(i))
    SELECT i, 'T' || lpad(k::VARCHAR, 9, '0') AS transaction_id, user_id,
           cents, ts, status, {kind_case} AS kind, n(i, 'variant', 3) AS v
    FROM base ORDER BY i""")


def _line_sql():
    # The CSV line each kind writes; the variant v picks one of its forms.
    return """
    CASE kind
      WHEN 'malformed' THEN CASE v
        WHEN 0 THEN transaction_id || ',' || user_id || ',' || ts
        WHEN 1 THEN transaction_id || ',' || user_id || ',' || amt || ',' || ts
                    || ',' || status || ',extra'
        ELSE 'garbage line ' || i END
      WHEN 'null_key' THEN CASE v
        WHEN 0 THEN ',' || user_id || ',' || amt || ',' || ts || ',' || status
        ELSE transaction_id || ',,' || amt || ',' || ts || ',' || status END
      WHEN 'bad_amount' THEN transaction_id || ',' || user_id || ','
        || ['abc', '12..5', 'N/A'][v + 1] || ',' || ts || ',' || status
      WHEN 'negative' THEN transaction_id || ',' || user_id || ',-'
        || (1 + cents // 100)::VARCHAR || ',' || ts || ',' || status
      WHEN 'cancelled' THEN transaction_id || ',' || user_id || ',' || amt
        || ',' || ts || ',' || ['cancelled', 'CANCELLED', ' Cancelled '][v + 1]
      WHEN 'padded' THEN transaction_id || ',' || user_id || ',' || amt
        || ',' || ts || ',' || [' ' || status || ' ', upper(status),
                                 status || '  '][v + 1]
      WHEN 'null_status' THEN transaction_id || ',' || user_id || ',' || amt
        || ',' || ts || ','
      ELSE transaction_id || ',' || user_id || ',' || amt || ',' || ts
        || ',' || status END"""


def txn_csv(path, seed, rows, con=None):
    """Write the dirty CSV to `path`; return the planted counts and the
    expected output of `EtlMain --run-ts RUN_TS` on it."""
    own = con is None
    con = con or connect()
    txn_table(con, seed, rows)
    con.execute(f"""CREATE OR REPLACE VIEW lines AS
      SELECT i, kind, {_line_sql()} AS line
      FROM (SELECT *, (cents // 100)::VARCHAR || '.'
                      || lpad((cents % 100)::VARCHAR, 2, '0') AS amt FROM txn)""")
    # streamed in table order (insertion order is preserved), so memory
    # stays flat for inputs larger than DuckDB's memory limit
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write(HEADER + "\n")
        cur = con.execute("SELECT line FROM lines")
        while chunk := cur.fetchmany(100_000):
            f.write("\n".join(r[0] for r in chunk))
            f.write("\n")
    counts = dict(con.execute(
        "SELECT kind, count(*) FROM txn GROUP BY kind").fetchall())
    planted = {k: counts.get(k, 0) for k, _ in TXN_KINDS}
    planted["clean"] = counts.get("clean", 0)
    planted["rows"] = int(rows)
    # lines that repeat a transaction_id of an earlier parseable line
    planted["duplicate_keys"] = con.execute(
        "SELECT count(*) - count(DISTINCT transaction_id) FROM txn "
        "WHERE kind <> 'malformed' AND NOT (kind = 'null_key' AND v = 0)"
    ).fetchone()[0]
    expected = expected_output(con)
    expected["quarantined"] = sorted(r[0] for r in con.execute(
        "SELECT line FROM lines WHERE kind = 'malformed'").fetchall())
    expected["bytes"] = os.path.getsize(path)
    if own:
        con.close()
    return planted, expected


def expected_output(con):
    """Rows of `transactions/` the spec demands, from the bookkeeping:
    drop the rejected kinds, normalise status, keep per key the row with
    the greatest (amount, user_id, ts, status)."""
    con.execute(f"""CREATE OR REPLACE VIEW expected AS
      SELECT transaction_id, user_id, amount, ts, status,
             '{RUN_TS}' AS processed_at
      FROM (SELECT transaction_id, user_id, cents / 100.0 AS amount, ts,
                   CASE WHEN kind = 'null_status' THEN 'unknown' ELSE status END
                     AS status, cents
            FROM txn
            WHERE kind IN ('clean', 'padded', 'null_status'))
      QUALIFY row_number() OVER (PARTITION BY transaction_id
        ORDER BY cents DESC, user_id DESC, ts DESC, status DESC) = 1""")
    rows, digest = con.execute(
        "SELECT count(*), " + ROW_HASH + " FROM expected").fetchone()
    return {"rows": rows, "hash": int(digest)}


# Order-independent content hash of a transactions table: the sum of the
# row hashes, modulo 2^64.
ROW_HASH = ("coalesce(sum(hash(transaction_id, user_id, amount, ts, status, "
            "processed_at)::HUGEINT) % 18446744073709551616, 0)")


def written_output(con, out_dir):
    """(rows, content hash) of the parquet `EtlMain` wrote."""
    rel = f"read_parquet('{out_dir}/transactions/*.parquet')"
    return con.execute(f"SELECT count(*), {ROW_HASH} FROM "
                       f"(SELECT transaction_id, user_id, amount, ts, status, "
                       f"processed_at FROM {rel})").fetchone()


# ---- star schema for the registry queries ---------------------------------

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _lit(xs):
    return "[" + ",".join(f"'{x}'" for x in xs) + "]"


def star(out_dir, seed, sf, docs, vecs, con=None):
    """Write the ten tables to `<out_dir>/<table>.parquet` at scale `sf`
    (lineitem = 6M x sf rows), with `docs` documents and `vecs` vectors."""
    own = con is None
    con = con or connect()
    _macros(con, seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(int(150000 * sf), 10), max(int(10000 * sf), 5)
    n_part, n_ord = max(int(200000 * sf), 20), max(int(1500000 * sf), 100)
    n_line, n_ev = max(int(6000000 * sf), 400), max(int(1000000 * sf), 100)
    n_users = max(int(15000 * sf), 10)
    money = "round({} , 2)::DOUBLE"
    q = {
        "region": "SELECT i::INTEGER AS r_regionkey, "
                  "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] "
                  "AS r_name FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            n(i, 'cnat', 25)::INTEGER AS c_nationkey,
            {money.format("-999.99 + u(i, 'cbal') * 10999.98")} AS c_acctbal,
            {_lit(SEGMENTS)}[1 + n(i, 'cseg', 5)] AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            n(i, 'snat', 25)::INTEGER AS s_nationkey,
            {money.format("-999.99 + u(i, 'sbal') * 10999.98")} AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {_lit(PART_ADJ)}[1 + n(i, 'pn1', 8)] || ' '
              || {_lit(PART_NOUN)}[1 + n(i, 'pn2', 8)] AS p_name,
            'Brand#' || (1 + n(i, 'pbr', 25)) AS p_brand,
            {_lit(PART_TYPES)}[1 + n(i, 'pty', {len(PART_TYPES)})] AS p_type,
            (1 + n(i, 'psz', 50))::INTEGER AS p_size,
            round(900 + (i % 1000) / 10.0, 1)::DOUBLE AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, n(i, 'ocu', {n_cust}) AS o_custkey,
            ['O','F','P'][1 + n(i, 'ost', 3)] AS o_orderstatus,
            {money.format("1000 + u(i, 'otp') * 499000")} AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(n(i, 'odt', 2404)::INTEGER) AS o_orderdate,
            {_lit(PRIORITIES)}[1 + n(i, 'opr', 5)] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT i AS _row, n(i, 'lok', {n_ord}) AS l_orderkey,
            n(i, 'lpk', {n_part}) AS l_partkey, n(i, 'lsk', {n_supp}) AS l_suppkey,
            (1 + n(i, 'lln', 7))::INTEGER AS l_linenumber,
            (1 + n(i, 'lq', 50))::DOUBLE AS l_quantity,
            {money.format("900 + u(i, 'lep') * 104000")} AS l_extendedprice,
            n(i, 'ldi', 11) / 100.0 AS l_discount,
            n(i, 'ltx', 9) / 100.0 AS l_tax,
            ['A','N','R'][1 + n(i, 'lrf', 3)] AS l_returnflag,
            ['O','F'][1 + n(i, 'lls', 2)] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(n(i, 'lsd', 2498)::INTEGER) AS l_shipdate
            FROM range({n_line}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              (i * 2592000000000 // {n_ev}) + n(i, 'ets', 2592000000000 // {n_ev}))
              AS ts,
            n(i, 'eus', {n_users}) AS user_id,
            {_lit(EVENT_TYPES)}[1 + n(i, 'ety', 5)] AS event_type,
            greatest(round(-ln(1 - u(i, 'eva')) * 50, 2), 0.01)::DOUBLE AS value,
            '{{"k": ' || n(i, 'epk', 100) || '}}' AS props
            FROM range({n_ev}) t(i)""",
        # Documents: random word strings; every 600th doc copies an
        # earlier one so exact and near duplicates exist.
        "documents": f"""WITH d AS (
              SELECT i, CASE WHEN i > 0 AND i % 600 = 599
                             THEN n(i, 'dsrc', i) ELSE i END AS src
              FROM range({int(docs)}) t(i)),
            w AS (SELECT i, list_transform(range(10 + n(src, 'dlen', 90)),
                    j -> {_lit(WORDS)}[1 + n(src * 1000 + j, 'dw', {len(WORDS)})])
                    AS ws FROM d)
            SELECT i AS doc_id, array_to_string(ws, ' ') AS text,
              {_lit(LANGS)}[1 + n(i, 'dlang', {len(LANGS)})] AS lang,
              'src' || (i % 20) AS source,
              length(array_to_string(ws, ' '))::BIGINT AS n_chars
            FROM w""",
        # Embeddings: 64-d unit vectors around one of ten label centroids.
        "embeddings": f"""WITH raw AS (
              SELECT i, n(i, 'lab', 10)::INTEGER AS label,
                list_transform(range(64), j ->
                  (CASE WHEN j % 10 = n(i, 'lab', 10) THEN 0.35 ELSE 0 END)
                  + (u(i * 64 + j, 'e1') - 0.5) * 0.5) AS v
              FROM range({int(vecs)}) t(i))
            SELECT i AS vec_id,
              list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
                AS embedding, label
            FROM raw""",
    }
    for t in TABLES:
        # rows in generation order: lineitem by its row number, the others
        # by their first column, which is the row number `i`
        sql = (f"SELECT * EXCLUDE (_row) FROM ({q[t]}) ORDER BY _row"
               if t == "lineitem" else f"SELECT * FROM ({q[t]}) ORDER BY ALL")
        # written by Arrow with its defaults, as the test data is
        pq.write_table(con.execute(sql).arrow(), f"{out_dir}/{t}.parquet")
    if own:
        con.close()
