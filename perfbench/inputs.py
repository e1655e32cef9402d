"""Benchmark inputs and graph ground truth, made with DuckDB.

The tables mirror the schema, types, cardinalities and value distributions
of the repo's TPC-H-ish fixtures (TESTDATA.md), at a chosen scale factor:
independent uniform columns in random row order. Every
value comes from `hash(row, seed, column)`, so the same seed and scale
always give byte-identical rows, whatever the thread count; the seed also
sets the row order on disk. Each table is one parquet file with one row
group, like the fixtures.
"""

import os

import duckdb

# Rows per table at scale factor 1 (the fixtures' sf0.1 holds a tenth).
ROWS_AT_SF1 = {
    "lineitem": 6_000_000,
    "orders": 1_500_000,
    "customer": 150_000,
    "supplier": 10_000,
    "events": 1_000_000,
}
PARTS_AT_SF1 = 200_000
USERS_AT_SF1 = 15_000


def _pick(tag, values):
    lst = ", ".join(f"'{v}'" for v in values)
    return f"[{lst}][1 + CAST(h(i, '{tag}') % {len(values)} AS INTEGER)]"


def _select(table, n, sf):
    orders = int(ROWS_AT_SF1["orders"] * sf)
    customers = int(ROWS_AT_SF1["customer"] * sf)
    suppliers = int(ROWS_AT_SF1["supplier"] * sf)
    parts = int(PARTS_AT_SF1 * sf)
    users = int(USERS_AT_SF1 * sf)
    if table == "lineitem":
        return f"""SELECT
  u(i, 'ok', {orders}) AS l_orderkey,
  u(i, 'pk', {parts}) AS l_partkey,
  u(i, 'sk', {suppliers}) AS l_suppkey,
  CAST(1 + u(i, 'ln', 7) AS INTEGER) AS l_linenumber,
  CAST(1 + u(i, 'qt', 50) AS DOUBLE) AS l_quantity,
  round(900 + u(i, 'ep', 10410000) / 100.0, 2) AS l_extendedprice,
  round(u(i, 'dc', 100001) / 1e6, 2) AS l_discount,
  round(u(i, 'tx', 80001) / 1e6, 2) AS l_tax,
  {_pick('rf', ['A', 'N', 'R'])} AS l_returnflag,
  {_pick('ls', ['F', 'O'])} AS l_linestatus,
  TIMESTAMP '1995-01-02' + to_days(CAST(u(i, 'sd', 2499) AS INTEGER)) AS l_shipdate
FROM range({n}) t(i)"""
    if table == "orders":
        prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        return f"""SELECT
  i AS o_orderkey,
  u(i, 'ck', {customers}) AS o_custkey,
  {_pick('os', ['F', 'O', 'P'])} AS o_orderstatus,
  round(1000 + u(i, 'tp', 49900000) / 100.0, 2) AS o_totalprice,
  TIMESTAMP '1995-01-01' + to_days(CAST(u(i, 'od', 2404) AS INTEGER)) AS o_orderdate,
  {_pick('op', prios)} AS o_orderpriority
FROM range({n}) t(i)"""
    if table == "customer":
        segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        return f"""SELECT
  i AS c_custkey,
  'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
  CAST(u(i, 'nk', 25) AS INTEGER) AS c_nationkey,
  round(-999.99 + u(i, 'ab', 1099980) / 100.0, 2) AS c_acctbal,
  {_pick('ms', segs)} AS c_mktsegment
FROM range({n}) t(i)"""
    if table == "supplier":
        return f"""SELECT
  i AS s_suppkey,
  'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
  CAST(u(i, 'nk', 25) AS INTEGER) AS s_nationkey,
  round(-999.99 + u(i, 'ab', 1099980) / 100.0, 2) AS s_acctbal
FROM range({n}) t(i)"""
    if table == "events":
        step = 30 * 86_400_000_000 // n  # 30 days of events, in microseconds
        kinds = ["click", "error", "purchase", "signup", "view"]
        return f"""SELECT
  i AS event_id,
  TIMESTAMP '2024-01-01' + to_microseconds(i * {step} + u(i, 'ts', {step})) AS ts,
  u(i, 'uid', {users}) AS user_id,
  {_pick('et', kinds)} AS event_type,
  round(u(i, 'val', 56022) / 100.0, 2) AS value,
  '{{"k": ' || CAST(u(i, 'pk', 100) AS VARCHAR) || '}}' AS props
FROM range({n}) t(i)"""
    raise ValueError(f"unknown table {table}")


def generate(out_dir, tables, sf, seed):
    """Writes `<out_dir>/<table>.parquet` for each table."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")  # one row group per file
        # DuckDB combines the hashes of several arguments by multiply and
        # XOR, so hash(i, seed, tag) of two tags differ by a constant XOR and
        # their low bits agree: columns drawn modulo a common factor would be
        # correlated. The outer hash mixes all the bits.
        con.execute(f"CREATE MACRO h(i, tag) AS hash(hash(i, {int(seed)}, tag))")
        con.execute("CREATE MACRO u(i, tag, n) AS CAST(h(i, tag) % n AS BIGINT)")
        for table in tables:
            n = int(ROWS_AT_SF1[table] * sf)
            path = os.path.join(out_dir, f"{table}.parquet")
            con.execute(
                f"COPY ({_select(table, n, sf)} ORDER BY h(i, 'row_order')) "
                f"TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY, ROW_GROUP_SIZE {n + 1})")
    finally:
        con.close()


def oracle(data_dir, sql, out_path):
    """Runs one DuckDB oracle query over the tables in `data_dir` and writes
    its rows, sorted, as tab-separated integers under a header of column
    names (NULL as `\\N`)."""
    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, name)}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = sorted(cur.fetchall(), key=lambda r: [-(2**63) if v is None else v for v in r])
    finally:
        con.close()
    with open(out_path, "w") as f:
        f.write("\t".join(cols) + "\n")
        for r in rows:
            f.write("\t".join("\\N" if v is None else str(int(v)) for v in r) + "\n")
