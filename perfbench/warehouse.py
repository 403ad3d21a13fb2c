"""Seeded warehouse tables for the query workloads, and the oracle check.

The generator writes the star schema of FIXTURES.md section 5 (region,
nation, customer, supplier, part, orders, lineitem, events, documents) as
one parquet file per table, with the value domains of the reference test
data, at a given scale factor. The oracle check runs each query's DuckDB
statement (`graft.SparkEntry.oracleSql`) over the same files and compares
it with the materialized Spark answer.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "widget", "ring", "bolt", "gear", "valve", "spring", "lamp"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = ("a the data table query column row window hash join filter scan "
         "sort merge group order key value line part customer batch stream "
         "spark vector agg big small fast slow").split()

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [c + " " + n for c, n in zip(rng.choice(COLORS, n_part),
                                               rng.choice(NOUNS, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": price})
    order_day = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 499999.99, n_ord),
        "o_orderdate": pa.array(EPOCH_1995 + order_day * DAY_US, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_line = len(l_order)
    l_number = np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(l_number, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(EPOCH_1995 + (order_day[l_order] + rng.integers(1, 122, n_line)) * DAY_US,
                               pa.timestamp("us"))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_events), i64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _cents(rng, 0.01, 490.0, n_events),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    texts = [" ".join(rng.choice(VOCAB, rng.integers(8, 90))) for _ in range(n_docs)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))


def _normalized(relation):
    order = sorted(range(len(relation.columns)), key=lambda i: relation.columns[i])
    cols = [relation.columns[i] for i in order]
    types = [str(relation.types[i]) for i in order]
    rows = sorted(tuple(repr(r[i]) for i in order) for r in relation.fetchall())
    return cols, types, rows


def check(data_dir, answers_dir, oracle_sql):
    """Compare each materialized answer with its oracle; return
    {query: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    verdicts = {}
    for query, sql in oracle_sql.items():
        answer = os.path.join(answers_dir, query)
        if sql is None:
            verdicts[query] = "no oracle statement"
            continue
        if not os.path.isdir(answer):
            verdicts[query] = "no materialized answer"
            continue
        try:
            got = _normalized(con.sql("SELECT * FROM read_parquet('%s/*.parquet')" % answer))
            want = _normalized(con.sql(sql))
        except Exception as e:  # an oracle or read error is a failed check
            verdicts[query] = "error: %s" % str(e).splitlines()[0][:200]
            continue
        if got[0] != want[0]:
            verdicts[query] = "columns %s vs %s" % (got[0], want[0])
        elif got[1] != want[1]:
            verdicts[query] = "types %s vs %s" % (got[1], want[1])
        elif got[2] != want[2]:
            verdicts[query] = "%d vs %d rows or values differ" % (len(got[2]), len(want[2]))
        else:
            verdicts[query] = None
    con.close()
    return verdicts
