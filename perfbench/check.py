"""Independent output check of the medallion project: every expected value is
recomputed by DuckDB from the landed files alone, and compared with the
parquet files of the tables the engine wrote."""
import math
import os

import duckdb


def tree_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _sources(con, landing):
    con.execute(f"""CREATE VIEW cust AS SELECT * FROM read_json('{landing}/customers/*.json',
        format='newline_delimited', columns={{c_custkey: 'BIGINT', c_name: 'VARCHAR',
        c_nationkey: 'INTEGER', c_acctbal: 'DOUBLE', c_mktsegment: 'VARCHAR',
        op: 'VARCHAR', seq: 'BIGINT'}})""")
    con.execute(f"CREATE VIEW ord AS SELECT * FROM read_parquet('{landing}/orders/*.parquet')")
    con.execute(f"""CREATE VIEW li AS SELECT * FROM read_csv('{landing}/lineitem/*.csv',
        header=false, columns={{l_orderkey: 'BIGINT', l_linenumber: 'INTEGER',
        l_partkey: 'BIGINT', l_quantity: 'DOUBLE', l_extendedprice: 'DOUBLE',
        l_discount: 'DOUBLE'}})""")
    con.execute(f"""CREATE VIEW evt AS SELECT * FROM read_json('{landing}/events/*.json',
        format='newline_delimited', columns={{event_id: 'BIGINT', ts: 'TIMESTAMP',
        user_id: 'BIGINT', event_type: 'VARCHAR', value: 'DOUBLE'}})""")
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{landing}/documents/*.parquet')")
    con.execute(f"""CREATE VIEW nation AS SELECT * FROM read_csv('{landing}/nation/snapshot.csv',
        header=false, columns={{n_nationkey: 'INTEGER', n_name: 'VARCHAR',
        n_regionkey: 'INTEGER', snap_version: 'BIGINT'}})""")


def input_rows(work):
    con = duckdb.connect()
    _sources(con, os.path.join(work, "landing"))
    n = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
         for t in ("cust", "ord", "li", "evt", "docs", "nation")}
    con.close()
    return n


# Expected contents, from the landed files only.
EXPECTED = {
    # SCD1: the latest event per key by sequence, absent when it is a
    # delete; rows failing the drop expectation never take part
    "scd1": """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, seq
        FROM cust WHERE c_nationkey >= 0 AND c_nationkey < 25
        QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) = 1
          AND op <> 'DELETE'""",
    "orders_valid": "SELECT * FROM ord WHERE o_totalprice > 0",
    "lineitem_valid": "SELECT * FROM li WHERE l_quantity > 0",
}


# The engine's output tables the check reads.
TABLES = ["silver_customers", "silver_customers_hist", "silver_orders",
          "silver_orders_dlq", "silver_lineitem", "silver_nation",
          "gold_revenue_by_nation", "gold_segments", "gold_status",
          "gold_events_hourly", "gold_documents"]


def medallion(work):
    """Returns one {name, ok, detail} per check."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _sources(con, os.path.join(work, "landing"))
    for name, sql in EXPECTED.items():
        con.execute(f"CREATE VIEW e_{name} AS {sql}")
    wh = os.path.join(work, "warehouse")
    for t in TABLES:
        con.execute(f"CREATE VIEW out_{t} AS SELECT * FROM read_parquet("
                    f"'{wh}/{t}/**/*.parquet', hive_partitioning=false)")
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    checks = []

    def same_rows(name, expected, actual):
        extra = q(f"SELECT count(*) FROM (({actual}) EXCEPT ({expected}))")[0][0]
        missing = q(f"SELECT count(*) FROM (({expected}) EXCEPT ({actual}))")[0][0]
        n = q(f"SELECT count(*) FROM ({expected})")[0][0]
        checks.append({"name": name, "ok": extra == 0 and missing == 0 and n > 0,
                       "detail": f"{n} expected rows, {missing} missing, {extra} unexpected"})

    def same_count(name, expected, actual):
        e, a = q(f"SELECT count(*) FROM ({expected})")[0][0], q(f"SELECT count(*) FROM {actual}")[0][0]
        checks.append({"name": name, "ok": e == a and e > 0, "detail": f"expected {e}, got {a}"})

    def same_agg(name, expected, actual, keys):
        """Keyed aggregates; doubles compare with a relative tolerance, since
        summation order differs between engines."""
        e = {r[:keys]: r[keys:] for r in q(expected)}
        a = {r[:keys]: r[keys:] for r in q(actual)}
        bad = [k for k in e.keys() | a.keys() if k not in e or k not in a or not all(
            math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6) for x, y in zip(e[k], a[k]))]
        checks.append({"name": name, "ok": not bad and len(e) > 0,
                       "detail": f"{len(e)} groups, {len(bad)} differ"
                                 + (f", e.g. {sorted(bad)[0]}: expected {e.get(sorted(bad)[0])}, "
                                    f"got {a.get(sorted(bad)[0])}" if bad else "")})

    same_rows("scd1_latest_non_deleted", "SELECT * FROM e_scd1",
              "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, seq "
              "FROM out_silver_customers")
    same_rows("scd2_current", "SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
              "c_mktsegment FROM e_scd1",
              "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
              "FROM out_silver_customers_hist WHERE __end_at IS NULL")
    same_rows("snapshot_scd2_current", "SELECT n_nationkey, n_name, n_regionkey FROM nation",
              "SELECT n_nationkey, n_name, n_regionkey FROM out_silver_nation "
              "WHERE __end_at IS NULL")
    same_count("quarantine_rows", "SELECT * FROM ord WHERE NOT (o_totalprice > 0)",
               "out_silver_orders_dlq")
    same_count("orders_kept", "SELECT * FROM e_orders_valid", "out_silver_orders")
    same_count("lineitem_kept_after_drop", "SELECT * FROM e_lineitem_valid",
               "out_silver_lineitem")
    same_agg("gold_revenue_by_nation", """
        SELECT n.n_nationkey, n.n_name, count(DISTINCT o.o_orderkey),
               sum(l.l_extendedprice * (1 - l.l_discount))
        FROM e_lineitem_valid l JOIN e_orders_valid o ON l.l_orderkey = o.o_orderkey
        JOIN e_scd1 c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY ALL""",
             "SELECT n_nationkey, n_name, orders, revenue FROM out_gold_revenue_by_nation", 2)
    same_agg("gold_segments", """
        SELECT c.c_mktsegment, count(*), count(DISTINCT c.c_custkey), sum(o.o_totalprice)
        FROM e_orders_valid o JOIN e_scd1 c ON o.o_custkey = c.c_custkey GROUP BY ALL""",
             "SELECT c_mktsegment, orders, customers, total FROM out_gold_segments", 1)
    same_agg("gold_status_incremental_join", """
        SELECT o.o_orderstatus, sum(l.l_extendedprice), count(DISTINCT l.l_orderkey)
        FROM e_lineitem_valid l JOIN e_orders_valid o ON l.l_orderkey = o.o_orderkey
        GROUP BY ALL""",
             "SELECT o_orderstatus, total, orders FROM out_gold_status", 1)
    same_agg("gold_events_hourly", """
        SELECT epoch(date_trunc('hour', ts)), event_type, count(*), sum(value)
        FROM evt GROUP BY ALL""",
             "SELECT epoch(hour), event_type, n, total FROM out_gold_events_hourly", 2)
    same_rows("curation_exact_dedup",
              "SELECT min(doc_id) FROM docs GROUP BY text",
              "SELECT doc_id FROM out_gold_documents")
    con.close()
    return checks
