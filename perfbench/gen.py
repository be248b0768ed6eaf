"""Seeded input generators: LHP project trees and landing data.

Everything the engine sees comes from here: YAML project files and landing
files. The same seed gives byte-identical inputs. Landing data is written by
DuckDB from hash-derived columns, so generation is fast and does not depend
on thread scheduling.
"""
import os
import random

import duckdb

# ---------------------------------------------------------------- front end

# Shaped like the reference's `performance_testing` fixture: 100 pipelines,
# 25 domains x (bronze, silver, gold, blueprint sites). The fixture has about
# 4,000 flowgroups; 20 per pipeline (2,000) keeps one validation near 2.5 s,
# so a run of the benchmark still takes several samples.
DOMAINS = 25
FG_PER_PIPELINE = 20
FG_PER_FILE = 10
BLUEPRINT_SPECS = 10  # flowgroups per blueprint instance


def _w(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def frontend_project(root, seed):
    """Write the front-end project; returns the number of flowgroups."""
    rnd = random.Random(seed)
    _w(root, "lhp.yaml", "name: perfbench_frontend\nversion: \"1.0\"\n")
    for env, suffix in (("dev", "d"), ("prod", "p")):
        _w(root, f"substitutions/{env}.yaml",
           f"{env}:\n  env: {suffix}\n  landing_root: /landing/{env}\n"
           f"  quality_floor: \"{rnd.randint(0, 5)}\"\n")
    _w(root, "presets/bronze_preset.yaml",
       "name: bronze_preset\ndefaults:\n  write_actions:\n    streaming_table:\n"
       "      table_properties: {quality: bronze}\n")
    _w(root, "presets/gold_preset.yaml",
       "name: gold_preset\ndefaults:\n  write_actions:\n    materialized_view:\n"
       "      table_properties: {quality: gold}\n")
    _w(root, "templates/ingest_tpl.yaml", """name: ingest_tpl
presets: [bronze_preset]
parameters:
  - {name: entity, required: true}
  - {name: fmt, required: true}
actions:
  - name: load_{{ entity }}
    type: load
    source:
      type: cloudfiles
      path: "{landing_root}/{{ entity }}"
      format: "{{ fmt }}"
      readMode: stream
      table_schema: "id BIGINT, k BIGINT, v DOUBLE, ts TIMESTAMP, s STRING"
    target: v_{{ entity }}
  - name: write_{{ entity }}
    type: write
    source: v_{{ entity }}
    write_target: {type: streaming_table, table: "{{ entity }}_{env}"}
""")
    _w(root, "templates/gold_tpl.yaml", """name: gold_tpl
presets: [gold_preset]
parameters:
  - {name: name, required: true}
  - {name: sql, required: true}
actions:
  - name: mv_{{ name }}
    type: write
    sql: "{{ sql }}"
    write_target: {type: materialized_view, table: "{{ name }}_{env}"}
""")
    _w(root, "blueprints/site.yaml", _blueprint(rnd))
    n = 0
    fmts = ("json", "csv", "parquet")
    for d in range(DOMAINS):
        bronze = [f"b{d:02d}_e{i:02d}" for i in range(FG_PER_PIPELINE)]
        silver = [f"s{d:02d}_e{i:02d}" for i in range(FG_PER_PIPELINE)]
        gold = [f"g{d:02d}_e{i:02d}" for i in range(FG_PER_PIPELINE)]
        # bronze: template instances, several flowgroups per file
        for f0 in range(0, FG_PER_PIPELINE, FG_PER_FILE):
            entries = "".join(
                f"  - flowgroup: ingest_{bronze[i]}\n    use_template: ingest_tpl\n"
                f"    template_parameters: {{entity: {bronze[i]}, fmt: {rnd.choice(fmts)}}}\n"
                for i in range(f0, f0 + FG_PER_FILE))
            _w(root, f"pipelines/d{d:02d}/bronze_{f0:02d}.yaml",
               f"pipeline: d{d:02d}_bronze\nflowgroups:\n{entries}")
        # silver: stream from bronze, expectations, a SQL transform joining
        # the previous silver table (a chain as deep as the pipeline) and,
        # now and then, another domain's bronze table
        for f0 in range(0, FG_PER_PIPELINE, FG_PER_FILE):
            docs = []
            for i in range(f0, f0 + FG_PER_FILE):
                joins = ""
                if i > 0:
                    joins += (f" LEFT JOIN {silver[i - 1]}_{{env}} p"
                              " ON s.id = p.id")
                if rnd.random() < 0.2:
                    od = rnd.randrange(DOMAINS)
                    joins += (f" LEFT JOIN b{od:02d}_e{rnd.randrange(FG_PER_PIPELINE):02d}"
                              "_{env} x ON s.k = x.k")
                docs.append(f"""pipeline: d{d:02d}_silver
flowgroup: clean_{silver[i]}
actions:
  - name: load
    type: load
    source: {{type: table, table: "{bronze[i]}_{{env}}", readMode: stream}}
    target: v_raw
  - name: dq
    type: transform
    transform_type: data_quality
    source: v_raw
    target: v_dq
    expectations:
      - {{name: has_id, expression: "id IS NOT NULL", failureAction: drop}}
      - {{name: floor, expression: "v >= {{quality_floor}}", failureAction: warn}}
  - name: enrich
    type: transform
    transform_type: sql
    source: v_dq
    target: v_out
    sql: "SELECT s.id, s.k, s.v * {rnd.randint(1, 9)} AS v, s.ts FROM v_dq s{joins}"
  - name: write
    type: write
    source: v_out
    write_target: {{type: streaming_table, table: "{silver[i]}_{{env}}"}}
""")
            _w(root, f"pipelines/d{d:02d}/silver_{f0:02d}.yaml", "---\n".join(docs))
        # gold: template MVs; each joins its silver table and the previous
        # gold view, so the gold chain hangs below the silver chain
        for f0 in range(0, FG_PER_PIPELINE, FG_PER_FILE):
            entries = []
            for i in range(f0, f0 + FG_PER_FILE):
                prev = (f" JOIN {gold[i - 1]}_{{env}} g ON a.k = g.k" if i > 0 else "")
                sql = (f"SELECT a.k, count(*) AS n, sum(a.v) AS total FROM "
                       f"{silver[i]}_{{env}} a{prev} GROUP BY a.k")
                entries.append(
                    f"  - flowgroup: agg_{gold[i]}\n    use_template: gold_tpl\n"
                    f"    template_parameters: {{name: {gold[i]}, sql: \"{sql}\"}}\n")
            _w(root, f"pipelines/d{d:02d}/gold_{f0:02d}.yaml",
               f"pipeline: d{d:02d}_gold\nflowgroups:\n{''.join(entries)}")
        # blueprint instance files: each expands BLUEPRINT_SPECS flowgroups
        for j in range(FG_PER_PIPELINE // BLUEPRINT_SPECS):
            _w(root, f"pipelines/d{d:02d}/site_{j}.yaml",
               f"use_blueprint: site\nparameters:\n  domain: d{d:02d}\n"
               f"  site: s{j}\n  gold: {gold[rnd.randrange(FG_PER_PIPELINE)]}\n")
        n += 4 * FG_PER_PIPELINE
    return n


def _blueprint(rnd):
    specs = []
    for i in range(BLUEPRINT_SPECS):
        src = "%{gold}_{env}" if i == 0 else f"bp_%{{domain}}_%{{site}}_{i - 1}_{{env}}"
        specs.append(f"""  - pipeline: "%{{domain}}_sites"
    flowgroup: "site_%{{site}}_{i}"
    actions:
      - name: load
        type: load
        source: {{type: table, table: "{src}"}}
        target: v_in
      - name: shape
        type: transform
        transform_type: sql
        source: v_in
        target: v_out
        sql: "SELECT k, n + {rnd.randint(1, 99)} AS n FROM v_in WHERE k % {rnd.randint(2, 7)} = 0"
      - name: write
        type: write
        source: v_out
        write_target: {{type: materialized_view, table: "bp_%{{domain}}_%{{site}}_{i}_{{env}}"}}
""")
    return ("name: site\nparameters:\n  - {name: domain, required: true}\n"
            "  - {name: site, required: true}\n  - {name: gold, required: true}\n"
            "flowgroups:\n" + "".join(specs))


# ---------------------------------------------------------------- medallion

# Rows in the initial landing (the full-refresh input) and per increment.
N_CUST, N_ORD, LI_PER_ORD, N_EVT, N_DOC, N_NATION = 10000, 40000, 4, 60000, 2000, 25
INC_CUST, INC_ORD, INC_EVT, INC_DOC = 60, 150, 300, 10
HOUR = 3600


def _h(seed, salt):
    """A DuckDB expression giving a 0..2^63 hash of row index `i`."""
    return f"(hash(i, {seed}, {salt}) >> 1)"


def _u(seed, salt, n):
    return f"CAST({_h(seed, salt)} % {n} AS BIGINT)"


def _copy(con, sql, path, fmt):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    opts = {"parquet": "FORMAT PARQUET", "csv": "FORMAT CSV, HEADER false",
            "json": "FORMAT JSON"}[fmt]
    con.execute(f"COPY ({sql}) TO '{path}' ({opts})")


def _customers(seed, lo, n, inc):
    """Customer CDC events. Initial load (inc 0): one insert per key with
    seq = key. Increment k: updates and deletes of random keys with seq in
    k's band; a tenth arrive out of order, carrying a seq from the band
    below (still unique: that half-band is otherwise unused)."""
    band = f"(CASE WHEN {_u(seed, 7, 10)} = 0 THEN {(inc - 1) * 10**6 - 500000} " \
           f"ELSE {inc * 10**6} END + i)" if inc else "(i + 1)"
    key = f"({_u(seed, 1, N_CUST)} + 1)" if inc else "(i + 1)"
    op = f"(CASE WHEN {_u(seed, 2, 8)} = 0 THEN 'DELETE' ELSE 'UPSERT' END)" \
        if inc else "'UPSERT'"
    return f"""SELECT CAST({key} AS BIGINT) AS c_custkey,
        'Customer#' || CAST({_u(seed, 3, 10**6)} AS VARCHAR) AS c_name,
        CAST(CASE WHEN {_u(seed, 4, 100)} = 0 THEN 99 ELSE {_u(seed, 5, 25)} END AS INTEGER) AS c_nationkey,
        CAST({_u(seed, 6, 1100000)} AS DOUBLE) / 100.0 - 1000.0 AS c_acctbal,
        ['BUILDING','AUTOMOBILE','MACHINERY','HOUSEHOLD','FURNITURE'][{_u(seed, 8, 5)} + 1] AS c_mktsegment,
        {op} AS op, CAST({band} AS BIGINT) AS seq
      FROM range({lo}, {lo + n}) t(i)"""


def _orders(seed, lo, n):
    return f"""SELECT CAST(i + 1 AS BIGINT) AS o_orderkey,
        CAST({_u(seed, 11, N_CUST)} + 1 AS BIGINT) AS o_custkey,
        ['F','O','P'][{_u(seed, 12, 3)} + 1] AS o_orderstatus,
        CASE WHEN {_u(seed, 13, 50)} = 0 THEN -1.0
             ELSE CAST({_u(seed, 14, 50000000)} AS DOUBLE) / 100.0 END AS o_totalprice,
        TIMESTAMP '2024-01-01' + to_seconds({_u(seed, 15, 365 * 86400)}) AS o_orderdate
      FROM range({lo}, {lo + n}) t(i)"""


def _lineitem(seed, lo, n):
    """LI_PER_ORD lines for each order in [lo, lo + n)."""
    return f"""SELECT CAST(o + 1 AS BIGINT) AS l_orderkey, CAST(ln AS INTEGER) AS l_linenumber,
        CAST({_u(seed, 21, 20000)} + 1 AS BIGINT) AS l_partkey,
        CAST(CASE WHEN {_u(seed, 22, 100)} = 0 THEN 0 ELSE {_u(seed, 23, 50)} + 1 END AS DOUBLE) AS l_quantity,
        CAST({_u(seed, 24, 10000000)} AS DOUBLE) / 100.0 AS l_extendedprice,
        CAST({_u(seed, 25, 11)} AS DOUBLE) / 100.0 AS l_discount
      FROM (SELECT o, ln, o * {LI_PER_ORD} + ln AS i
            FROM range({lo}, {lo + n}) a(o), range(1, {LI_PER_ORD + 1}) b(ln))"""


def _events(seed, lo, n, inc):
    """Events; an increment's events sit after the previous ones in time,
    except a tenth that are late by up to a day."""
    base = 86400 * 2 + inc * HOUR
    late = f"(CASE WHEN {_u(seed, 31, 10)} = 0 THEN -{_u(seed, 32, 86400)} ELSE 0 END)" \
        if inc else "0"
    span = HOUR if inc else 86400 * 2
    return f"""SELECT CAST(i + 1 AS BIGINT) AS event_id,
        strftime(TIMESTAMP '2024-03-01' + to_seconds(
          {0 if not inc else base} + {_u(seed, 33, span)} + {late}), '%Y-%m-%d %H:%M:%S') AS ts,
        CAST({_u(seed, 34, 5000)} AS BIGINT) AS user_id,
        ['view','click','buy'][{_u(seed, 35, 3)} + 1] AS event_type,
        CAST({_u(seed, 36, 100000)} AS DOUBLE) / 100.0 AS value
      FROM range({lo}, {lo + n}) t(i)"""


def _documents(seed, lo, n):
    """Documents; a sixth repeat an earlier document's text exactly."""
    src = f"(CASE WHEN {_u(seed, 41, 6)} = 0 AND i > 0 THEN {_u(seed, 42, 10**9)} % i ELSE i END)"
    return f"""SELECT CAST(i + 1 AS BIGINT) AS doc_id,
        'doc ' || CAST(hash(j, {seed}) % 100000 AS VARCHAR) || ' about ' ||
        ['lakes','houses','plumbing','streams','tables'][CAST(hash(j, {seed}, 1) % 5 AS INTEGER) + 1] AS text
      FROM (SELECT i, {src} AS j FROM range({lo}, {lo + n}) t(i))"""


def _nation(seed, inc):
    """The nation snapshot after increment `inc`: names drift, and one key is
    absent in odd increments (a snapshot delete, re-added in the next)."""
    gone = f"n_nationkey <> {(seed + inc) % N_NATION}" if inc % 2 else "TRUE"
    return f"""SELECT CAST(i AS INTEGER) AS n_nationkey,
        'NATION_' || CAST(i AS VARCHAR) || '_v' ||
          CAST(CASE WHEN hash(i, {seed}, {inc}) % 4 = 0 THEN {inc} ELSE 0 END AS VARCHAR) AS n_name,
        CAST(i % 5 AS INTEGER) AS n_regionkey, CAST({inc} AS BIGINT) AS snap_version
      FROM range({N_NATION}) t(i) WHERE {gone.replace('n_nationkey', 'i')}"""


def medallion_data(landing, staging, seed, increments):
    """Land the initial data under `landing/<table>/` and stage `increments`
    increments under `staging/<k>/<table>/`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def put(base, inc):
        s = seed * 1009 + inc
        if inc == 0:
            c, o, e, d = (0, N_CUST), (0, N_ORD), (0, N_EVT), (0, N_DOC)
        else:
            c = (N_CUST + (inc - 1) * INC_CUST, INC_CUST)
            o = (N_ORD + (inc - 1) * INC_ORD, INC_ORD)
            e = (N_EVT + (inc - 1) * INC_EVT, INC_EVT)
            d = (N_DOC + (inc - 1) * INC_DOC, INC_DOC)
        tag = f"{inc:04d}"
        _copy(con, _customers(s, c[0], c[1], inc), f"{base}/customers/c_{tag}.json", "json")
        _copy(con, _orders(s, o[0], o[1]), f"{base}/orders/o_{tag}.parquet", "parquet")
        _copy(con, _lineitem(s, o[0], o[1]), f"{base}/lineitem/l_{tag}.csv", "csv")
        _copy(con, _events(s, e[0], e[1], inc), f"{base}/events/e_{tag}.json", "json")
        _copy(con, _documents(s, d[0], d[1]), f"{base}/documents/d_{tag}.parquet", "parquet")
        _copy(con, _nation(seed, inc), f"{base}/nation/snapshot.csv", "csv")

    put(landing, 0)
    for k in range(1, increments + 1):
        put(f"{staging}/{k:04d}", k)
    con.close()


def medallion_project(root, landing):
    """Write the medallion project over `landing`."""
    _w(root, "lhp.yaml", """name: perfbench_medallion
version: "1.0"
event_log: {}
monitoring:
  streaming_table: all_event_logs
  materialized_views:
    - {name: events_per_pipeline, sql: "SELECT pipeline, CAST(count(*) AS BIGINT) AS n FROM all_event_logs GROUP BY pipeline"}
""")
    _w(root, "substitutions/dev.yaml", f"dev:\n  landing: {landing}\n")
    _w(root, "templates/bronze_tpl.yaml", """name: bronze_tpl
parameters:
  - {name: entity, required: true}
  - {name: fmt, required: true}
  - {name: schema, required: true}
actions:
  - name: load_{{ entity }}
    type: load
    source:
      type: cloudfiles
      path: "{landing}/{{ entity }}"
      format: "{{ fmt }}"
      readMode: stream
      table_schema: "{{ schema }}"
    target: v_{{ entity }}
  - name: write_{{ entity }}
    type: write
    source: v_{{ entity }}
    write_target: {type: streaming_table, table: "bronze_{{ entity }}"}
""")
    schemas = {
        "customers": ("json", "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                      "c_acctbal DOUBLE, c_mktsegment STRING, op STRING, seq BIGINT"),
        "orders": ("parquet", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
                   "o_totalprice DOUBLE, o_orderdate TIMESTAMP"),
        "lineitem": ("csv", "l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, "
                     "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE"),
        "events": ("json", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                   "event_type STRING, value DOUBLE"),
    }
    entries = "".join(
        f"  - flowgroup: ingest_{e}\n    use_template: bronze_tpl\n"
        f"    template_parameters: {{entity: {e}, fmt: {f}, schema: \"{s}\"}}\n"
        for e, (f, s) in schemas.items())
    _w(root, "pipelines/bronze.yaml", f"pipeline: bronze\nflowgroups:\n{entries}")
    _w(root, "pipelines/silver_customers.yaml", """pipeline: silver
flowgroup: customers
actions:
  - name: load
    type: load
    source: {type: table, table: bronze_customers, readMode: stream}
    target: v_raw
  - name: dq
    type: transform
    transform_type: data_quality
    source: v_raw
    target: v_clean
    expectations:
      - {name: valid_nation, expression: "c_nationkey >= 0 AND c_nationkey < 25", failureAction: drop}
      - {name: positive_balance, expression: "c_acctbal >= 0", failureAction: warn}
  - name: scd1
    type: write
    source: v_clean
    write_target: {type: streaming_table, table: silver_customers, change_log: true}
    cdc_config:
      keys: [c_custkey]
      sequence_by: seq
      scd_type: 1
      apply_as_deletes: "op = 'DELETE'"
      except_column_list: [op]
""")
    _w(root, "pipelines/silver_customers_hist.yaml", """pipeline: silver
flowgroup: customers_hist
actions:
  - name: load
    type: load
    source: {type: table, table: bronze_customers, readMode: stream}
    target: v_raw
  - name: dq
    type: transform
    transform_type: data_quality
    source: v_raw
    target: v_clean
    expectations:
      - {name: valid_nation, expression: "c_nationkey >= 0 AND c_nationkey < 25", failureAction: drop}
  - name: scd2
    type: write
    source: v_clean
    write_target: {type: streaming_table, table: silver_customers_hist}
    cdc_config:
      keys: [c_custkey]
      sequence_by: seq
      scd_type: 2
      apply_as_deletes: "op = 'DELETE'"
      except_column_list: [op]
""")
    _w(root, "pipelines/silver_orders.yaml", """pipeline: silver
flowgroup: orders
actions:
  - name: load
    type: load
    source: {type: table, table: bronze_orders, readMode: stream}
    target: v_raw
  - name: dq
    type: transform
    transform_type: data_quality
    source: v_raw
    target: v_clean
    expectations:
      - {name: positive_price, expression: "o_totalprice > 0", failureAction: drop}
    quarantine: {dlq_table: silver_orders_dlq}
  - name: write
    type: write
    source: v_clean
    write_target: {type: streaming_table, table: silver_orders}
""")
    _w(root, "pipelines/silver_lineitem.yaml", """pipeline: silver
flowgroup: lineitem
actions:
  - name: load
    type: load
    source: {type: table, table: bronze_lineitem, readMode: stream}
    target: v_raw
  - name: dq
    type: transform
    transform_type: data_quality
    source: v_raw
    target: v_clean
    expectations:
      - {name: positive_quantity, expression: "l_quantity > 0", failureAction: drop}
  - name: write
    type: write
    source: v_clean
    write_target: {type: streaming_table, table: silver_lineitem}
""")
    _w(root, "pipelines/silver_nation.yaml", """pipeline: silver
flowgroup: nation
actions:
  - name: load
    type: load
    source:
      type: cloudfiles
      path: "{landing}/nation"
      format: csv
      readMode: batch
      table_schema: "n_nationkey INT, n_name STRING, n_regionkey INT, snap_version BIGINT"
    target: v_snapshot
  - name: write
    type: write
    source: v_snapshot
    write_target:
      type: streaming_table
      table: silver_nation
      mode: snapshot_cdc
      snapshot_cdc_config:
        keys: [n_nationkey]
        sequence_by: snap_version
        stored_as_scd_type: 2
""")
    _w(root, "pipelines/gold_revenue.yaml", """pipeline: gold
flowgroup: revenue_by_nation
actions:
  - name: li
    type: load
    source: {type: table, table: silver_lineitem}
    target: v_li
  - name: ord
    type: load
    source: {type: table, table: silver_orders}
    target: v_ord
  - name: cust
    type: load
    source: {type: table, table: silver_customers}
    target: v_cust
  - name: nat
    type: load
    source: {type: table, table: silver_nation, where_clause: ["__end_at IS NULL"]}
    target: v_nat
  - name: agg
    type: transform
    transform_type: sql
    source: [v_li, v_ord, v_cust, v_nat]
    target: v_rev
    sql: >
      SELECT n.n_nationkey, n.n_name, CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS orders,
             CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE) AS revenue
      FROM v_li l JOIN v_ord o ON l.l_orderkey = o.o_orderkey
      JOIN v_cust c ON o.o_custkey = c.c_custkey
      JOIN v_nat n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_nationkey, n.n_name
  - name: write
    type: write
    source: v_rev
    write_target: {type: materialized_view, table: gold_revenue_by_nation}
""")
    _w(root, "pipelines/gold_segments.yaml", """pipeline: gold
flowgroup: segments
actions:
  - name: ord
    type: load
    source: {type: table, table: silver_orders}
    target: v_ord
  - name: cust
    type: load
    source: {type: table, table: silver_customers}
    target: v_cust
  - name: agg
    type: transform
    transform_type: sql
    source: [v_ord, v_cust]
    target: v_seg
    sql: >
      SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS orders,
             CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS customers,
             CAST(sum(o.o_totalprice) AS DOUBLE) AS total
      FROM v_ord o JOIN v_cust c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
  - name: write
    type: write
    source: v_seg
    write_target: {type: materialized_view, table: gold_segments}
  - name: unique_customers
    type: test
    test_type: uniqueness
    source: silver_customers
    columns: [c_custkey]
    on_violation: fail
  - name: orders_complete
    type: test
    test_type: completeness
    source: silver_orders
    required_columns: [o_orderkey, o_custkey]
    on_violation: fail
""")
    _w(root, "pipelines/gold_status.yaml", """pipeline: gold
flowgroup: status_join
actions:
  - name: mv
    type: write
    write_target:
      type: materialized_view
      table: gold_status
      mode: incremental_join
      joined_sql: >
        SELECT l.l_orderkey, l.l_extendedprice, o.o_orderstatus
        FROM stream(silver_lineitem) l JOIN silver_orders o ON l.l_orderkey = o.o_orderkey
      sql: >
        SELECT o_orderstatus, CAST(sum(l_extendedprice) AS DOUBLE) AS total,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS orders
        FROM gold_status__joined GROUP BY o_orderstatus
""")
    _w(root, "pipelines/gold_events.yaml", """pipeline: gold
flowgroup: events_hourly
actions:
  - name: mv
    type: write
    sql: >
      SELECT date_trunc('HOUR', ts) AS hour, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(value) AS DOUBLE) AS total
      FROM stream(bronze_events) GROUP BY date_trunc('HOUR', ts), event_type
    write_target: {type: materialized_view, table: gold_events_hourly, mode: incremental}
""")
    _w(root, "pipelines/curation.yaml", """pipeline: curation
flowgroup: documents
actions:
  - name: load
    type: load
    source:
      type: cloudfiles
      path: "{landing}/documents"
      format: parquet
      readMode: batch
    target: v_docs
  - name: dedup
    type: transform
    transform_type: python
    function: graft.plugins.CurationTransforms$ExactDedupFilter
    source: v_docs
    target: v_unique
    parameters: {id_col: doc_id, text_col: text}
  - name: write
    type: write
    source: v_unique
    write_target: {type: materialized_view, table: gold_documents}
""")
