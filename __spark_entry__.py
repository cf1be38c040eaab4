"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(the YAML-DML engine: key mapping, merges, FK remap, constants,
query-tables, temp tables, required-column filter; the opaque-SQL
dialect surface; plus the large-scale pipeline operators: dedup, text
analysis, windowed/event analytics). ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL; column names and types are aligned on both
sides (ints → BIGINT, derived money → integer cents, timestamps →
strings) so the driver's order-insensitive value-hash matches exactly.

ETL queries run the real engine end-to-end (mapping materialization +
wide select) — the oracle re-derives the same semantics relationally
with ``row_number() OVER (ORDER BY source_index, natural_key)``
replicating the engine's deterministic surrogate ids (SURVEY §4.3).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omop_etl_spark.operators.util import ppm_div_sql

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _engine(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES):
    """The registry's source catalog: each ``<t>.parquet`` found in
    ``sf_dir`` is registered as ``cerner.<t>`` (schema inferred once, at
    registration). Registers again whenever the session catalog does not
    point at ``sf_dir`` — after another directory, a ``DROP DATABASE`` or
    a second instance of this module — and drops a ``cerner.<t>`` that
    ``sf_dir`` lacks. The check reads the catalog and starts no job."""
    from omop_etl_spark import Engine
    from omop_etl_spark.sources import enable_nanos_compat

    enable_nanos_compat(spark)  # events.parquet carries ns timestamps
    eng = Engine(spark)
    want = {t: p for t in tables if os.path.exists(p := _source_path(sf_dir, t))}
    ext = spark._jsparkSession.sharedState().externalCatalog()
    have = {
        t: ext.getTable("cerner", t).location().getPath()
        for t in tables
        if ext.tableExists("cerner", t)
    }
    if have != want:
        for t in have.keys() - want.keys():
            spark.sql(f"DROP TABLE cerner.{t}")
        for t, path in want.items():
            eng.register_parquet(f"cerner.{t}", path)
    return eng


def _source_path(sf_dir: str, t: str) -> str:
    return os.path.abspath(f"{sf_dir}/{t}.parquet")


def _table(spark: SparkSession, sf_dir: str, t: str) -> DataFrame:
    """``cerner.<t>`` as the catalog stores it, registered from
    ``sf_dir`` by :func:`_engine`."""
    if not os.path.exists(_source_path(sf_dir, t)):
        raise FileNotFoundError(f"source table cerner.{t}: no {t}.parquet in {sf_dir}")
    _engine(spark, sf_dir)
    return spark.table(f"cerner.{t}")


def _source(spark: SparkSession, sf_dir: str, t: str) -> DataFrame:
    """Source table ``t`` of ``sf_dir``, read by name as ``cerner.<t>``
    (:func:`_table`) with the timestamp normalization of
    ``EVENTS_NS_COLUMNS`` applied."""
    from omop_etl_spark.sources import EVENTS_NS_COLUMNS, normalize_timestamps

    return normalize_timestamps(_table(spark, sf_dir, t), EVENTS_NS_COLUMNS.get(t))


def _stream_source(spark: SparkSession, sf_dir: str, t: str) -> DataFrame:
    """File-source stream over ``<t>.parquet`` in ``sf_dir`` with the
    schema the catalog stored for ``cerner.<t>`` (no schema-inference
    job) and the timestamp normalization of :func:`_source`."""
    from omop_etl_spark.sources import EVENTS_NS_COLUMNS, normalize_timestamps
    from omop_etl_spark.streaming.events import read_table_stream

    schema = _table(spark, sf_dir, t).schema
    stream = read_table_stream(spark, f"{sf_dir}/{t}.parquet", schema)
    return normalize_timestamps(stream, EVENTS_NS_COLUMNS.get(t))


def _spread_read(spark: SparkSession, sf_dir: str, t: str):
    """Source scan (:func:`_source`) spread to defaultParallelism
    partitions: the small single-row-group test files otherwise arrive
    as ONE partition and serialize every per-row stage (tokenize/score)
    on a single core."""
    from omop_etl_spark.operators.util import spread

    return spread(_source(spark, sf_dir, t))


def _run_etl(spark: SparkSession, sf_dir: str, yaml_texts: list[str], out: str,
             required: dict[str, set[str]] | None = None) -> DataFrame:
    from omop_etl_spark import load_rules_text

    eng = _engine(spark, sf_dir)
    if required:
        eng.required_columns.update(required)
    specs = [load_rules_text(y) for y in yaml_texts]
    return eng.run(specs, apply_required_filter=required is not None)[out]


# ---------------------------------------------------------------------------
# ETL: single-source copy + implicit joins (SURVEY §2.1 #1-#7, #17-#20)

ETL_COPY = """
name: person_copy
default_schema: cerner
primary_key:
  name: person_id
  sources:
    customer_pk:
      table: customer
      columns:
        c_custkey: bigint
columns:
  - name: full_name
    tables: [customer]
    expression: customer.c_name
  - name: nation_name
    tables: [customer, nation]
    constraints:
      - customer.c_nationkey = nation.n_nationkey
    expression: nation.n_name
  - name: acct_band
    tables: [customer]
    expression: CASE WHEN customer.c_acctbal < 0 THEN 'neg' WHEN customer.c_acctbal < 5000 THEN 'mid' ELSE 'high' END
"""

ORACLE_ETL_COPY = """
WITH m AS (SELECT row_number() OVER (ORDER BY c_custkey) AS person_id, c_custkey FROM customer)
SELECT m.person_id, c.c_name AS full_name, n.n_name AS nation_name,
       CASE WHEN c.c_acctbal < 0 THEN 'neg' WHEN c.c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS acct_band
FROM m JOIN customer c ON c.c_custkey = m.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


# ETL: multi-source union key + per-source rules (merge semantics, #2/#8)

ETL_MERGE = """
name: entity_dim
default_schema: cerner
primary_key:
  name: entity_id
  sources:
    customer_pk:
      table: customer
      columns:
        c_custkey: bigint
    supplier_pk:
      table: supplier
      columns:
        s_suppkey: bigint
columns:
  - name: entity_name
    tables: [customer]
    primary_key: customer_pk
    expression: customer.c_name
  - name: entity_name
    tables: [supplier]
    primary_key: supplier_pk
    expression: supplier.s_name
  - name: nation_name
    tables: [customer, nation]
    primary_key: customer_pk
    constraints:
      - customer.c_nationkey = nation.n_nationkey
    expression: nation.n_name
  - name: nation_name
    tables: [supplier, nation]
    primary_key: supplier_pk
    constraints:
      - supplier.s_nationkey = nation.n_nationkey
    expression: nation.n_name
  - name: kind
    tables: [customer]
    primary_key: customer_pk
    expression: "'customer'"
  - name: kind
    tables: [supplier]
    primary_key: supplier_pk
    expression: "'supplier'"
"""

ORACLE_ETL_MERGE = """
WITH u AS (
  SELECT 0 AS src, c_custkey AS k FROM customer
  UNION ALL
  SELECT 1 AS src, s_suppkey AS k FROM supplier
), m AS (SELECT row_number() OVER (ORDER BY src, k) AS entity_id, src, k FROM u)
SELECT m.entity_id,
       CASE WHEN m.src = 0 THEN c.c_name ELSE s.s_name END AS entity_name,
       CASE WHEN m.src = 0 THEN cn.n_name ELSE sn.n_name END AS nation_name,
       CASE WHEN m.src = 0 THEN 'customer' ELSE 'supplier' END AS kind
FROM m
LEFT JOIN customer c ON m.src = 0 AND c.c_custkey = m.k
LEFT JOIN nation cn ON m.src = 0 AND c.c_nationkey = cn.n_nationkey
LEFT JOIN supplier s ON m.src = 1 AND s.s_suppkey = m.k
LEFT JOIN nation sn ON m.src = 1 AND s.s_nationkey = sn.n_nationkey
"""


# ETL: FK remap via `references` — both YAML forms (#9)

ETL_FK_PERSON = """
name: person_dim
default_schema: cerner
primary_key:
  name: person_id
  sources:
    customer_pk:
      table: customer
      columns:
        c_custkey: bigint
columns:
  - name: segment
    tables: [customer]
    expression: customer.c_mktsegment
"""

ETL_FK_ORDERS = """
name: order_fact
default_schema: cerner
primary_key:
  name: order_id
  sources:
    orders_pk:
      table: orders
      columns:
        o_orderkey: bigint
columns:
  - name: customer_ref
    tables: [orders]
    references:
      person_dim:
        table: customer
        column: c_custkey
    expression: orders.o_custkey
  - name: total_price
    tables: [orders]
    expression: orders.o_totalprice
  - name: order_year
    tables: [orders]
    expression: CAST(extract(year from orders.o_orderdate) AS BIGINT)
"""

ORACLE_ETL_FK = """
WITH cmap AS (SELECT row_number() OVER (ORDER BY c_custkey) AS id, c_custkey FROM customer),
     omap AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS id, o_orderkey FROM orders)
SELECT omap.id AS order_id, cmap.id AS customer_ref,
       o.o_totalprice AS total_price,
       CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS order_year
FROM omap
JOIN orders o ON o.o_orderkey = omap.o_orderkey
LEFT JOIN cmap ON cmap.c_custkey = o.o_custkey
"""


# ETL: last-writer-wins across overlapping rules for one column (#8)

ETL_LWW = """
name: order_prio
default_schema: cerner
primary_key:
  name: order_id
  sources:
    orders_pk:
      table: orders
      columns:
        o_orderkey: bigint
columns:
  - name: priority_class
    tables: [orders]
    expression: orders.o_orderpriority
  - name: priority_class
    tables: [orders]
    constraints:
      - orders.o_totalprice >= 150000
    expression: "'BIG-' || orders.o_orderpriority"
"""

ORACLE_ETL_LWW = """
WITH m AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS order_id, o_orderkey FROM orders)
SELECT m.order_id,
       CASE WHEN o.o_totalprice >= 150000 THEN 'BIG-' || o.o_orderpriority
            ELSE o.o_orderpriority END AS priority_class
FROM m JOIN orders o ON o.o_orderkey = m.o_orderkey
"""


# ETL: constant columns (#10) — unconditional, all rows

ETL_CONSTANT = """
name: nation_dim
default_schema: cerner
primary_key:
  name: nation_id
  sources:
    nation_pk:
      table: nation
      columns:
        n_nationkey: bigint
columns:
  - name: nation_name
    tables: [nation]
    expression: nation.n_name
  - name: etl_version
    constant: v1
  - name: load_flag
    data_type: bigint
    constant: 1
"""

ORACLE_ETL_CONSTANT = """
WITH m AS (SELECT row_number() OVER (ORDER BY n_nationkey) AS nation_id, n_nationkey FROM nation)
SELECT m.nation_id, n.n_name AS nation_name, 'v1' AS etl_version, CAST(1 AS BIGINT) AS load_flag
FROM m JOIN nation n ON n.n_nationkey = m.n_nationkey
"""


# ETL: inline QueryTable source with DISTINCT ON dialect rewrite (#12, §4.4)

ETL_QUERY_TABLE = """
name: cust_first_order
default_schema: cerner
primary_key:
  name: cust_id
  sources:
    cust_first_pk:
      table: &cf
        alias: cust_first
        query: select distinct on (o_custkey) o_custkey, o_orderkey, o_totalprice from orders order by o_custkey
      columns:
        o_custkey: bigint
columns:
  - name: first_order_key
    tables: [*cf]
    expression: cust_first.o_orderkey
  - name: first_total_cents
    tables: [*cf]
    expression: CAST(floor(cust_first.o_totalprice * 100) AS BIGINT)
"""

ORACLE_ETL_QUERY_TABLE = """
WITH cf AS (
  SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_custkey, o_orderkey, o_totalprice) AS rn
    FROM orders) t WHERE rn = 1
), m AS (SELECT row_number() OVER (ORDER BY o_custkey) AS cust_id, o_custkey FROM cf)
SELECT m.cust_id, cf.o_orderkey AS first_order_key,
       CAST(floor(cf.o_totalprice * 100) AS BIGINT) AS first_total_cents
FROM m JOIN cf ON cf.o_custkey = m.o_custkey
"""


# ETL: pre_init temp table + inline VALUES + :: casts (#13, §2.2)

ETL_TEMP_TABLE = """
name: nation_band
default_schema: cerner
pre_init:
  - alias: band_lookup
    query: select * from (VALUES (0::int, 'alpha'), (1::int, 'beta'), (2::int, 'gamma'), (3::int, 'delta'), (4::int, 'epsilon')) as t (rkey, band)
primary_key:
  name: nation_id
  sources:
    nation_pk:
      table: nation
      columns:
        n_nationkey: bigint
columns:
  - name: region_band
    tables: [nation, band_lookup]
    constraints:
      - nation.n_regionkey = band_lookup.rkey
    expression: band_lookup.band
"""

ORACLE_ETL_TEMP_TABLE = """
WITH band_lookup AS (SELECT * FROM (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'), (3, 'delta'), (4, 'epsilon')) t(rkey, band)),
     m AS (SELECT row_number() OVER (ORDER BY n_nationkey) AS nation_id, n_nationkey FROM nation)
SELECT m.nation_id, b.band AS region_band
FROM m JOIN nation n ON n.n_nationkey = m.n_nationkey
LEFT JOIN band_lookup b ON n.n_regionkey = b.rkey
"""


# ETL: required-column not-null finalization (#22 — live in our engine)

ETL_REQUIRED = """
name: order_filtered
default_schema: cerner
primary_key:
  name: order_id
  sources:
    orders_pk:
      table: orders
      columns:
        o_orderkey: bigint
columns:
  - name: cust_segment
    tables: [orders, customer]
    constraints:
      - orders.o_custkey = customer.c_custkey
      - customer.c_acctbal > 0
    expression: customer.c_mktsegment
"""

ORACLE_ETL_REQUIRED = """
WITH m AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS order_id, o_orderkey FROM orders)
SELECT m.order_id, c.c_mktsegment AS cust_segment
FROM m
JOIN orders o ON o.o_orderkey = m.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_acctbal > 0
"""


# ---------------------------------------------------------------------------
# Opaque-SQL dialect surface (SURVEY §2.2/§4.4) — run through dialect.translate

SQL_EXPR_SURFACE = """
select o_orderkey::bigint as order_id,
       substring(o_orderpriority, 1, 1) as prio_code,
       cast(position('-' in o_orderpriority) as bigint) as dash_pos,
       cast(length(o_orderstatus) as bigint) as status_len,
       'S:' || o_orderstatus as status_tag,
       cast(extract(year from o_orderdate) as bigint) as order_year,
       case when o_totalprice > 100000 then 'hi' else 'lo' end as price_class
from cerner.orders
"""

ORACLE_SQL_EXPR_SURFACE = """
SELECT CAST(o_orderkey AS BIGINT) AS order_id,
       substring(o_orderpriority, 1, 1) AS prio_code,
       CAST(position('-' in o_orderpriority) AS BIGINT) AS dash_pos,
       CAST(length(o_orderstatus) AS BIGINT) AS status_len,
       'S:' || o_orderstatus AS status_tag,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
       CASE WHEN o_totalprice > 100000 THEN 'hi' ELSE 'lo' END AS price_class
FROM orders
"""

SQL_DISTINCT_ON = """
select distinct on (o_custkey) o_custkey as cust, o_orderkey as first_order
from cerner.orders
order by o_custkey, o_orderkey
"""

ORACLE_SQL_DISTINCT_ON = """
SELECT o_custkey AS cust, o_orderkey AS first_order FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_custkey, o_orderkey) AS rn
  FROM orders) t
WHERE rn = 1
"""


def _sql_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from omop_etl_spark.dialect import translate

        _engine(spark, sf_dir)
        return spark.sql(translate(sql))

    return run


# ---------------------------------------------------------------------------
# Analytics: aggregation / window / event-time (Spark-native plans).
# Money sums use integer cents (floor(x*100)) — exact, deterministic,
# identical across engines; raw double sums are order-dependent.


def _q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _source(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("bigint")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "sum_base_cents"
            ),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _source(spark, sf_dir, "orders")
    c = _source(spark, sf_dir, "customer")
    return (
        # customer scales linearly with SF — no broadcast hint; AQE picks
        # broadcast-hash only when the side actually fits (safe at 100x).
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "total_cents"
            ),
        )
        .select(
            F.col("c_custkey").cast("bigint").alias("cust_id"),
            F.col("c_name").alias("cust_name"),
            "order_cnt",
            "total_cents",
        )
        .orderBy(F.desc("total_cents"), "cust_id")
        .limit(10)
    )


ORACLE_TOP_CUSTOMERS = """
SELECT CAST(c.c_custkey AS BIGINT) AS cust_id, c.c_name AS cust_name,
       COUNT(*) AS order_cnt,
       CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_cents DESC, cust_id
LIMIT 10
"""


def _q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _source(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("price_rank", F.row_number().over(w))
        .filter(F.col("price_rank") <= 3)
        .select(
            F.col("o_orderkey").cast("bigint").alias("order_id"),
            F.col("o_custkey").cast("bigint").alias("cust_id"),
            F.col("price_rank").cast("bigint").alias("price_rank"),
        )
    )


ORACLE_WINDOW_RANK = """
SELECT CAST(o_orderkey AS BIGINT) AS order_id,
       CAST(o_custkey AS BIGINT) AS cust_id,
       CAST(price_rank AS BIGINT) AS price_rank
FROM (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
  FROM orders) t
WHERE price_rank <= 3
"""


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INTERSECT/EXCEPT as DataFrame operators (distinct set semantics)
    o = _source(spark, sf_dir, "orders")
    c = _source(spark, sf_dir, "customer")
    yr = lambda y: (  # noqa: E731
        o.filter(F.year("o_orderdate") == y)
        .select(F.col("o_custkey").cast("bigint").alias("custkey"))
    )
    neg = c.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").cast("bigint").alias("custkey")
    )
    return yr(1996).intersect(yr(1997)).subtract(neg)


ORACLE_SET_OPS = """
SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE extract(year FROM o_orderdate) = 1996
INTERSECT
SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE extract(year FROM o_orderdate) = 1997
EXCEPT
SELECT CAST(c_custkey AS BIGINT) AS custkey FROM customer WHERE c_acctbal < 0
"""


def _q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT percentiles (linear interpolation — same estimator as
    # DuckDB quantile_cont); approx_percentile is the sketch sibling
    # for the 100 TB path where exact sort-based percentiles don't pay
    li = _source(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.expr(f"percentile(l_quantity, {p})"), 6).alias(name)
            for p, name in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75")]
        ]
    )


ORACLE_AGG_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.50), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75
FROM lineitem
GROUP BY l_returnflag
"""


def _q_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # several COUNT(DISTINCT) over one scan — Expand + two-stage agg;
    # partial aggregation keeps the shuffle narrow at scale
    li = _source(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_AGG_MULTI_DISTINCT = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _source(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )


ORACLE_EVENTS_HOURLY = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
"""


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.streaming import sessionize_batch

    ev = _source(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30)


ORACLE_EVENTS_SESSIONIZE = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id,
       MIN(epoch_us(ts)) AS session_start_us,
       MAX(epoch_us(ts)) AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, sess
"""


def _q_events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization, driver-verifiable end-to-end (VERDICT
    r11 #6): the events parquet replayed through Structured Streaming's
    file source with ``Trigger.AvailableNow`` into the built-in
    ``session_window`` aggregation (streaming/events.sessionize's
    plan), collected via a memory sink once the replay drains. Probed
    semantics (r12): ``session_window`` merges an event at EXACTLY
    ``prev_ts + gap`` (break is strictly greater), identical to
    ``sessionize_batch``'s islands — so the oracle is the batch
    islands with ``session_end_us = max(ts) + gap``. Epoch-micros
    output (string-formatted timestamps differ across engines).

    Scale contract: complete-mode + memory sink is the TEST harness
    (bounded replay); a production stream writes append-mode to a
    real sink with the 2 h watermark bounding state. The
    session_window aggregation itself shuffles once on (user_id,
    session) and its state is per-OPEN-session, not per-event."""
    from omop_etl_spark.streaming.events import sessionize

    src = _stream_source(spark, sf_dir, "events")
    tbl = _run_available_now(
        sessionize(src, gap="30 minutes", watermark="2 hours"),
        "sess_replay",
        output_mode="complete",
    )
    return tbl.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias(
            "session_end_us"
        ),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("value_cents").cast("bigint").alias("value_cents"),
    )


ORACLE_EVENTS_SESSIONIZE_STREAM = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS session_start_us,
       CAST(MAX(epoch_us(ts)) + 30 * 60 * 1000000 AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, sess
"""


def _q_events_busy_time_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING busy-time (merged-interval coverage) per user,
    driver-verified end-to-end: the events parquet replayed through
    the file source (``Trigger.AvailableNow``) into
    ``streaming.events.stream_interval_union``.

    An interval ``[s, e)`` is an event at ``s`` with a DYNAMIC
    session gap of ``e − s``, and ``session_window`` merges
    overlapping-or-touching sessions exactly like the island fusion
    rule, so the replay is one built-in streaming session-window
    aggregation in complete mode (one row per ISLAND) with no Python
    worker. The per-user rollup (n_islands / covered / max_island)
    runs on the sink table; oracle = the batch islands,
    order-independent by construction."""
    from omop_etl_spark.streaming.events import stream_interval_union

    src = _stream_source(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = src.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        us.alias("s"),
        (us + (F.lit(30) + F.col("event_id") % 271) * F.lit(1000000))
        .cast("bigint")
        .alias("e"),
    )
    tbl = _run_available_now(
        stream_interval_union(iv, "user_id", "s", "e"),
        "busy_replay",
        output_mode="complete",
    )
    island_len = F.col("island_end") - F.col("island_start")
    return (
        tbl.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(island_len).alias("covered"),
            F.max(island_len).alias("max_island"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("n_islands").cast("bigint").alias("n_islands"),
            F.col("covered").cast("bigint").alias("covered"),
            F.col("max_island").cast("bigint").alias("max_island"),
        )
    )


def _q_events_latest_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING last-writer-wins state (VERDICT r12 #7; r17 JVM fast
    path): the events parquet replayed through the file source
    (``Trigger.AvailableNow``) into ``streaming.events.
    stream_latest_state`` — the continuously maintained CDC/SCD1
    'current value' table (the batch engine's LWW column rule, SURVEY
    §2.1 #8). Since r17 the operator is a pure-JVM streaming
    aggregation ``groupBy(key).agg(max(struct(ord, value)))`` in
    update mode — the monotone-argmax identity this gate's own
    recovery step always used, now INSIDE the operator, so no Python
    worker touches the 5M-live-key path (the ~90 µs/key/batch group
    dispatch that dominated the pandas formulation at sf10).

    Oracle = the batch argmax: per user, the event_type at the maximum
    ts, ord ties broken by the GREATER value string (the operator's
    documented batching-independent total order; DuckDB replays it as
    ``MAX(val)`` over the max-ord rows — NULL loses under both). The
    final per-key row is recovered from the update-mode emissions
    without batch ids: the state is monotone under that same total
    order, so ``max(struct(ord, value))`` over the sink IS the last
    emission (struct comparison sorts NULL first, the same NULL-loses
    rule)."""
    from omop_etl_spark.streaming.events import stream_latest_state

    src = _stream_source(spark, sf_dir, "events")
    lww = src.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros(F.col("ts")).alias("last_ts_us"),
        F.col("event_type").alias("last_event_type"),
    )
    tbl = _run_available_now(
        stream_latest_state(lww, "user_id", "last_ts_us", "last_event_type"),
        "lww_replay",
        output_mode="update",
    )
    final = tbl.groupBy("user_id").agg(
        F.max(F.struct("last_ts_us", "last_event_type")).alias("__w")
    )
    return final.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("__w.last_ts_us").cast("bigint").alias("last_ts_us"),
        F.col("__w.last_event_type").alias("last_event_type"),
    )


ORACLE_EVENTS_LATEST_STATE_STREAM = """
WITH o AS (
  SELECT user_id, epoch_us(ts) AS ord, event_type AS val FROM events
),
m AS (SELECT user_id, MAX(ord) AS last_ts_us FROM o GROUP BY 1)
SELECT CAST(o.user_id AS BIGINT) AS user_id,
       CAST(m.last_ts_us AS BIGINT) AS last_ts_us,
       MAX(o.val) AS last_event_type
FROM o JOIN m ON o.user_id = m.user_id AND o.ord = m.last_ts_us
GROUP BY 1, 2
"""


def _q_orders_cdc_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC materialization WITH deletes (VERDICT r14 #2): the
    orders parquet replayed through the file source
    (``Trigger.AvailableNow``) fans out to the same synthetic
    insert/update/delete change log as the batch ``orders_cdc_apply``
    gate (key arithmetic, so both engines build the identical log) and
    runs through ``streaming.events.stream_cdc_state`` — the
    upsert/delete state machine (one (ord, op, value) triple of state
    per live key; a winning delete keeps a tombstone so late
    pre-delete changes cannot resurrect the key). Since r17 the
    operator is a pure-JVM streaming aggregation
    ``groupBy(key).agg(max(struct(ord, op, value)))`` in update mode
    with the tombstone NULL in the output projection — the 50k live
    keys of this replay (5M at sf10) never cross a Python boundary,
    removing the ~90 µs/key/batch group dispatch that made this the
    most expensive gate in the r16 bench (6.6 s; 453 s at sf10).

    The change fan-out is one scan: each base row carries its I/U/D
    changes as an array of structs, nulls filtered, exploded — all
    stateless ops the stream engine accepts below the stateful
    operator. Oracle = the batch argmax per key (row_number over seq
    DESC), tombstones INCLUDED with NULL value — the delete path is
    exactly what ``stream_latest_state`` cannot express and this gate
    exists to verify. Final per-key rows are recovered from the
    update-mode emissions without batch ids: seq is unique per key in
    this log and the state is monotone under the operator's total
    order, so ``max(struct(seq, op, value))`` IS the last emission
    (the busy-time recovery pattern; the tombstone's NULL value sorts
    first, and a tombstone only wins at the key's max seq, so the
    NULL-value row still carries the winning (seq, op))."""
    from omop_etl_spark.streaming.events import stream_cdc_state

    o = _stream_source(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
    )
    chg = F.struct  # (seq, op, value) — names fixed by the first element
    arr = F.array(
        chg(
            F.lit(1).cast("long").alias("seq"),
            F.lit("I").alias("op"),
            F.concat(F.col("status"), F.lit(":"), F.col("cents").cast("string")).alias("value"),
        ),
        F.when(
            F.col("k") % 2 == 0,
            chg(
                F.lit(2).cast("long").alias("seq"),
                F.lit("U").alias("op"),
                F.concat(F.lit("U:"), (F.col("cents") + 500).cast("string")).alias("value"),
            ),
        ),
        F.when(
            F.col("k") % 9 == 0,
            chg(
                F.lit(3).cast("long").alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("string").alias("value"),
            ),
        ),
    )
    changes = base.select(
        "k", F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("c")
    ).select("k", F.col("c.seq").alias("seq"), F.col("c.op").alias("op"), F.col("c.value").alias("value"))
    final = _run_available_now(
        stream_cdc_state(changes, "k", "seq", "value", op_col="op", delete_op="D"),
        "cdc_replay",
        output_mode="update",
    ).groupBy("k").agg(
        F.max(F.struct("seq", "op", "value")).alias("__w")
    )
    return final.select(
        F.col("k").cast("bigint").alias("o_orderkey"),
        F.col("__w.seq").cast("bigint").alias("final_seq"),
        F.col("__w.op").alias("final_op"),
        F.col("__w.value").alias("final_value"),
    )


ORACLE_ORDERS_CDC_STATE_STREAM = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 = 0
),
changes AS (
  SELECT k, 1 AS seq, 'I' AS op, status || ':' || CAST(cents AS VARCHAR) AS value FROM base
  UNION ALL
  SELECT k, 2, 'U', 'U:' || CAST(cents + 500 AS VARCHAR) FROM base WHERE k % 2 = 0
  UNION ALL
  SELECT k, 3, 'D', NULL FROM base WHERE k % 9 = 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM changes
)
SELECT CAST(k AS BIGINT) AS o_orderkey,
       CAST(seq AS BIGINT) AS final_seq,
       op AS final_op,
       CASE WHEN op = 'D' THEN NULL ELSE value END AS final_value
FROM ranked WHERE rn = 1
"""


def _q_events_burst_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING burst dedup, driver-gated: the events parquet
    replayed through the file source (``Trigger.AvailableNow``) into
    ``streaming.events.stream_burst_dedup`` — per (user, event_type),
    only the first event of every burst (chain with consecutive gaps
    < 10 min) survives.

    A burst IS a ``session_window(ts, 600s)`` group and the survivor
    its ``min(struct(ts, id))``, so the replay is one built-in
    streaming session-window aggregation in **complete** mode (an
    unwatermarked streaming aggregate cannot append, and a finite
    replay's last sessions never pass a watermark) with no Python
    worker (VERDICT r17 #1: the per-key Python dispatch it replaced
    took 128 s at the sf10 tier, SCALEPROBE_stream_r17). Complete-mode
    state holds every session of the bounded replay — the right trade
    for a backfill gate; a continuous feed would run the same
    aggregation in append mode behind a watermark (state then evicts
    as sessions close).

    Oracle = the batch twin's oracle VERBATIM
    (``ORACLE_EVENTS_BURST_DEDUP``): session merging is a pure
    function of the event SET, so the emitted survivors equal batch
    ``burst_dedup`` for ANY arrival order (pinned in
    tests/test_incremental_replay.py). Survivors appear exactly once
    in the final complete-mode table, so the per-type aggregation
    needs no dedup trick."""
    from omop_etl_spark.streaming.events import stream_burst_dedup

    src = _stream_source(spark, sf_dir, "events")
    kept = stream_burst_dedup(
        src.select("user_id", "event_type", "ts", "event_id"),
        keys=["user_id", "event_type"],
        ts_col="ts",
        id_col="event_id",
        gap_seconds=600,
    )
    return (
        _run_available_now(kept, "burst_replay", output_mode="complete")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
    )


#: memory-sink tables registered by prior replays, dropped at the next
#: replay's start (see the lifecycle note in _run_available_now)
_SINK_TABLES: list = []


def _run_available_now(
    stream_df: DataFrame,
    prefix: str,
    output_mode: str = "append",
    timeout_s: float = 600.0,
) -> DataFrame:
    """Replay a streaming frame to completion (``Trigger.AvailableNow``,
    memory sink) and return the sink table — the shared tail of every
    streaming replay gate. ``output_mode`` is "append" for the stateful
    pandas operators, "update" for the pure-JVM streaming aggregations
    (an aggregate without a watermark cannot run in append mode), and
    "complete" where the gate wants the whole result table per trigger.

    ``awaitTermination`` is BOUNDED: a replay that stops draining (the
    r16 failure class — a pending processing-time timeout keeps an
    AvailableNow query scheduling no-data batches forever) fails loudly
    after ``timeout_s`` instead of hanging the 216-query driver run.

    Sink-table lifecycle (r18): each call registers a fresh
    uuid-named memory-sink table whose rows live ON THE DRIVER HEAP
    for the life of the session — ``clearCache()`` between bench
    queries does not release them, so a long run leaked every
    replay's full sink (found as a driver ``OutOfMemoryError`` that
    wedged a 3-tier scale probe: the sf10 complete-mode sinks
    accumulated gigabytes). Replays run sequentially and each
    caller's frame is consumed within its own query, so the PREVIOUS
    sinks are dead by the time the next replay starts: drop them
    here before registering the new one."""
    import uuid

    spark_ = stream_df.sparkSession
    while _SINK_TABLES:
        old = _SINK_TABLES.pop()
        try:
            spark_.catalog.dropTempView(old)
        except Exception:  # noqa: BLE001 - already dropped / renamed
            pass

    qn = f"{prefix}_{uuid.uuid4().hex[:12]}"
    _SINK_TABLES.append(qn)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(qn)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise RuntimeError(
                f"streaming replay {qn!r} did not terminate within "
                f"{timeout_s:.0f}s — a hung AvailableNow replay (e.g. a "
                f"processing-time timeout armed on a finite replay) now "
                f"fails loudly instead of blocking the driver"
            )
    finally:
        q.stop()
    return stream_df.sparkSession.table(qn)


def _q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING first-seen-wins dedup with TTL-bounded state
    (VERDICT r15 #2, first of the three remaining ungated streaming
    operators): the events parquet replayed through
    ``streaming.events.stream_dedup`` keyed on (user_id, event_type) —
    each key's FIRST row is emitted exactly once, ever. The replay
    runs with ``ttl_minutes=None``, which since r17 IS the pure-JVM
    fast path: no-TTL first-seen-wins is exactly streaming
    ``dropDuplicates`` (built-in stateful operator, state in the
    state store, no Python worker — removing the per-key Python
    group dispatch from the no-TTL path). With a TTL the operator
    keeps its ``applyInPandasWithState`` form: processing-time expiry
    bounds memory by the ACTIVE-key set — the contract
    ``dropDuplicates`` cannot offer — but a finite replay must not
    arm it (a pending processing-time timeout keeps an AvailableNow
    query scheduling no-data batches until the TTL fires).

    The stream is projected to exactly the key columns before the
    stateful operator, so the emitted row per key is a pure function
    of the data (whatever physical row arrives first, its projection
    is the key itself) and the emission set is oracle-expressible:
    SELECT DISTINCT. The per-type rollup (distinct-user count + the
    order-insensitive user-id checksum) value-checks WHICH keys
    emitted and that each emitted once — the exactly-once-per-key
    semantics itself."""
    from omop_etl_spark.streaming.events import stream_dedup

    src = _stream_source(spark, sf_dir, "events")
    kept = stream_dedup(
        src.select("user_id", "event_type"),
        keys=["user_id", "event_type"],
        # None = NoTimeout: a processing-time TTL would keep the
        # AvailableNow replay alive (no-data batches) until every
        # key's TTL fired — TTL is a continuous-trigger feature
        ttl_minutes=None,
    )
    return (
        _run_available_now(kept, "dedup_replay")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("user_id").cast("bigint").alias("user_sum"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_DEDUP_STREAM = """
WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT event_type,
       COUNT(*) AS n_users,
       CAST(SUM(user_id) AS BIGINT) AS user_sum
FROM d GROUP BY event_type ORDER BY event_type
"""


def _q_events_kmv_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KMV distinct-count (VERDICT r15 #2): the events
    parquet replayed through ``streaming.events.stream_kmv_distinct``
    — a running distinct-user estimate per event type whose state is
    the k=64 smallest md5 hashes per key (a few KB) no matter how many
    distinct users flow past.

    The sketch state is a pure function of the distinct-value SET
    (order-independent: the k smallest hashes), so the final emission
    equals batch ``kmv_distinct`` of the whole table and the oracle is
    the batch gate's SQL (same public md5 hash, same (k-1)/kth-hash
    estimator, same 2^-32 clamp). Final per-key rows are recovered
    from the append-mode emissions without batch ids: n_kept is
    nondecreasing and, once saturated at k, the kth hash only ever
    shrinks, so est_distinct is nondecreasing too —
    ``max(struct(n_kept, est_distinct))`` IS the last emission (the
    cdc-gate recovery pattern). At sf0.01 each type has ~150 distinct
    users > k, so the saturated estimator path (not the exact-count
    fallback) is what's checked.

    Cost shape (r17): the md5 hashing runs JVM-side (``unit_hash``
    projected BEFORE the stateful operator — the same expression the
    batch sketch compiles) and the state function reduces each Arrow
    batch with one vectorized ``np.unique`` merge, so no per-row
    Python remains; the per-KEY group dispatch that does remain is
    this operator's documented modest-key-cardinality contract (five
    event types here)."""
    from omop_etl_spark.streaming.events import stream_kmv_distinct

    src = _stream_source(spark, sf_dir, "events")
    est = stream_kmv_distinct(
        src.select("event_type", "user_id"),
        key_col="event_type",
        value_col="user_id",
        k=64,
    )
    final = (
        _run_available_now(est, "kmv_replay")
        .groupBy("event_type")
        .agg(F.max(F.struct("n_kept", "est_distinct")).alias("__w"))
    )
    return final.select(
        "event_type",
        F.col("__w.n_kept").cast("bigint").alias("n_kept"),
        F.col("__w.est_distinct").cast("bigint").alias("est_distinct"),
    ).orderBy("event_type")


ORACLE_EVENTS_KMV_DISTINCT_STREAM = """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE floor(63.0 / greatest(MAX(h), 1.0 / 4294967296.0)) END AS BIGINT) AS est_distinct
FROM ranked WHERE rn <= 64 GROUP BY event_type ORDER BY event_type
"""


def _q_events_logq_quantile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING log-linear-histogram quantile (VERDICT r15 #2; r17
    JVM register path): event values (as integer cents) replayed
    through ``streaming.events.stream_logq_buckets`` — the pure-JVM
    register stream (a streaming ``groupBy(key, bucket).count()``
    whose bucket id is a whole-stage-codegen integer expression), the
    bounded-state answer to "what is p50 of this metric so far, right
    now?" with NO Python worker anywhere: rows never leave the JVM
    and state is one long per live (key, bucket) register.

    The registers are a pure function of the value MULTISET
    (order-independent counts), so the final sketch equals batch
    ``logq_buckets`` of the whole table; update-mode emissions carry
    CUMULATIVE counts, which are nondecreasing — so the final
    register is ``max(c)`` per (key, bucket), batch-id-free (the same
    monotone-recovery identity as the kmv/cdc gates). Quantiles then
    read off the recovered sketch with the batch
    ``sketches.logq_quantiles`` (the lower-quantile rank rule on the
    bucket spine), and the oracle replays the same pure-integer
    bucket index (bit-length octave + 2^5 linear sub-buckets — no
    transcendental log) in SQL. Types whose values never reach 1 cent
    produce no registers at all, mirroring the oracle's positivity
    filter."""
    from omop_etl_spark.operators.sketches import logq_quantiles
    from omop_etl_spark.streaming.events import stream_logq_buckets

    src = _stream_source(spark, sf_dir, "events")
    vals = src.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    reg = _run_available_now(
        stream_logq_buckets(vals, key_col="event_type", value_col="cents", m=5),
        "logq_replay",
        output_mode="update",
    )
    sketch = reg.groupBy("event_type", "bucket").agg(F.max("c").alias("c"))
    q = logq_quantiles(sketch, ["event_type"], [(1, 2)], m=5)
    return q.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pos"),
        F.col("q1_2").cast("bigint").alias("p50_est_cents"),
    ).orderBy("event_type")


ORACLE_EVENTS_LOGQ_QUANTILE_STREAM = """
WITH pos AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE CAST(floor(value * 100) AS BIGINT) >= 1
),
b AS (
  SELECT event_type,
         length(bin(cents)) * 32
           + ((cents * 32) // (CAST(1 AS BIGINT) << (length(bin(cents)) - 1))
              - 32) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pos GROUP BY 1, 2
),
cumb AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM b
),
est AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pos,
         MIN(CASE WHEN cum >= (1 * (n - 1)) // 2 + 1 THEN bucket END) AS b50
  FROM cumb GROUP BY 1
)
SELECT event_type, n_pos,
       CAST((CAST(1 AS BIGINT) << (CAST(b50 // 32 AS INT) - 1))
            * (32 + b50 % 32) // 32 AS BIGINT) AS p50_est_cents
FROM est ORDER BY event_type
"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event annotated with the customer's most
    recent order at event time (union-window plan: one shuffle, no
    join node — operators/temporal.py)."""
    from omop_etl_spark.operators.temporal import asof_join

    # orders.o_orderdate is TIMESTAMP_NTZ in the parquet; pin the
    # session to UTC so the NTZ->LTZ cast is epoch-identical to the
    # oracle's naive-timestamp semantics (get-compare guard: an
    # unchanged conf.set still invalidates cached plan state).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _source(spark, sf_dir, "events")
    orders = _source(spark, sf_dir, "orders")
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_totalprice",
        ),
        left_on=["user_id"],
        right_on=["o_custkey"],
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        tiebreak=["o_orderkey"],
    )
    return out.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_o_orderkey").cast("bigint").alias("asof_orderkey"),
        F.unix_micros("asof_o_orderdate").alias("asof_order_us"),
        F.floor(F.col("asof_o_totalprice") * 100)
        .cast("bigint")
        .alias("asof_price_cents"),
    )


# Deterministic mirror of the union-window as-of plan; ties on
# (user, ts) break to the greatest o_orderkey in both engines.
ORACLE_ASOF_JOIN = """
WITH u AS (
  SELECT user_id AS k, ts, NULL::BIGINT AS okey, NULL::TIMESTAMP AS odate,
         NULL::DOUBLE AS oprice, event_id, 1 AS is_evt
  FROM events
  UNION ALL
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderdate, o_totalprice,
         NULL, 0
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
), w AS (
  SELECT *,
    last_value(okey IGNORE NULLS) OVER win AS a_okey,
    last_value(odate IGNORE NULLS) OVER win AS a_odate,
    last_value(oprice IGNORE NULLS) OVER win AS a_oprice
  FROM u
  WINDOW win AS (PARTITION BY k ORDER BY ts, is_evt, okey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, CAST(k AS BIGINT) AS user_id, epoch_us(ts) AS ts_us,
       CAST(a_okey AS BIGINT) AS asof_orderkey,
       epoch_us(a_odate) AS asof_order_us,
       CAST(floor(a_oprice * 100) AS BIGINT) AS asof_price_cents
FROM w WHERE is_evt = 1
"""


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (binned equi-join plan, no
    BroadcastNestedLoopJoin): all events landing inside the 30-minute
    window opened by each purchase event, aggregated per window."""
    from omop_etl_spark.operators.temporal import range_join

    ev = _source(spark, sf_dir, "events")
    iv = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("win_id"), F.col("ts").alias("win_start")
        )
        .withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 30 MINUTES"))
    )
    out = range_join(
        ev.select("event_id", "ts", "value"),
        iv,
        point_ts="ts",
        start="win_start",
        end="win_end",
        bin_width_seconds=1800,
        payload_cols=["win_id"],
    )
    return (
        out.groupBy("win_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("win_id").cast("bigint").alias("win_id"),
            "n_events",
            "value_cents",
        )
    )


ORACLE_RANGE_JOIN = """
SELECT CAST(p.event_id AS BIGINT) AS win_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events p JOIN events e
  ON e.ts >= p.ts AND e.ts < p.ts + INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
"""


# ---------------------------------------------------------------------------
# Pipeline operators: dedup + text analysis (north-star extensions)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.functions.text import token_signature
    from omop_etl_spark.operators.dedup import dedup_groups

    docs = _spread_read(spark, sf_dir, "documents")
    groups = dedup_groups(
        docs.withColumn("sig", token_signature("text")), ["sig"], id_col="doc_id"
    )
    return groups.select(
        F.col("keep_id").cast("bigint").alias("keep_doc_id"),
        F.col("dup_count").cast("bigint").alias("dup_count"),
    )


ORACLE_DEDUP_EXACT = """
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id, COUNT(*) AS dup_count
FROM (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig
  FROM documents) t
GROUP BY sig
"""


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.functions.text import token_count

    docs = _spread_read(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", token_count("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
        )
    )


ORACLE_TEXT_STATS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT)) AS BIGINT) AS total_tokens,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars
FROM documents
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Similarity search + near-duplicate detection (north-star extensions)


def _q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k baseline. The query batch is bounded by
    construction (``vec_id < 16`` — constant at every SF), which is
    what makes broadcasting the query side inside cosine_topk safe at
    100 TB: queries are a caller-bounded request batch, the corpus
    side streams map-only."""
    from omop_etl_spark.operators.similarity import cosine_topk

    emb = _spread_read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    return cosine_topk(q, emb, k=5).select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        "score",
    )


ORACLE_SIM_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 16),
     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
     s AS (SELECT query_id, neighbor_id,
                  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
           FROM c CROSS JOIN q)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM s) t
WHERE rn <= 5
"""


# shared by the query and its oracle so the parameters cannot drift
_LSH_PARAMS = dict(k=5, num_bits=8, num_probes=4, num_tables=2, seed=42, dim=64)
_IVF_PARAMS = dict(k=5, num_centroids=16, nprobe=4, seed=42, dim=64)


def _q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate by design (recall < 1 vs sim_topk), but fully
    # DETERMINISTIC given the seed — the oracle below replays the same
    # hyperplanes, so the driver value-checks this query like any other
    from omop_etl_spark.operators.similarity import lsh_topk

    emb = _spread_read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    # multi-probe + 2 hash tables: sparse home buckets no longer starve
    # queries below k (VERDICT r1 #4); recall gated in test_operators
    return lsh_topk(q, emb, **_LSH_PARAMS)


def _sql_dvec(row) -> str:
    """A numpy vector as an exact DuckDB DOUBLE[] literal (repr is the
    shortest round-trip form, so the oracle sees bit-identical planes)."""
    return "[" + ", ".join(repr(float(x)) for x in row) + "]::DOUBLE[]"


def _oracle_sim_topk_lsh() -> str:
    """DuckDB replay of lsh_topk (VERDICT r5 #1): the seeded Gaussian
    hyperplanes are emitted as a VALUES table; bucket = the weighted sum
    of projection sign bits; query probes = home bucket + the buckets
    reached by flipping the ``num_probes - 1`` smallest-|margin| bits
    (ties by bit index, matching numpy's stable argsort); candidates
    dedup across tables before the exact cosine rerank."""
    import numpy as np

    p = _LSH_PARAMS
    nb, seed, dim = p["num_bits"], p["seed"], p["dim"]
    weights = [1 << (nb - 1 - i) for i in range(nb)]
    rows = []
    for t in range(p["num_tables"]):
        planes = np.random.default_rng(seed + 7919 * t).standard_normal((nb, dim))
        for i in range(nb):
            rows.append(f"({t}, {i}, {weights[i]}, {_sql_dvec(planes[i])})")
    nflip = min(max(p["num_probes"] - 1, 0), nb)
    return f"""
WITH planes(tbl, bit_i, w, pv) AS (VALUES {", ".join(rows)}),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < 16),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
cproj AS (SELECT neighbor_id, tbl, w, list_dot_product(cv, pv) AS d
          FROM c CROSS JOIN planes),
cb AS (SELECT neighbor_id, tbl,
              CAST(SUM(CASE WHEN d >= 0 THEN w ELSE 0 END) AS BIGINT) AS bucket
       FROM cproj GROUP BY neighbor_id, tbl),
qproj AS (SELECT query_id, tbl, bit_i, w, list_dot_product(qv, pv) AS d
          FROM q CROSS JOIN planes),
qbase AS (SELECT query_id, tbl,
                 CAST(SUM(CASE WHEN d >= 0 THEN w ELSE 0 END) AS BIGINT) AS base
          FROM qproj GROUP BY query_id, tbl),
qflip AS (SELECT query_id, tbl, w,
                 row_number() OVER (PARTITION BY query_id, tbl
                                    ORDER BY abs(d) ASC, bit_i ASC) AS mr
          FROM qproj),
qprobe AS (SELECT query_id, tbl, base AS bucket FROM qbase
           UNION ALL
           SELECT f.query_id, f.tbl, xor(b.base, CAST(f.w AS BIGINT)) AS bucket
           FROM qflip f JOIN qbase b USING (query_id, tbl)
           WHERE f.mr <= {nflip}),
cand AS (SELECT DISTINCT p2.query_id, cb.neighbor_id
         FROM qprobe p2 JOIN cb ON p2.tbl = cb.tbl AND p2.bucket = cb.bucket),
s AS (SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(qv, cv) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             AS score
      FROM cand JOIN q ON cand.query_id = q.query_id
                JOIN c ON cand.neighbor_id = c.neighbor_id)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rn
      FROM s) t
WHERE rn <= {p["k"]}
"""


def _duck_shingles(source: str = "documents", n: int = 3) -> str:
    """Distinct word-n-gram shingles of ``source(doc_id, text)`` as
    DuckDB SQL (mirrors operators.dedup.token_shingles: space-split,
    whole text as the single shingle for docs shorter than n)."""
    return f"""
SELECT doc_id, list_distinct(CASE WHEN len(toks) >= {n}
    THEN list_transform(range(1, len(toks) - {n} + 2), i -> array_to_string(toks[i:i+{n - 1}], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS s
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {source}) raw
"""


_DUCK_SHINGLES = _duck_shingles()


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.operators.dedup import jaccard_pairs

    docs = _spread_read(spark, sf_dir, "documents")
    return jaccard_pairs(docs, n=3, threshold=0.8).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "jaccard",
    )


# Exact pair-Jaccard via the gram-join identity: |A∩B| = the count of
# shared distinct shingles, computed by an equi-join on the shingle +
# a (id_a, id_b) group-count. Algebraically identical to the r10 form
# (sh a JOIN sh b ON a.doc_id < b.doc_id with per-pair list_intersect)
# — a qualifying pair shares >= 1 shingle, so no pair is lost — but
# the all-pairs form is O(n^2) BY SHAPE and DuckDB cannot evaluate it
# over sf1's 500k docs (killed after 55 min, r15), while this form is
# O(sum df^2) = 28M intermediate rows at sf1 (max shingle df 25).
# Still a SPEC, not the implementation: no prefix filter, no banding,
# no hashing — just the set identity.
ORACLE_JACCARD_PAIRS = f"""
WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
e AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS ti
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
       round(ti / CAST(sa.n + sb.n - ti AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sz sa ON inter.ia = sa.doc_id
JOIN sz sb ON inter.ib = sb.doc_id
WHERE ti / CAST(sa.n + sb.n - ti AS DOUBLE) >= 0.8
"""


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup endgame: exact n-gram Jaccard pairs folded into
    connected components (large/small-star, operators/cluster.py) with
    one survivor elected per cluster."""
    from omop_etl_spark.operators.cluster import assign_clusters
    from omop_etl_spark.operators.dedup import jaccard_pairs

    docs = _spread_read(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, n=3, threshold=0.8)
    return assign_clusters(docs, pairs, id_col="doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "is_survivor",
    )


# pairs via the same gram-join identity as ORACLE_JACCARD_PAIRS (see
# that comment): the all-pairs form is O(n^2) by shape and infeasible
# in DuckDB past the driver SF; this form is value-identical.
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE sh AS MATERIALIZED ({_DUCK_SHINGLES}),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS ti
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia AS id_a, ib AS id_b
  FROM inter
  JOIN sz sa ON inter.ia = sa.doc_id
  JOIN sz sb ON inter.ib = sb.doc_id
  WHERE ti / CAST(sa.n + sb.n - ti AS DOUBLE) >= 0.8
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN MIN(r) = id THEN 1 ELSE 0 END AS INT) AS is_survivor
FROM reach GROUP BY id
"""


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH near-dup pairs with the md5 base hash, so the ENTIRE pipeline
    # (signature → banding → bucket cap → exact-jaccard verify) replays
    # bit-for-bit in DuckDB: a full hash-checked row, not rows-only.
    # Precision is exact (verified jaccard); recall < 1 near the
    # threshold — but recall is a deterministic function of the seeded
    # signatures, so the oracle reproduces the exact same pair set.
    from omop_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = _spread_read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=8, threshold=0.8, base_hash="md5"
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "jaccard",
    )


def _minhash_pair_ctes(
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.8,
    max_bucket: int = 256, source: str = "documents",
) -> str:
    """CTE chain (``sh`` … ``mh_pairs``) replaying
    operators.dedup.minhash_lsh_pairs(base_hash="md5") bit-for-bit in
    DuckDB: same md5-derived 32-bit shingle hash, same seeded affine
    rehash family, same banding, same over-full-bucket star-linking,
    same exact-jaccard verification. ``mh_pairs`` has columns
    ``(id_a, id_b, jaccard)``."""
    from omop_etl_spark.operators.dedup import _MERSENNE_P, _affine_params

    rows = num_hashes // bands
    params = _affine_params(num_hashes)
    mins = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {_MERSENNE_P}))"
        f" AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + ", ".join(f"m{b * rows + r} AS x{r}" for r in range(rows))
        + " FROM sig"
        for b in range(bands)
    )
    xs = ", ".join(f"x{r}" for r in range(rows))
    xeq = " AND ".join(f"a.x{r} = b.x{r}" for r in range(rows))
    return f"""sh AS ({_duck_shingles(source)}),
h AS (SELECT doc_id,
             list_transform(s, g -> CAST('0x' || substr(md5('0|' || g), 1, 8) AS BIGINT) & {_MERSENNE_P}) AS hs
      FROM sh),
sig AS (SELECT doc_id, {mins} FROM h),
banded AS ({band_selects}),
stats AS (
  SELECT doc_id, band, {xs},
         COUNT(*) OVER w AS cnt, MIN(doc_id) OVER w AS mn
  FROM banded WINDOW w AS (PARTITION BY band, {xs})
),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM stats a JOIN stats b
      ON a.band = b.band AND {xeq} AND a.doc_id < b.doc_id
    WHERE a.cnt <= {max_bucket}
    UNION ALL
    SELECT mn, doc_id FROM stats WHERE cnt > {max_bucket} AND doc_id <> mn
  )
),
mh_pairs AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(a.s, b.s)) /
               CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE), 6) AS jaccard
  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
  WHERE len(list_intersect(a.s, b.s)) /
        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= {threshold}
)"""


def _oracle_minhash_lsh(**kw) -> str:
    return f"""
WITH {_minhash_pair_ctes(**kw)}
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, jaccard
FROM mh_pairs
"""


def _q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end approximate corpus dedup — the LLM-pipeline flagship:
    MinHash-LSH candidate pairs (md5 base hash, oracle-replicable)
    verified by exact Jaccard, folded into connected components
    (large/small-star), one survivor elected per cluster. The full
    oracle replays signature → banding → verify → transitive closure."""
    from omop_etl_spark.operators.cluster import assign_clusters
    from omop_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = _spread_read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=8, threshold=0.8, base_hash="md5"
    )
    return assign_clusters(docs, pairs, id_col="doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "is_survivor",
    )


def _q_docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking (64 tokens, 16 overlap) — the
    map-only first stage of an embedding/pre-tokenization pipeline."""
    from omop_etl_spark.operators.chunking import chunk_documents

    docs = _spread_read(spark, sf_dir, "documents")
    return chunk_documents(
        docs, chunk_tokens=64, overlap=16, keep_cols=("lang",)
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "chunk_text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


ORACLE_DOCS_CHUNK = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(s.i AS INT) AS chunk_id,
       array_to_string(toks[s.i * 48 + 1 : s.i * 48 + 64], ' ') AS chunk_text,
       CAST(least(len(toks) - s.i * 48, 64) AS INT) AS n_tokens
FROM t, LATERAL (
  SELECT unnest(range(0, CAST(ceil(len(toks) / 48.0) AS BIGINT))) AS i
) s
WHERE len(toks) > 0
"""


def _q_docs_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf, lexicographic
    tie-break) — keyword extraction over the corpus."""
    from omop_etl_spark.operators.chunking import tfidf_topk

    docs = _spread_read(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=5).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


ORACLE_DOCS_TFIDF = """
WITH terms AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * ln((n.n_docs + 1) / CAST(dfreq.df + 1 AS DOUBLE)), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def _oracle_near_clusters(**kw) -> str:
    return f"""
WITH RECURSIVE {_minhash_pair_ctes(**kw)},
edges AS (
  SELECT id_a AS u, id_b AS v FROM mh_pairs
  UNION SELECT id_b, id_a FROM mh_pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN MIN(r) = id THEN 1 ELSE 0 END AS INT) AS is_survivor
FROM reach GROUP BY id
"""


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.functions.text import quality_score

    docs = _spread_read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round(quality_score("text"), 4).alias("quality"),
    )


ORACLE_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
         length(text) AS n_len,
         length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS n,
         CASE WHEN n_len > 0 THEN n_punct / CAST(n_len AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS mtl
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(least(n / 20.0, 1.0)
             * (1.0 - least(punct_ratio * 4, 1.0))
             * (CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.5 END), 4) AS quality
FROM m
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + audit counts. The synthetic corpus carries no PII,
    so the query plants deterministic emails/phones (same expression in
    the oracle) and verifies the scrub + counts byte-for-byte."""
    from omop_etl_spark.functions.text import pii_counts, pii_scrub

    docs = _spread_read(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit(" mail u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" tel 555-010-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    staged = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                         pii_text.alias("t"))
    n_mail, n_tel = pii_counts("t")
    return staged.select(
        "doc_id",
        n_mail.cast("bigint").alias("n_emails"),
        n_tel.cast("bigint").alias("n_phones"),
        F.md5(pii_scrub("t")).alias("scrubbed_md5"),
    )


ORACLE_PII_SCRUB = r"""
WITH staged AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text
         || CASE WHEN doc_id % 3 <> 0
                 THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN ' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '\+?\d{3}[-. ]\d{3,4}[-. ]\d{4}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?\d{3}[-. ]\d{3,4}[-. ]\d{4}', '<PHONE>', 'g')) AS scrubbed_md5
FROM staged
"""


def _q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.functions.text import lang_id

    docs = _spread_read(spark, sf_dir, "documents")
    return (
        docs.withColumn("predicted_lang", lang_id("text"))
        .groupBy(F.col("lang").alias("actual_lang"), "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _duck_hits(code: str, words: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),"
        f" t -> list_contains([{arr}], lower(t)))) AS h_{code}"
    )


def _oracle_langid() -> str:
    from omop_etl_spark.functions.text import STOPWORDS

    hits = ",\n         ".join(_duck_hits(c, w) for c, w in STOPWORDS.items())
    codes = sorted(STOPWORDS)
    branches = []
    for code in codes[:-1]:
        conds = " AND ".join(
            f"h_{code} >= h_{o}" for o in codes if o != code
        )
        branches.append(f"WHEN {conds} THEN '{code}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{codes[-1]}' END"
    return f"""
WITH t AS (
  SELECT lang, {hits}
  FROM documents
)
SELECT lang AS actual_lang, {case} AS predicted_lang, COUNT(*) AS n_docs
FROM t GROUP BY 1, 2
"""


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.functions.text import fingerprint

    docs = _spread_read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        fingerprint("text").alias("fp"),
    )


ORACLE_DOC_FINGERPRINT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
FROM documents
"""


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT SimHash near-dup pairs (pigeonhole banding, recall 1.0) —
    # fully oracle-checkable because the fingerprint is md5-derived
    from omop_etl_spark.operators.dedup import simhash_pairs

    docs = _spread_read(spark, sf_dir, "documents")
    out = simhash_pairs(docs, num_bits=32, n=3, max_hamming=3)
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _oracle_simhash_pairs(num_bits: int = 32, max_hamming: int = 3) -> str:
    """Replays operators.dedup.simhash_text bit-for-bit in DuckDB:
    same md5-derived 32-bit shingle hash, same majority vote per bit."""
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> (x & {1 << i}) > 0)) > len(hs)"
        f" THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(num_bits)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
h AS (SELECT doc_id,
             list_transform(s, g -> CAST('0x' || substr(md5('0|' || g), 1, 8) AS BIGINT)) AS hs
      FROM sh),
sig AS (SELECT doc_id, {bits} AS sig FROM h)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def _q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact embedding-cosine near-dup pairs; threshold 0.4 sized to the
    # synthetic corpus (max pairwise cosine ~0.5 — no planted dups)
    from omop_etl_spark.operators.similarity import cosine_pairs

    emb = _spread_read(spark, sf_dir, "embeddings")
    # 4 blocks -> 10 block-pair tasks: enough parallelism for the test
    # corpora while amortizing python-worker spin-up per task.
    # max_rows=250_000 encodes the gate's bounded-input contract at the
    # call site: it admits every sweep tier up to ~sf10 embeddings
    # (n ~ 20k x SF^(1/2)-ish tilings) and still refuses a genuinely
    # unbounded corpus, so a big-SF sweep fails only when oversized.
    return cosine_pairs(emb, threshold=0.4, num_blocks=4, max_rows=250_000)


ORACLE_EMBED_NEARDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
             list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(score, 6) AS score FROM s WHERE score >= 0.4
"""


def _q_embed_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-to-end, SemDeDup-scoped by DEFAULT (VERDICT
    r9 #2): k-means-scoped cosine near-dup pairs
    (similarity.scoped_cosine_pairs — pair work N²/k, never all-pairs)
    folded into connected components with one survivor per cluster —
    the embedding-space sibling of ``dedup_near_clusters``. The exact
    all-pairs form lives on as ``cosine_pairs`` under a bounded-input
    contract (calibration/recall audits; ``embed_neardup_pairs`` is
    its gate). The oracle replays the same fixed-point Lloyd
    assignment (shared ``_kmeans2_oracle_ctes``), cluster-scoped
    double cosine, and recursive-CTE connected components.

    Clustering is the TWO-LEVEL self-scaling default (r12, VERDICT
    r11 #1): ``(k1, k2) = two_level_k(n)`` — (8, 4) = 32 cells at the
    oracle's sf0.01 (n=500, so the replay is exact) and both growing
    ~sqrt with the corpus, so pair work stays linear AND no
    assignment term is quadratic (the r11 flat self-scaling k left an
    N·k assign with k ∝ N)."""
    from omop_etl_spark.operators.cluster import assign_clusters
    from omop_etl_spark.operators.similarity import scoped_cosine_pairs

    emb = _spread_read(spark, sf_dir, "embeddings")
    pairs = scoped_cosine_pairs(emb, threshold=0.4)
    return assign_clusters(emb, pairs, id_col="vec_id").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "is_survivor",
    )


def _oracle_embed_dedup_clusters(k1: int = 8, k2: int = 4) -> str:
    # (k1, k2) must equal the gate's two_level_k(n) at the comparison
    # SF — (8, 4) at the driver's sf0.01 (n=500); an off-SF check
    # passes the right pair explicitly (scripts/check_sf1_embed.py)
    return (
        "WITH RECURSIVE "
        + _kmeans2_oracle_ctes(k1=k1, k2=k2)
        + f""",
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT e.vec_id, fw2.c * {k2} + fw2.sub_id AS cluster_id, e.v
       FROM e JOIN fw2 ON e.vec_id = fw2.vec_id),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sc a JOIN sc b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.id = e2.v
)
SELECT CAST(id AS BIGINT) AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN MIN(r) = id THEN 1 ELSE 0 END AS INT) AS is_survivor
FROM reach GROUP BY id
"""
    )


def _q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus (posexplode + hash
    agg; fixed-point mode for engine-exact determinism)."""
    from omop_etl_spark.operators.similarity import label_centroids

    emb = _spread_read(spark, sf_dir, "embeddings")
    return label_centroids(emb, fixed_point=6).select(
        F.col("label").cast("bigint").alias("label"),
        F.col("pos").cast("bigint").alias("pos"),
        "centroid",
        "n_vectors",
    )


ORACLE_EMBED_CENTROIDS = """
WITH expl AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS x
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
       CAST(floor(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                  / COUNT(*)) AS BIGINT) AS centroid,
       COUNT(*) AS n_vectors
FROM expl GROUP BY label, pos
"""


def _q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse-quantized ANN — approximate vs sim_topk but
    # deterministic given the seed; value-oracled via _oracle_sim_topk_ivf
    from omop_etl_spark.operators.similarity import ivf_topk

    emb = _spread_read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    return ivf_topk(q, emb, **_IVF_PARAMS)


def _oracle_sim_topk_ivf() -> str:
    """DuckDB replay of ivf_topk (VERDICT r5 #1): the seeded unit-norm
    centroids are emitted as a VALUES table; each corpus vector joins
    its argmax-dot centroid (ties by centroid id, matching numpy's
    stable argsort), each query its top-``nprobe``; the probed lists
    get an exact cosine rerank."""
    import numpy as np

    p = _IVF_PARAMS
    rng = np.random.default_rng(p["seed"])
    cents = rng.standard_normal((p["num_centroids"], p["dim"]))
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    rows = [f"({i}, {_sql_dvec(cents[i])})" for i in range(p["num_centroids"])]
    return f"""
WITH cents(centroid_id, ccv) AS (VALUES {", ".join(rows)}),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < 16),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
qa AS (SELECT query_id, qv, centroid_id FROM (
         SELECT q.query_id, q.qv, cents.centroid_id,
                row_number() OVER (PARTITION BY q.query_id
                                   ORDER BY list_dot_product(qv, ccv) DESC,
                                            centroid_id) AS rn
         FROM q CROSS JOIN cents) t
       WHERE rn <= {p["nprobe"]}),
ca AS (SELECT neighbor_id, cv, centroid_id FROM (
         SELECT c.neighbor_id, c.cv, cents.centroid_id,
                row_number() OVER (PARTITION BY c.neighbor_id
                                   ORDER BY list_dot_product(cv, ccv) DESC,
                                            centroid_id) AS rn
         FROM c CROSS JOIN cents) t
       WHERE rn = 1),
s AS (SELECT query_id, neighbor_id,
             list_dot_product(qv, cv) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             AS score
      FROM ca JOIN qa USING (centroid_id))
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rn
      FROM s) t
WHERE rn <= {p["k"]}
"""


def _q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop_etl_spark.functions.text import bpe_token_count, token_count

    docs = _spread_read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        token_count("text").cast("int").alias("ws_tokens"),
        bpe_token_count("text").cast("int").alias("bpe_tokens"),
    )


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal plumbing end-to-end on synthetic payloads (text bytes):
    # JVM-side metadata + Arrow-batched decode/feature stage, all
    # replicable in SQL because the fake decoder derives from md5 hex
    from omop_etl_spark.operators.multimodal import (
        decode_and_extract,
        fake_decoder,
        with_media_metadata,
    )

    docs = _spread_read(spark, sf_dir, "documents")
    media = with_media_metadata(
        docs.select(
            F.col("doc_id").cast("bigint").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        ),
        media_type="image",
        fmt="txt",
    )
    feats = decode_and_extract(media, decoder=fake_decoder)
    return media.select("media_id", "n_bytes", "checksum").join(
        feats.select("media_id", "width", "height", "n_frames", "feature_hash"),
        "media_id",
    )


ORACLE_MULTIMODAL = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       CAST(16 + CAST('0x' || substr(md5(text), 1, 2) AS INT) % 64 AS INT) AS width,
       CAST(16 + CAST('0x' || substr(md5(text), 3, 2) AS INT) % 64 AS INT) AS height,
       1 AS n_frames,
       md5(md5(text)) AS feature_hash
FROM documents
"""


def _q_multimodal_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bilinear resize, oracle-checked on PIXELS (VERDICT r14 #4):
    a deterministic synthetic 16x16 gray PNG per document — pixel(y,x)
    = (doc_id*7 + len(text)*3 + y*13 + x*31) % 256, pure key arithmetic
    both engines can build — is encoded with ``png_encode``, pushed
    through the production ``resize_media`` stage with the actual
    ``png_resizer`` (stdlib+numpy bilinear, multimodal.py), decoded
    back with ``png_pixels``, and emitted one row per OUTPUT pixel.

    The oracle is exact, not a plumbing checksum: at an integer factor
    of exactly 2, half-pixel-center bilinear degenerates to the 2x2
    box mean — source coord (i+0.5)*2-0.5 = 2i+0.5 gives fx=fy=0.5, so
    the interpolation is (a+b+c+d)/4 with all arithmetic exact in
    float64 — and numpy's ``rint`` round-half-to-even is replayed in
    SQL on the integer sum (s%4==2 is the only .5 case; s%4==3 rounds
    up, else down). The gate therefore value-checks the resizer's
    actual interpolation weights AND the PNG encode/decode round-trip,
    not just that bytes moved.

    Scale contract: payload bytes cross the Python boundary Arrow-
    batched exactly once per direction (the resize_media contract);
    the per-pixel explosion is test-harness shape, bounded to 64 docs
    x 64 output pixels at any SF."""
    from omop_etl_spark.operators.multimodal import (
        png_encode,
        png_pixels,
        png_resizer,
        resize_media,
    )

    SW = SH = 16

    docs = _spread_read(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 64
    ).select(
        F.col("doc_id").cast("bigint").alias("media_id"),
        F.length("text").cast("bigint").alias("tlen"),
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        yg, xg = np.mgrid[0:SH, 0:SW]
        for pdf in batches:
            payloads = [
                png_encode(
                    ((int(mid) * 7 + int(tl) * 3 + yg * 13 + xg * 31) % 256).astype(
                        np.uint8
                    )
                )
                for mid, tl in zip(pdf["media_id"], pdf["tlen"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": "image",
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(
        encode, "media_id long, media_type string, payload binary"
    )
    resized = resize_media(media, SW // 2, SH // 2, resizer=png_resizer)

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "y": [], "x": [], "px_value": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = png_pixels(bytes(payload))
                h, w = px.shape[0], px.shape[1]
                for yy in range(h):
                    for xx in range(w):
                        out["media_id"].append(int(mid))
                        out["y"].append(yy)
                        out["x"].append(xx)
                        out["px_value"].append(int(px[yy, xx, 0]))
            yield pd.DataFrame(out)

    return resized.mapInPandas(decode, "media_id long, y int, x int, px_value int")


ORACLE_MULTIMODAL_REAL_RESIZE = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(length(text) AS BIGINT) AS tlen
  FROM documents WHERE doc_id < 64
),
g AS (
  SELECT media_id, y.i AS y, x.i AS x,
         ((media_id*7 + tlen*3 + (2*y.i)*13   + (2*x.i)*31)   % 256
        + (media_id*7 + tlen*3 + (2*y.i)*13   + (2*x.i+1)*31) % 256
        + (media_id*7 + tlen*3 + (2*y.i+1)*13 + (2*x.i)*31)   % 256
        + (media_id*7 + tlen*3 + (2*y.i+1)*13 + (2*x.i+1)*31) % 256) AS s
  FROM d,
       (SELECT unnest(range(0, 8)) AS i) y,
       (SELECT unnest(range(0, 8)) AS i) x
)
SELECT media_id, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
       CAST(CASE WHEN s % 4 = 3 THEN s // 4 + 1
                 WHEN s % 4 = 2 THEN s // 4 + (s // 4) % 2
                 ELSE s // 4 END AS INT) AS px_value
FROM g
"""


ORACLE_TEXT_TOKENS = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# sampling / splitting / packing (operators/sampling.py)


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: membership is a pure
    function of (salt, doc_id) via an md5 unit hash — append-stable,
    shuffle-free, reproducible across engines."""
    from omop_etl_spark.operators.sampling import hash_split

    docs = _source(spark, sf_dir, "documents")
    return hash_split(
        docs, id_col="doc_id", splits={"train": 0.9, "val": 0.05, "test": 0.05}
    ).select(F.col("doc_id").cast("bigint").alias("doc_id"), "split")


# thresholds are embedded as exact Python double reprs so the oracle
# compares against bit-identical constants
ORACLE_SPLIT_ASSIGN = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('split|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN u < {0.9!r} THEN 'train'
            WHEN u < {0.9 + 0.05!r} THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def _q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sample (per-stratum rates),
    the curation move that rebalances a multilingual corpus."""
    from omop_etl_spark.operators.sampling import stratified_sample

    docs = _source(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        strata_col="lang",
        fractions={"en": 0.5, "de": 0.25, "fr": 0.25},
        id_col="doc_id",
        default=0.1,
    ).select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang")


ORACLE_SAMPLE_STRATIFIED = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(concat('strata|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
)
WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                    WHEN 'fr' THEN 0.25 ELSE 0.1 END
"""


def _q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents folded into ~8 KiB-cost bins by an
    ordered prefix sum (operators/sampling.pack_sequences), then a
    per-bin rollup — the doc->training-sequence step of an LLM data
    pipeline."""
    from omop_etl_spark.operators.sampling import pack_sequences

    docs = _source(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, cost_col="n_chars", order_col="doc_id", budget=8192
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("bin_cost"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


ORACLE_PACK_BINS = """
WITH c AS (
  SELECT doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM documents
)
SELECT CAST(FLOOR(cum / CAST(8192 AS DOUBLE)) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS bin_cost,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# pivot / resample / SCD2 (events table)

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity matrix via pivot. The pivot value list is
    passed explicitly, which skips the eager distinct-values job Spark
    otherwise runs — at 100 TB the schema must never depend on a full
    scan."""

    ev = _source(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(F.floor(F.col("value") * 100).cast("bigint")))
    )
    return wide.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"{t}_cents")
            for t in _EVENT_TYPES
        ],
    )


ORACLE_EVENTS_PIVOT = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       {cols}
FROM events
GROUP BY 1
""".format(
    cols=",\n       ".join(
        "CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN CAST(floor(value * 100) AS BIGINT) END), 0) AS BIGINT) AS {t}_cents".format(t=t)
        for t in _EVENT_TYPES
    )
)


def _q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type series regularized onto a gap-free grid with
    forward-fill (operators/temporal.resample_ffill)."""
    from omop_etl_spark.operators.temporal import resample_ffill

    from omop_etl_spark.conf import checkpoint as _ckpt

    ev = _source(spark, sf_dir, "events")
    # r17: resample_ffill consumes its input series three times
    # (bounds, key set, grid join); hourly is (types x hours)-bounded,
    # so checkpoint it once instead of re-running the full event scan
    # + aggregate per consumer (3 event scans -> 1). Lazy: the frame
    # materializes inside the query job, keeping stage overlap.
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("ts")
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents"))
    hourly = _ckpt(hourly, eager=False)
    out = resample_ffill(
        hourly, ["event_type"], "ts", ["cents"], step="1 HOUR", fill=F.lit(0)
    )
    return out.select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("cents").cast("bigint").alias("cents"),
    )


ORACLE_EVENTS_RESAMPLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), b AS (SELECT min(h) AS lo, max(h) AS hi FROM hourly),
grid AS (
  SELECT t.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS g
  FROM (SELECT DISTINCT event_type FROM hourly) t, b
), filled AS (
  SELECT grid.event_type, grid.g,
         last_value(hourly.cents IGNORE NULLS) OVER (
           PARTITION BY grid.event_type ORDER BY grid.g
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents
  FROM grid LEFT JOIN hourly
    ON hourly.event_type = grid.event_type AND hourly.h = grid.g
)
SELECT event_type, epoch_us(g) AS ts_us,
       CAST(COALESCE(cents, 0) AS BIGINT) AS cents
FROM filled
"""


def _q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the event log
    (operators/temporal.scd2_from_changes): each user's event_type
    change points become versioned validity intervals."""
    from omop_etl_spark.operators.temporal import scd2_from_changes

    ev = _source(spark, sf_dir, "events")
    out = scd2_from_changes(
        ev, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.unix_micros(F.col("valid_from")).alias("from_us"),
        F.coalesce(F.unix_micros(F.col("valid_to")), F.lit(-1)).alias("to_us"),
        "version",
        "is_current",
    )


ORACLE_SCD2_USER_STATE = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), ch AS (
  SELECT user_id, ts, event_id, event_type FROM s
  WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
)
SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
       epoch_us(ts) AS from_us,
       COALESCE(epoch_us(LEAD(ts) OVER w), -1) AS to_us,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       CAST(CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# JSON surface + fuzzy entity matching


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: extract a typed field from the JSON
    props payload (JVM get_json_object, no UDF) and aggregate on it."""

    ev = _source(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
    )


ORACLE_EVENTS_JSON = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1
"""


def _q_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part dimension: blocked Levenshtein
    self-match (operators/fuzzy.py). Blocking on (brand, leading token)
    keeps the quadratic distance work inside bounded groups — the
    selectivity knob the operator's scale model demands (first-token
    alone leaves ~N/8-row blocks on this vocabulary: measured 24s vs
    ~1s at sf0.1)."""
    from omop_etl_spark.operators.fuzzy import fuzzy_self_match

    part = _source(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("pid"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.split(F.col("p_name"), " ")[0].alias("block"),
    )
    return fuzzy_self_match(
        part,
        id_col="pid",
        text_col="name",
        block_on=["brand", "block"],
        max_distance=2,
    )


ORACLE_FUZZY_PARTS = """
WITH p AS (
  SELECT CAST(p_partkey AS BIGINT) AS pid, p_name AS name,
         p_brand AS brand, string_split(p_name, ' ')[1] AS block
  FROM part
)
SELECT a.pid AS id_a, b.pid AS id_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_distance
FROM p a JOIN p b
  ON a.pid < b.pid AND a.brand = b.brand AND a.block = b.block
 AND abs(length(a.name) - length(b.name)) <= 2
 AND levenshtein(a.name, b.name) <= 2
"""


# ---------------------------------------------------------------------------
# funnel + cube


def _q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase per user
    (operators/temporal.funnel): later stages must strictly follow the
    previous stage's first occurrence."""
    from omop_etl_spark.operators.temporal import funnel

    ev = _source(spark, sf_dir, "events")
    out = funnel(
        ev, ["user_id"], "ts", "event_type", ["view", "click", "purchase"]
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros(F.col("t0")).alias("t0_us"),
        F.coalesce(F.unix_micros(F.col("t1")), F.lit(-1)).alias("t1_us"),
        F.coalesce(F.unix_micros(F.col("t2")), F.lit(-1)).alias("t2_us"),
        "depth",
    )


ORACLE_EVENTS_FUNNEL = """
WITH s0 AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY 1
), s1 AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
  WHERE e.event_type = 'click' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT CAST(s0.user_id AS BIGINT) AS user_id,
       epoch_us(t0) AS t0_us,
       COALESCE(epoch_us(t1), -1) AS t1_us,
       COALESCE(epoch_us(t2), -1) AS t2_us,
       CAST(1 + (t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT AS BIGINT) AS depth
FROM s0 LEFT JOIN s1 ON s0.user_id = s1.user_id
        LEFT JOIN s2 ON s0.user_id = s2.user_id
"""


def _q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 2^2 grouping-set
    combinations in one Expand-based pass, grouping() flags
    disambiguating genuine NULLs from subtotal rows."""
    o = _source(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("price_total"),
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
    )


ORACLE_AGG_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS price_total,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# multi-granularity rollup (hypertable continuous-aggregate shape)


def _q_events_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour and day rollups in ONE pass via GROUPING SETS: a single
    Expand node duplicates each row into its two grains before one hash
    aggregate — the timeseries-db 'continuous aggregate at multiple
    granularities' materialization without scanning the fact table
    twice."""

    ev = _source(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__mg_events")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(hour_ts) = 0 THEN 'hour' ELSE 'day' END AS grain,
               COALESCE(hour_ts, day_ts) AS bucket_ts,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM (
          SELECT CAST(date_trunc('hour', ts) AS STRING) AS hour_ts,
                 CAST(date_trunc('day', ts) AS STRING) AS day_ts,
                 event_type, value
          FROM __mg_events
        )
        GROUP BY GROUPING SETS ((hour_ts, event_type), (day_ts, event_type))
        """
    )


ORACLE_EVENTS_MULTIGRAIN = """
SELECT CASE WHEN grouping(hour_ts) = 0 THEN 'hour' ELSE 'day' END AS grain,
       COALESCE(hour_ts, day_ts) AS bucket_ts,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM (
  SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts,
         CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS day_ts,
         event_type, value
  FROM events
)
GROUP BY GROUPING SETS ((hour_ts, event_type), (day_ts, event_type))
"""


# ---------------------------------------------------------------------------
# group-wise top-k (WindowGroupLimit pushdown)


def _q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest users per event type: two-stage hash aggregate then a
    rank-filtered window. Spark's WindowGroupLimit rewrite runs a
    PARTIAL top-k inside each map task before the exchange, so the
    window shuffle carries at most k rows per group per task instead of
    the full aggregate — the property that keeps per-group top-k
    viable when a group spans billions of rows."""

    ev = _source(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "event_type",
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_events",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


ORACLE_EVENTS_TOP_USERS = """
WITH c AS (
  SELECT event_type, user_id, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(user_id AS BIGINT) AS user_id, n_events,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n_events DESC, user_id) AS rnk
  FROM c
) t
WHERE rnk <= 5
"""


# ---------------------------------------------------------------------------
# z-order layout key


def _q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton clustering key over (user_id, ts)
    (operators/layout.zorder_key): the write-side primitive behind
    OPTIMIZE ZORDER BY — pure JVM bit arithmetic, lazy 1-row range
    stats, bit-exact against the integer-arithmetic oracle."""
    from omop_etl_spark.operators.layout import zorder_key

    ev = _source(spark, sf_dir, "events")
    return zorder_key(ev, ["user_id", "ts"], bits=16).select(
        F.col("event_id").cast("bigint").alias("event_id"), "zkey"
    )


def _zorder_oracle() -> str:
    norm = {
        "u": "CAST(floor((CAST(user_id AS DOUBLE) - lo0) * (CASE WHEN hi0 > lo0 THEN 65535.0 / (hi0 - lo0) ELSE 0.0 END) + 0.5) AS BIGINT)",
        "t": "CAST(floor((CAST(epoch_us(ts) AS DOUBLE) - lo1) * (CASE WHEN hi1 > lo1 THEN 65535.0 / (hi1 - lo1) ELSE 0.0 END) + 0.5) AS BIGINT)",
    }
    terms = []
    for b in range(16):
        for i, c in enumerate(("u", "t")):
            terms.append(f"((({c} >> {b}) & 1) << {b * 2 + i})")
    return f"""
WITH st AS (
  SELECT min(CAST(user_id AS DOUBLE)) AS lo0, max(CAST(user_id AS DOUBLE)) AS hi0,
         min(CAST(epoch_us(ts) AS DOUBLE)) AS lo1, max(CAST(epoch_us(ts) AS DOUBLE)) AS hi1
  FROM events
), n AS (
  SELECT event_id, {norm['u']} AS u, {norm['t']} AS t FROM events, st
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST({' + '.join(terms)} AS BIGINT) AS zkey
FROM n
"""


ORACLE_EVENTS_ZORDER = _zorder_oracle()


# ---------------------------------------------------------------------------
# embedding quantization


def _q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization (operators/similarity.
    quantize_embeddings): global-range codes via floor-rounding — the
    exact arithmetic replays in any IEEE engine, so codes and
    reconstruction error hash-match the oracle."""
    from omop_etl_spark.operators.similarity import quantize_embeddings

    emb = _spread_read(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, num_bits=8)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.aggregate(
            "codes", F.lit(0).cast("bigint"), lambda a, c: a + c
        ).alias("code_sum"),
        F.array_min("codes").cast("bigint").alias("code_min"),
        F.array_max("codes").cast("bigint").alias("code_max"),
        F.round("recon_err", 6).alias("recon_err"),
    )


ORACLE_EMBED_QUANTIZE = """
WITH st AS (
  SELECT min(list_aggregate(embedding::DOUBLE[], 'min')) AS lo,
         max(list_aggregate(embedding::DOUBLE[], 'max')) AS hi
  FROM embeddings
), enc AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> floor((x - lo) * (255.0 / (hi - lo)) + 0.5)) AS codes,
         list_transform(embedding::DOUBLE[],
             x -> (x - (lo + floor((x - lo) * (255.0 / (hi - lo)) + 0.5) * ((hi - lo) / 255.0)))
                * (x - (lo + floor((x - lo) * (255.0 / (hi - lo)) + 0.5) * ((hi - lo) / 255.0)))) AS sqerr
  FROM embeddings, st
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
       CAST(list_aggregate(codes, 'min') AS BIGINT) AS code_min,
       CAST(list_aggregate(codes, 'max') AS BIGINT) AS code_max,
       round(sqrt(list_aggregate(sqerr, 'sum')), 6) AS recon_err
FROM enc
"""


# ---------------------------------------------------------------------------
# multi-join star query (TPC-H Q5 shape)


def _q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join (TPC-H Q5 shape): revenue by nation for
    local supplier-customer pairs in one region-year. Dims (nation,
    region, supplier) broadcast; Catalyst reorders the fact joins and
    pushes the region/date filters to the scans. Revenue is summed as
    per-row-floored BIGINT so the result is order-independent and
    hash-comparable across engines."""
    c = _source(spark, sf_dir, "customer")
    o = _source(spark, sf_dir, "orders")
    l = _source(spark, sf_dir, "lineitem")
    s = _source(spark, sf_dir, "supplier")
    n = _source(spark, sf_dir, "nation")
    r = _source(spark, sf_dir, "region")
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "bigint"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            # supplier scales linearly with SF — hint removed, AQE decides.
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("bigint").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .select(F.col("n_name").alias("nation"), "revenue", "n_lineitems")
    )


ORACLE_REGIONAL_SUPPLIER_VOLUME = """
SELECT n_name AS nation,
       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)) AS BIGINT)) AS BIGINT) AS revenue,
       COUNT(*) AS n_lineitems
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# higher-order array functions + lead/lag windows


def _q_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector statistics via JVM higher-order functions — the whole
    computation stays inside whole-stage codegen (F.aggregate for the
    L2 norm, array min/max/mean), no Python, no shuffle at all:
    a map-only scan at any corpus size."""
    emb = _spread_read(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    sq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    return emb.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
        F.round(total / F.size(v), 6).alias("mean_val"),
        F.round(F.array_min(v).cast("double"), 6).alias("min_val"),
        F.round(F.array_max(v).cast("double"), 6).alias("max_val"),
    )


ORACLE_EMBED_NORM_STATS = """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm,
       round(list_aggregate(embedding::DOUBLE[], 'sum') / len(embedding), 6) AS mean_val,
       round(list_aggregate(embedding::DOUBLE[], 'min'), 6) AS min_val,
       round(list_aggregate(embedding::DOUBLE[], 'max'), 6) AS max_val
FROM embeddings
"""


def _q_orders_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order cadence: lead/lag windows give the gap to the
    previous order and an ntile cohort — one hash exchange on custkey
    serves all three window functions (single Window spec)."""
    o = _source(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("orderkey"),
        F.col("o_custkey").cast("bigint").alias("custkey"),
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).cast("bigint").alias("days_since_prev"),
        F.ntile(4).over(w).cast("bigint").alias("cadence_quartile"),
    )


ORACLE_ORDERS_GAPS = """
SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
       CAST(o_custkey AS BIGINT) AS custkey,
       CAST(datediff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS days_since_prev,
       CAST(ntile(4) OVER w AS BIGINT) AS cadence_quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# subquery surface: anti join + correlated scalar subquery


def _q_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join, per-nation counts of order-less customers.
    Written as SQL over temp views so Catalyst's subquery rewrite
    (RewritePredicateSubquery -> left-anti hash join) is exercised —
    the plan must show no correlated subquery left, just an anti join
    that AQE can broadcast."""
    _source(spark, sf_dir, "customer").createOrReplaceTempView(
        "__sq_customer"
    )
    _source(spark, sf_dir, "orders").createOrReplaceTempView(
        "__sq_orders"
    )
    return spark.sql(
        """
        SELECT c_nationkey AS nationkey,
               COUNT(*) AS n_custs_no_orders,
               CAST(SUM(CAST(floor(c_acctbal) AS BIGINT)) AS BIGINT) AS acctbal_total
        FROM __sq_customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM __sq_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
        GROUP BY c_nationkey
        """
    )


ORACLE_CUST_NO_ORDERS = """
SELECT c_nationkey AS nationkey,
       COUNT(*) AS n_custs_no_orders,
       CAST(SUM(CAST(floor(c_acctbal) AS BIGINT)) AS BIGINT) AS acctbal_total
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_nationkey
"""


def _q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above their customer's
    average. Catalyst decorrelates the scalar subquery into an
    aggregate + equi-join; the oracle keeps the correlated form, so a
    hash match proves the rewrite is semantics-preserving."""
    _source(spark, sf_dir, "orders").createOrReplaceTempView(
        "__sq_orders"
    )
    return spark.sql(
        """
        SELECT o_custkey AS custkey, COUNT(*) AS n_above
        FROM __sq_orders o
        WHERE o_totalprice > (
            SELECT AVG(o2.o_totalprice) FROM __sq_orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        GROUP BY o_custkey
        """
    )


ORACLE_ORDERS_ABOVE_AVG = """
SELECT o_custkey AS custkey, COUNT(*) AS n_above
FROM orders o
WHERE o_totalprice > (
    SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# decontamination / repetition / training order


def _q_docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style train/eval n-gram decontamination
    (operators/contamination.decontaminate): docs with doc_id % 17 == 0
    stand in for the benchmark set; n=5 word-grams. The stand-in
    benchmark scales with SF, so no broadcast is forced — AQE
    broadcasts the hashed gram set while it fits (a real fixed eval
    suite would pass broadcast_benchmark=True)."""
    from omop_etl_spark.operators.contamination import decontaminate

    docs = _spread_read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    out = decontaminate(docs, bench, n=5)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_hits",
        F.col("contaminated").cast("bigint").alias("contaminated"),
    )


ORACLE_DOCS_DECONTAMINATE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 5
    THEN list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS s FROM tok),
g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
hits AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
         FROM g JOIN bench USING (gram) GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) > 0 AS BIGINT) AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


def _q_docs_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal: lines shared by >=2 distinct
    docs are dropped everywhere (on the synthetic single-line corpus
    this strips exact-duplicate documents to empty)."""
    from omop_etl_spark.operators.contamination import strip_boilerplate

    docs = _spread_read(spark, sf_dir, "documents")
    return strip_boilerplate(docs, min_docs=2).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text_clean",
        "n_lines_kept",
    )


ORACLE_DOCS_STRIP = """
WITH l AS (
  SELECT doc_id, s.i AS line_no, lines[s.i + 1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
       LATERAL (SELECT unnest(range(0, len(lines))) AS i) s
),
hot AS (
  SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT l.* FROM l ANTI JOIN hot USING (line)
),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text_clean,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(r.text_clean, '') AS text_clean,
       CAST(COALESCE(r.n_kept, 0) AS INT) AS n_lines_kept
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""


def _q_corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus bigrams with total and document frequencies —
    the vocabulary-training / frequency-filter primitive."""
    from omop_etl_spark.operators.chunking import corpus_ngram_counts

    docs = _spread_read(spark, sf_dir, "documents")
    return corpus_ngram_counts(docs, n=2, top_k=200).select(
        "ngram",
        F.col("count").cast("bigint").alias("count"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


ORACLE_CORPUS_VOCAB = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, array_to_string(toks[s.i : s.i + 1], ' ') AS ngram
  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) s
  WHERE len(toks) >= 2
),
pd AS (SELECT doc_id, ngram, COUNT(*) AS c FROM g GROUP BY doc_id, ngram)
SELECT ngram, CAST(SUM(c) AS BIGINT) AS count, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pd GROUP BY ngram
ORDER BY count DESC, ngram ASC LIMIT 200
"""


def _q_docs_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation pipeline (VERDICT r5 #5): token gate ->
    boilerplate strip -> decontaminate against a benchmark slice
    (13-gram overlap) -> exact dedup -> MinHash-LSH near-dup dedup
    (md5 base hash, oracle-replayable) -> per-doc token counts. The
    oracle replays every stage in one DuckDB SQL."""
    from omop_etl_spark.pipelines import curate_corpus

    docs = _spread_read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return curate_corpus(
        docs,
        min_tokens=5,
        boilerplate_min_docs=2,
        benchmark=bench,
        decontaminate_n=13,
        dedup_exact=True,
        near_dedup_threshold=0.8,
        near_dedup_opts={"base_hash": "md5"},
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


def _oracle_docs_curate_full() -> str:
    return f"""
WITH RECURSIVE
g AS (SELECT doc_id, text FROM documents
      WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) >= 5),
l AS (
  SELECT doc_id, s.i AS line_no, lines[s.i + 1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM g),
       LATERAL (SELECT unnest(range(0, len(lines))) AS i) s
),
hot AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
kept AS (SELECT l.* FROM l ANTI JOIN hot USING (line)),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
  FROM kept GROUP BY doc_id
  HAVING string_agg(line, chr(10) ORDER BY line_no) <> ''
),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
bg AS (SELECT DISTINCT unnest(s) AS gram FROM ({_duck_shingles("bench", 13)}) bsh),
dg AS (SELECT doc_id, unnest(s) AS gram FROM ({_duck_shingles("rebuilt", 13)}) dsh),
bad AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (gram)),
clean AS (SELECT r.* FROM rebuilt r ANTI JOIN bad USING (doc_id)),
surv AS (SELECT MIN(doc_id) AS doc_id, text FROM clean GROUP BY text),
{_minhash_pair_ctes(source="surv")},
edges AS (
  SELECT id_a AS u, id_b AS v FROM mh_pairs
  UNION SELECT id_b, id_a FROM mh_pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM surv
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
),
nd AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) = id)
SELECT CAST(s2.doc_id AS BIGINT) AS doc_id, s2.text,
       CAST(len(list_filter(string_split_regex(s2.text, '\\s+'), x -> x <> ''))
            AS INT) AS n_tokens
FROM surv s2 JOIN nd USING (doc_id)
"""


def _q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition quality signals
    (operators/contamination.repetition_stats): per-doc duplicate- and
    top-2-gram fractions from two hash aggregates over 8-byte hashed
    grams."""
    from omop_etl_spark.operators.contamination import repetition_stats

    docs = _spread_read(spark, sf_dir, "documents")
    out = repetition_stats(docs, n=2)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "total_grams",
        "distinct_grams",
        "dup_gram_frac",
        "top_gram_frac",
    )


ORACLE_DOCS_REPETITION = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
    THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS gram FROM tok),
pg AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(SUM(c) AS BIGINT) AS total_grams,
       CAST(COUNT(*) AS BIGINT) AS distinct_grams,
       round(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_gram_frac,
       round(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_gram_frac
FROM pg GROUP BY 1
"""


def _q_docs_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (operators/sampling.shuffle_shards): md5-hash shard assignment +
    within-shard md5 rank — a reproducible random permutation
    materialized as independently-ordered shards."""
    from omop_etl_spark.operators.sampling import shuffle_shards

    docs = _source(spark, sf_dir, "documents")
    return shuffle_shards(docs, num_shards=8).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "shard", "pos"
    )


ORACLE_DOCS_SHUFFLE_ORDER = """
WITH h AS (
  SELECT doc_id,
         CAST(floor((CAST(concat('0x', substr(md5(concat('shuffle|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
              / 4294967296.0) * 8.0) AS BIGINT) AS shard,
         md5(concat('shuffle#|', CAST(doc_id AS VARCHAR))) AS ord
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
FROM h
"""


def _q_docs_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global keep-first exact line dedup
    (operators/contamination.dedup_lines, Lee et al. 2022 line-granular
    exact-substring dedup): a line >= 20 chars survives only at its
    first (doc_id, position) occurrence."""
    from omop_etl_spark.operators.contamination import dedup_lines

    docs = _spread_read(spark, sf_dir, "documents")
    return dedup_lines(docs, min_chars=20).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text_clean",
        "n_lines_kept",
    )


ORACLE_DOCS_DEDUP_LINES = """
WITH l AS (
  SELECT doc_id, s.i AS line_no, lines[s.i + 1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
       LATERAL (SELECT unnest(range(0, len(lines))) AS i) s
),
r AS (
  SELECT doc_id, line_no, line,
         CASE WHEN length(line) >= 20
              THEN row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no)
              ELSE 1 END AS rn
  FROM l
),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text_clean,
         COUNT(*) AS n_kept
  FROM r WHERE rn = 1 GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(rb.text_clean, '') AS text_clean,
       CAST(COALESCE(rb.n_kept, 0) AS INT) AS n_lines_kept
FROM documents d LEFT JOIN rebuilt rb ON d.doc_id = rb.doc_id
"""


def _q_docs_cross_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplication metrics
    (operators/contamination.cross_doc_dup_stats): per doc, the share
    of its distinct 13-gram shingles that occur in other docs too."""
    from omop_etl_spark.operators.contamination import cross_doc_dup_stats

    docs = _spread_read(spark, sf_dir, "documents")
    return cross_doc_dup_stats(docs, n=13).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_grams",
        "dup_grams",
        "dup_frac",
    )


ORACLE_DOCS_CROSS_DUP = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT DISTINCT doc_id, gram FROM (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 13
    THEN list_transform(range(1, len(toks) - 11), i -> array_to_string(toks[i:i+12], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS gram FROM tok)),
dfreq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1),
per AS (SELECT g.doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS dup_grams
        FROM g JOIN dfreq USING (gram) GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(dup_grams, 0) AS BIGINT) AS dup_grams,
       round(COALESCE(dup_grams, 0)
             / CAST(greatest(COALESCE(n_grams, 0), 1) AS DOUBLE), 6) AS dup_frac
FROM documents d LEFT JOIN per USING (doc_id)
"""


def _q_corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level 3-gram Jaccard overlap
    (operators/contamination.source_overlap) — the corpus-forensics
    matrix consulted before mixing sources into a training run."""
    from omop_etl_spark.operators.contamination import source_overlap

    docs = _spread_read(spark, sf_dir, "documents")
    return source_overlap(docs, strata_col="source", n=3)


ORACLE_CORPUS_SOURCE_OVERLAP = """
WITH tok AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT DISTINCT source, gram FROM (
  SELECT source, unnest(CASE WHEN len(toks) >= 3
    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS gram FROM tok)),
sizes AS (SELECT source, COUNT(*) AS sz FROM g GROUP BY 1),
common AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS common_grams
           FROM g a JOIN g b USING (gram)
           WHERE a.source < b.source GROUP BY 1, 2)
SELECT src_a, src_b,
       CAST(sa.sz AS BIGINT) AS grams_a,
       CAST(sb.sz AS BIGINT) AS grams_b,
       CAST(common_grams AS BIGINT) AS common_grams,
       round(common_grams / CAST(sa.sz + sb.sz - common_grams AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON common.src_a = sa.source
JOIN sizes sb ON common.src_b = sb.source
"""


_MIXTURE_WEIGHTS = {
    "src0": 0.3,
    "src1": 0.25,
    "src2": 0.2,
    "src3": 0.15,
    "src4": 0.1,
}


def _q_docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling
    (operators/sampling.mixture_sample): per-source keep-rates derived
    from target domain weights and measured counts, membership a pure
    md5 function of the id."""
    from omop_etl_spark.operators.sampling import mixture_sample

    docs = _source(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "source", _MIXTURE_WEIGHTS, target_frac=0.1
    ).select(F.col("doc_id").cast("bigint").alias("doc_id"), "source")


def _oracle_docs_mixture_sample() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {w!r}" for s, w in _MIXTURE_WEIGHTS.items()
    )
    return f"""
WITH counts AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
tot AS (SELECT COUNT(*) AS total FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM documents d JOIN counts USING (source), tot
WHERE (CAST(concat('0x', substr(md5(concat('mixture|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
       / 4294967296.0)
      < least(1.0, (CASE source {cases} ELSE 0.0 END)
                   * (0.1 * CAST(total AS DOUBLE)) / CAST(cnt AS DOUBLE))
"""


def _q_docs_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-percentile quality gate (operators/sampling.rank_filter):
    keep the top 30% of the corpus by quality score, global rank via
    the surrogate-id machinery (no single-partition window at scale)."""
    from omop_etl_spark.functions.text import quality_score
    from omop_etl_spark.operators.sampling import rank_filter

    docs = _spread_read(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("doc_id"), F.round(quality_score("text"), 4).alias("quality")
    )
    return rank_filter(
        scored, [F.col("quality").desc(), "doc_id"], 0.3, rank_col="rank"
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "quality",
        F.col("rank").cast("bigint").alias("rank"),
    )


ORACLE_DOCS_QUALITY_GATE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
         length(text) AS n_len,
         length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS n,
         CASE WHEN n_len > 0 THEN n_punct / CAST(n_len AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS mtl
  FROM t
), q AS (
  SELECT doc_id,
         round(least(n / 20.0, 1.0)
               * (1.0 - least(punct_ratio * 4, 1.0))
               * (CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.5 END), 4) AS quality
  FROM m
), ranked AS (
  SELECT doc_id, quality,
         row_number() OVER (ORDER BY quality DESC, doc_id) AS rank,
         COUNT(*) OVER () AS total
  FROM q
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, quality, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= ceil(0.3 * CAST(total AS DOUBLE))
"""


def _q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss reduction
    (operators/similarity.random_projection): 64 float dims -> 16
    exact-int projections against the seeded Achlioptas {-1,0,1}
    matrix; map-only, whole-stage codegen."""
    from omop_etl_spark.operators.similarity import random_projection

    emb = _spread_read(spark, sf_dir, "embeddings")
    return random_projection(emb, k=16, dim=64, seed=42).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.posexplode("proj").alias("pos", "proj_val"),
    ).select("vec_id", F.col("pos").cast("int").alias("pos"), "proj_val")


def _oracle_embed_project() -> str:
    from omop_etl_spark.operators.similarity import rp_coefficients

    coeffs = rp_coefficients(16, 64, 42)
    vals = ", ".join(
        f"({ki}, {j}, {int(c)})"
        for ki, row in enumerate(coeffs)
        for j, c in enumerate(row)
    )
    return f"""
WITH planes(k, j, c) AS (VALUES {vals}),
x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
      FROM embeddings)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(p.k AS INT) AS pos,
       CAST(SUM(x.xq * p.c) AS BIGINT) AS proj_val
FROM x JOIN planes p ON x.j = p.j
GROUP BY 1, 2
"""


def _q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of exact fixed-point k-means
    (operators/kmeans.kmeans_assign, k=8): deterministic seed (8
    smallest vec_ids), integer distances, integer-floor centroid
    means — the full iterative algorithm value-replayed by the
    oracle's chained CTEs."""
    from omop_etl_spark.operators.kmeans import kmeans_assign

    emb = _spread_read(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=8, iters=2)


def _kmeans_oracle_ctes(k: int = 8) -> str:
    """The iters=2 fixed-point Lloyd CTE chain (terminal
    relation ``w2``: vec_id, xq, cluster_id, dist) — shared by the
    kmeans gate and the SemDeDup gate so the two oracles can never
    drift apart."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(q.xq, {c}.cq),"
        " s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
    )
    assign = """
a{t} AS (
  SELECT vec_id, xq, cluster_id, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
  FROM (SELECT q.vec_id, q.xq, {c}.cluster_id, {d} AS dist
        FROM q CROSS JOIN {c})
),
w{t} AS (SELECT vec_id, xq, cluster_id, dist FROM a{t} WHERE rn = 1)"""
    update = """
m{t} AS (SELECT cluster_id, generate_subscripts(xq, 1) AS pos, unnest(xq) AS x FROM w{t}),
cm{t} AS (SELECT cluster_id, pos, CAST(floor(AVG(x)) AS BIGINT) AS m
          FROM m{t} GROUP BY 1, 2),
cents{t} AS (SELECT cluster_id, list(m ORDER BY pos) AS cq FROM cm{t} GROUP BY 1)"""
    return (
        """q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS xq
  FROM embeddings
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster_id,
         xq AS cq
  FROM q ORDER BY vec_id LIMIT {k}
),""".format(k=k)
        + assign.format(t=1, c="seeds", d=dist.format(c="seeds"))
        + ","
        + update.format(t=1)
        + ","
        + assign.format(t=2, c="cents1", d=dist.format(c="cents1"))
    )


def _oracle_embed_kmeans() -> str:
    return (
        "WITH "
        + _kmeans_oracle_ctes()
        + """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cluster_id AS INT) AS cluster_id,
       CAST(dist AS BIGINT) AS dist_sq
FROM w2
"""
    )


def _kmeans2_oracle_ctes(k1: int = 8, k2: int = 4) -> str:
    """The two-level fixed-point Lloyd CTE chain
    (operators/kmeans.kmeans_assign_two_level): the shared coarse
    chain of ``_kmeans_oracle_ctes(k1)`` (terminal ``w2``), then the
    per-cell fine stage — seeds = k2 smallest vec_ids per coarse cell,
    two assign/update rounds where each vector scores only its OWN
    cell's sub-centroids (equi-join on the cell id, mirroring the
    Spark plan). Terminal relation ``fw2``: (vec_id, c, xq, sub_id,
    dist); the composite cluster id is ``c * k2 + sub_id``.
    ``q2``/``fs``/``fcents1`` are MATERIALIZED so DuckDB's CTE
    inlining doesn't re-expand the whole coarse chain per reference
    (same trap as the BPE oracle's chained rounds)."""
    fdist = (
        "CAST(list_sum(list_transform(list_zip(q2.xq, {f}.cq),"
        " s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
    )
    fassign = """
fa{t} AS (
  SELECT vec_id, c, xq, sub_id, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, sub_id) AS rn
  FROM (SELECT q2.vec_id, q2.c, q2.xq, {f}.sub_id, {d} AS dist
        FROM q2 JOIN {f} ON q2.c = {f}.c)
),
fw{t} AS (SELECT vec_id, c, xq, sub_id, dist FROM fa{t} WHERE rn = 1)"""
    return (
        _kmeans_oracle_ctes(k=k1)
        + """,
q2 AS MATERIALIZED (SELECT vec_id, cluster_id AS c, xq FROM w2),
fs AS MATERIALIZED (
  SELECT c, CAST(rn - 1 AS INT) AS sub_id, xq AS cq
  FROM (SELECT cluster_id AS c, xq,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY vec_id) AS rn
        FROM w2)
  WHERE rn <= {k2}
)""".format(k2=k2)
        + ","
        + fassign.format(t=1, f="fs", d=fdist.format(f="fs"))
        + """,
fm1 AS (SELECT c, sub_id, generate_subscripts(xq, 1) AS pos, unnest(xq) AS x
        FROM fw1),
fcm1 AS (SELECT c, sub_id, pos, CAST(floor(AVG(x)) AS BIGINT) AS m
         FROM fm1 GROUP BY 1, 2, 3),
fcents1 AS MATERIALIZED (SELECT c, sub_id, list(m ORDER BY pos) AS cq
                         FROM fcm1 GROUP BY 1, 2)"""
        + ","
        + fassign.format(t=2, f="fcents1", d=fdist.format(f="fcents1"))
    )


def _q_embed_kmeans2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level fixed-point k-means
    (operators/kmeans.kmeans_assign_two_level, k1=8 x k2=4): coarse
    Lloyd over the corpus, then per-cell sub-clustering seeded by each
    cell's smallest ids — the assignment engine behind the SemDeDup
    gates, verified here directly. Both levels are deterministic-init
    exact-integer iterates, so the oracle value-replays the whole
    pipeline (chained CTEs, shared with the SemDeDup oracles via
    ``_kmeans2_oracle_ctes``)."""
    from omop_etl_spark.operators.kmeans import kmeans_assign_two_level

    emb = _spread_read(spark, sf_dir, "embeddings")
    return kmeans_assign_two_level(emb, k1=8, k2=4, iters=2)


def _oracle_embed_kmeans2() -> str:
    return (
        "WITH "
        + _kmeans2_oracle_ctes(k1=8, k2=4)
        + """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(c * 4 + sub_id AS INT) AS cluster_id,
       CAST(dist AS BIGINT) AS dist_sq
FROM fw2
"""
    )


# ---------------------------------------------------------------------------
# classic decision-support join/agg shapes (TPC-H Q3/Q4/Q6/Q10/Q14)


def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way fact join with selective dimension filter,
    grouped revenue, top-10. The segment filter prunes customer before
    the join (pushed to the scan); the final top-k compiles to
    TakeOrderedAndProject — no global sort. Deterministic tiebreak
    (revenue DESC, o_orderkey ASC) keeps the limit hash-stable across
    engines."""
    c = _source(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _source(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    l = _source(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("bigint")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("bigint").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_orderdate",
            "revenue",
        )
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderdate,
       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)) AS BIGINT)) AS BIGINT) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01'
  AND l.l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def _q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join with a
    non-equi residual (l_shipdate > o_orderdate + 60 days). Catalyst
    keeps the equi part (orderkey) as the shuffle key and evaluates the
    date residual as a join filter — no cross product, one shuffle, and
    the semi-join short-circuits per order."""
    o = _source(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = _source(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .select("o_orderpriority", "order_count")
    )


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# per-group statistical outlier flagging (z-score feature engineering)


def _q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flagging — the feature-engineering /
    data-quality primitive: one map-side-combined aggregate computes
    per-type mean/stddev, the tiny stats frame broadcasts back onto the
    fact scan (no second shuffle of events), and the flag is a pure
    JVM expression. At 100 TB the stats frame stays |event_type|-sized,
    so the broadcast never grows with the data."""
    ev = _source(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("__mu"),
        F.stddev_samp("value").alias("__sigma"),
    )
    z = (F.col("value") - F.col("__mu")) / F.col("__sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


ORACLE_EVENTS_ANOMALY = """
WITH stats AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT CAST(e.event_id AS BIGINT) AS event_id, e.event_type,
       round(e.value, 6) AS value,
       round((e.value - s.mu) / s.sigma, 4) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs((e.value - s.mu) / s.sigma) > 2.5
"""


# ---------------------------------------------------------------------------
# per-source corpus profiling


def _q_docs_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (count, char volume, EXACT median
    length, language diversity) — the curation dashboard query. One
    hash aggregate; the exact percentile is per-group (bounded state),
    not a global sort. Spark's `percentile` and DuckDB's
    `quantile_cont` share linear-interpolation semantics, so the median
    is hash-comparable."""
    docs = _spread_read(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select("source", "n_docs", "total_chars", "median_chars", "n_langs")
    )


ORACLE_DOCS_SOURCE_STATS = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(quantile_cont(n_chars, 0.5), 6) AS median_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# incremental near-dup dedup: new batch vs existing corpus


def _q_docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: a 'new batch' (doc_id % 7 == 0) is
    LSH-joined against the already-curated corpus (the rest) — the
    existing corpus is never re-paired against itself, so steady-state
    cost is proportional to the batch. md5 base hash makes the full
    signature → band-join → bucket-cap → exact-jaccard-verify pipeline
    replay bit-for-bit in the DuckDB oracle."""
    from omop_etl_spark.operators.dedup import minhash_lsh_join

    docs = _spread_read(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 7 == 0)
    existing = docs.filter(F.col("doc_id") % 7 != 0)
    return minhash_lsh_join(
        incoming,
        existing,
        n=3,
        num_hashes=16,
        bands=8,
        threshold=0.8,
        base_hash="md5",
    ).select(
        F.col("in_id").cast("bigint").alias("in_id"),
        F.col("ex_id").cast("bigint").alias("ex_id"),
        "jaccard",
    )


def _minhash_join_ctes(
    in_source: str,
    ex_source: str,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 256,
    n: int = 3,
) -> str:
    """CTE chain (``shI`` … ``mh_join_pairs``) replaying
    operators.dedup.minhash_lsh_join(base_hash="md5") bit-for-bit in
    DuckDB: both sides share the md5-derived 31-bit shingle hash and
    the seeded affine rehash family; the existing-side bucket cap keeps
    only the bucket-minimum id for over-full bands; verification is
    exact shingle Jaccard. ``in_source`` / ``ex_source`` are FROM-able
    relations with ``(doc_id, text)``. ``mh_join_pairs`` has columns
    ``(in_id, ex_id, jaccard)``."""
    from omop_etl_spark.operators.dedup import _MERSENNE_P, _affine_params

    rows = num_hashes // bands
    params = _affine_params(num_hashes)
    mins = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {_MERSENNE_P}))"
        f" AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    def banded(side: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            + ", ".join(f"m{b * rows + r} AS x{r}" for r in range(rows))
            + f" FROM sig{side}"
            for b in range(bands)
        )
    xs = ", ".join(f"x{r}" for r in range(rows))
    xeq = " AND ".join(f"i.x{r} = k.x{r}" for r in range(rows))
    return f"""shI AS ({_duck_shingles(in_source, n)}),
shE AS ({_duck_shingles(ex_source, n)}),
hI AS (SELECT doc_id,
             list_transform(s, g -> CAST('0x' || substr(md5('0|' || g), 1, 8) AS BIGINT) & {_MERSENNE_P}) AS hs
      FROM shI),
hE AS (SELECT doc_id,
             list_transform(s, g -> CAST('0x' || substr(md5('0|' || g), 1, 8) AS BIGINT) & {_MERSENNE_P}) AS hs
      FROM shE),
sigI AS (SELECT doc_id, {mins} FROM hI),
sigE AS (SELECT doc_id, {mins} FROM hE),
bandedI AS ({banded("I")}),
bandedE AS ({banded("E")}),
statsE AS (
  SELECT doc_id, band, {xs},
         COUNT(*) OVER w AS cnt, MIN(doc_id) OVER w AS mn
  FROM bandedE WINDOW w AS (PARTITION BY band, {xs})
),
keepE AS (SELECT doc_id, band, {xs} FROM statsE
          WHERE cnt <= {max_bucket} OR doc_id = mn),
candJ AS (
  SELECT DISTINCT i.doc_id AS in_id, k.doc_id AS ex_id
  FROM bandedI i JOIN keepE k ON i.band = k.band AND {xeq}
),
mh_join_pairs AS (
  SELECT CAST(c.in_id AS BIGINT) AS in_id, CAST(c.ex_id AS BIGINT) AS ex_id,
         round(len(list_intersect(a.s, b.s)) /
               CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE), 6) AS jaccard
  FROM candJ c JOIN shI a ON a.doc_id = c.in_id JOIN shE b ON b.doc_id = c.ex_id
  WHERE len(list_intersect(a.s, b.s)) /
        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= {threshold}
)"""


def _oracle_incremental_dedup() -> str:
    return f"""
WITH {_minhash_join_ctes(
        "(SELECT * FROM documents WHERE doc_id % 7 = 0) dI",
        "(SELECT * FROM documents WHERE doc_id % 7 <> 0) dE",
    )}
SELECT in_id, ex_id, jaccard FROM mh_join_pairs
"""


def _q_docs_curate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ingestion: curate a NEW batch (doc_id % 7 == 0)
    against the already-curated corpus (the rest) — token gate, exact
    dedup within the batch, hash-keyed exact anti-join vs the corpus,
    MinHash-LSH cross-join near-dup drop (md5 base hash). Cost scales
    with the batch, not the corpus; the oracle replays every stage."""
    from omop_etl_spark.pipelines import curate_batch_incremental

    docs = _spread_read(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return curate_batch_incremental(
        batch,
        corpus,
        min_tokens=5,
        near_dedup_threshold=0.8,
        near_dedup_opts={"base_hash": "md5"},
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


def _oracle_docs_curate_incremental() -> str:
    return f"""
WITH batchg AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 7 = 0
    AND len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) >= 5
),
bsurv AS (SELECT MIN(doc_id) AS doc_id, text FROM batchg GROUP BY text),
corpusx AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
xd AS (SELECT b.* FROM bsurv b
       ANTI JOIN (SELECT DISTINCT text FROM corpusx) c USING (text)),
{_minhash_join_ctes("xd", "corpusx")},
flagged AS (SELECT DISTINCT in_id FROM mh_join_pairs)
SELECT CAST(x.doc_id AS BIGINT) AS doc_id, x.text,
       CAST(len(list_filter(string_split_regex(x.text, '\\s+'), x2 -> x2 <> ''))
            AS INT) AS n_tokens
FROM xd x ANTI JOIN flagged f ON x.doc_id = f.in_id
"""


def _q_docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span run-length diagnostics (Lee et al. 2022
    exact-substring-dedup shape): per doc, corpus-duplicated 13-gram
    count, number of consecutive spans, and the longest span — the
    quantity a span-granular deduper would cut. Grams shuffle as 8-byte
    md5-derived keys (engine-portable), spans via the islands trick
    (one window on the doc key)."""
    from omop_etl_spark.operators.contamination import dup_span_stats

    docs = _spread_read(spark, sf_dir, "documents")
    return dup_span_stats(docs, n=13).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_grams",
        "n_dup_grams",
        "n_spans",
        "max_span_grams",
    )


ORACLE_DOCS_DUP_SPANS = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (
  SELECT doc_id, u.i - 1 AS pos,
         CASE WHEN len(toks) >= 13
              THEN array_to_string(toks[u.i:u.i+12], ' ')
              ELSE array_to_string(toks, ' ') END AS g
  FROM tok, LATERAL (SELECT unnest(range(1, CASE WHEN len(toks) >= 13
                                               THEN len(toks) - 13 + 2
                                               ELSE 2 END)) AS i) u
),
hashed AS (
  SELECT doc_id, pos,
         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS k
  FROM grams
),
counts AS (SELECT k, COUNT(*) AS cnt FROM hashed GROUP BY k),
dup AS (
  SELECT h.doc_id, h.pos FROM hashed h JOIN counts c ON h.k = c.k
  WHERE c.cnt > 1
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
),
runs AS (SELECT doc_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2),
per_runs AS (
  SELECT doc_id, COUNT(*) AS n_spans, MAX(len) AS max_span_grams,
         SUM(len) AS n_dup
  FROM runs GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM hashed GROUP BY doc_id)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_grams,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.max_span_grams, 0) AS BIGINT) AS max_span_grams
FROM totals t LEFT JOIN per_runs p ON t.doc_id = p.doc_id
"""


def _q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 3-day event-value sum (time-RANGE window frame,
    not rows) — the time-series feature-engineering shape. Values are
    floored to integer cents BEFORE the frame sum, so the windowed
    accumulation is exact integer math in any engine (RANGE-frame float
    sums would otherwise differ by segment-tree association order).
    One shuffle on the user key; the frame is bounded (3 days), so
    state per partition is bounded regardless of history length."""
    from pyspark.sql import Window

    ev = _source(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3 * 86400, 0)
    )
    return (
        ev.withColumn("__cents", cents)
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.sum("__cents").over(w).cast("bigint").alias("rolling_3d_cents"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("rolling_3d_events"),
        )
    )


ORACLE_EVENTS_ROLLING = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(cents) OVER w AS BIGINT) AS rolling_3d_cents,
       CAST(COUNT(*) OVER w AS BIGINT) AS rolling_3d_events
FROM (SELECT event_id, user_id,
             -- floor to WHOLE seconds: Spark's unix_timestamp truncates
             -- sub-second precision, DuckDB's epoch() keeps it as a
             -- DOUBLE — unfloored, an event sitting exactly at the
             -- 3-day boundary plus a fraction falls outside DuckDB's
             -- RANGE frame but inside Spark's (latent until the sf1
             -- tiling put two same-user events on the boundary, r15)
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events) t
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 259200 PRECEDING AND CURRENT ROW)
"""


def _q_docs_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile stratification of documents by length — the binning step
    of length-balanced sampling. Uses operators.sampling.ntile_by: a
    DISTRIBUTED exact-NTILE decomposition (intra-value rank on the
    value key + vocabulary-sized offset frame + broadcast join) that
    reproduces `ntile(10) OVER (ORDER BY n_chars, doc_id)` bit-for-bit
    without the single-reducer global window."""
    from omop_etl_spark.operators.sampling import ntile_by

    docs = _source(spark, sf_dir, "documents")
    return (
        ntile_by(docs, "n_chars", "doc_id", tiles=10)
        .groupBy(F.col("tile").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


ORACLE_DOCS_LENGTH_DECILES = """
SELECT decile, COUNT(*) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents) t
GROUP BY decile
"""


# ---------------------------------------------------------------------------
# graph rank propagation (integer-scaled PageRank)


def _q_events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the bidirectional user↔event-type
    bipartite graph. Integer-scaled rank arithmetic (operators.graph)
    makes a fixed-iteration PageRank exactly engine-portable — the
    oracle unrolls the same three iterations as SQL CTEs. Each
    iteration is one src-key join + one dst-key hash aggregate (the
    Pregel pattern expressed relationally, AQE-skew-safe)."""
    from omop_etl_spark.operators.graph import pagerank

    ev = _source(spark, sf_dir, "events")
    fwd = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(edges, iterations=3).select("node", "rank_scaled")


def _oracle_events_pagerank(iterations: int = 3) -> str:
    """Unrolled-CTE replay of operators.graph.pagerank (scale=1e6,
    damping 17/20, dangling mass dropped). All updates are
    floor-of-double-division over integers — IEEE double division is
    correctly rounded in both engines, so every intermediate bigint is
    bit-identical."""
    it = """
c{i} AS (
  SELECT e.dst AS node,
         SUM(CAST(floor((r.r * 17) / (20 * d.deg)) AS BIGINT)) AS cin
  FROM r{p} r JOIN edges e ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT nd.node,
         CAST(CAST(floor(3000000 / (20 * nn.n)) AS BIGINT)
              + COALESCE(c{i}.cin, 0) AS BIGINT) AS r
  FROM nodes nd LEFT JOIN c{i} ON nd.node = c{i}.node, n nn
)"""
    chain = ",".join(it.format(i=i + 1, p=i) for i in range(iterations))
    return f"""
WITH fwd AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
                  't' || event_type AS dst
  FROM events
),
edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST(floor(1000000 / n) AS BIGINT) AS r FROM nodes, n),
{chain}
SELECT node, r AS rank_scaled FROM r{iterations}
"""


# ---------------------------------------------------------------------------
# cohort retention (product-analytics shape)


def _q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-event ISO week,
    retention counted per week offset, rate derived from integer
    counts only. Three hash aggregates (first-event per user, distinct
    user-week activity, cohort-offset rollup) + one broadcast-able
    cohort-size join; the week offset is exact integer day arithmetic
    (datediff/7 between Monday-truncated weeks), no float date math."""
    from omop_etl_spark.conf import checkpoint as _ckpt

    ev = _source(spark, sf_dir, "events")
    # r17: first feeds BOTH the retention join and the cohort-size
    # aggregate; without the checkpoint each consumer re-runs the full
    # event scan + per-user aggregate (3 event scans in the r17 audit
    # instead of 2). The frame is user-cardinality-bounded.
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    ).transform(_ckpt)
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    offset = (
        F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
    ).cast("int")
    ret = (
        activity.join(first, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return (
        ret.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


ORACLE_EVENTS_RETENTION = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week FROM events
),
ret AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.activity_week) / 7 AS INT) AS week_offset,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM activity a JOIN first f ON a.user_id = f.user_id
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size FROM first GROUP BY 1
)
SELECT CAST(r.cohort_week AS TIMESTAMP) AS cohort_week, r.week_offset,
       r.n_active, s.cohort_size,
       round(r.n_active / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
"""


# ---------------------------------------------------------------------------
# corpus-LM quality scoring


def _q_docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    unigram LM — the cheap perplexity proxy for quality filtering. The
    per-token-type logprob is floor-scaled to BIGINT once, so the
    per-doc accumulation is an exact integer sum (row-order- and
    partitioning-independent)."""
    from omop_etl_spark.operators.chunking import unigram_logprob_scores

    docs = _spread_read(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "mean_logprob",
    )


ORACLE_DOCS_UNIGRAM_LOGPROB = """
WITH terms AS (
  SELECT doc_id, lower(t) AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
cf AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),
total AS (SELECT SUM(cnt) AS total FROM cf),
logp AS (SELECT term, CAST(floor(ln(cnt / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS lp
         FROM cf, total)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
       round(SUM(t.tf * l.lp) / (SUM(t.tf) * 1000000.0), 6) AS mean_logprob
FROM tf t JOIN logp l ON t.term = l.term
GROUP BY t.doc_id
"""


def _q_docs_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token fraction per document (corpus frequency ≤ 2) — a
    float-free quality signal for OCR noise and mojibake. All-integer
    except the final rounded ratio."""
    from omop_etl_spark.operators.chunking import rare_token_stats

    docs = _spread_read(spark, sf_dir, "documents")
    return rare_token_stats(docs, rare_max_count=2).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "n_rare",
        "rare_frac",
    )


ORACLE_DOCS_RARE_TOKENS = """
WITH terms AS (
  SELECT doc_id, lower(t) AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
cf AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c.cnt <= 2 THEN t.tf ELSE 0 END) AS BIGINT) AS n_rare,
       round(SUM(CASE WHEN c.cnt <= 2 THEN t.tf ELSE 0 END)
             / CAST(SUM(t.tf) AS DOUBLE), 6) AS rare_frac
FROM tf t JOIN cf c ON t.term = c.term
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# decision-support join shapes (r06): volume shipping, market share,
# customer distribution, correlated-avg gate, disjunctive pushdown,
# shipped-last suppliers


def _q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume. Two
    dimension joins resolve nation names for BOTH ends of each lineitem
    (supplier side and customer side); the nation frame is broadcast
    twice, the symmetric pair filter is a single OR predicate evaluated
    post-join, and the fact table shuffles only on its join keys. At
    scale the supplier/customer joins shuffle on the fact's natural
    keys; nation never shuffles."""
    nation = _source(spark, sf_dir, "nation")
    supp = (
        _source(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _source(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = _source(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = _source(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "bigint"
    )
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("bigint").alias("revenue_cents"))
        .select(
            "supp_nation",
            "cust_nation",
            F.col("l_year").cast("bigint").alias("l_year"),
            "revenue_cents",
        )
    )


ORACLE_VOLUME_SHIPPING = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l.l_shipdate)
"""


def _q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's PROMO-part
    import revenue per year. The share is computed all-integer
    (``(nation_cents * 1e6) div total_cents`` → parts-per-million) so
    it hashes identically across engines — no float division. Part is
    filtered before the join (predicate reaches the scan) and the
    dimension chain customer→nation→region collapses to a broadcast."""
    nation = _source(spark, sf_dir, "nation")
    region = _source(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    cust = (
        _source(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        _source(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = _source(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    orders = _source(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _source(spark, sf_dir, "lineitem")
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "bigint"
    )
    joined = (
        # part filtered by p_type is still SF-linear — AQE decides the join.
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev.alias("rev_cents"),
            (F.col("supp_nation") == "NATION_2").cast("bigint").alias("is_target"),
        )
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(F.col("rev_cents") * F.col("is_target")).alias("nation_cents"),
        F.sum("rev_cents").alias("total_cents"),
    )
    return agg.select(
        F.col("o_year").cast("bigint").alias("o_year"),
        F.col("nation_cents").cast("bigint").alias("nation_cents"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
        # DECIMAL(38,0)-widened: a year's total_cents alone crosses the
        # int64 x1e6 cliff (~$92 B) inside 100-TB order volume — the
        # same revenue-cents shape that failed the r16 sf10 sweep in
        # nation_revenue_share
        F.expr(ppm_div_sql("nation_cents", "total_cents")).alias("share_ppm"),
    )


ORACLE_MARKET_SHARE = """
WITH j AS (
  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
         CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS rev_cents,
         CASE WHEN sn.n_name = 'NATION_2' THEN 1 ELSE 0 END AS is_target
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE p.p_type = 'PROMO'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND EXISTS (
      SELECT 1 FROM customer c
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      WHERE c.c_custkey = o.o_custkey AND r.r_name = 'ASIA')
)
SELECT CAST(o_year AS BIGINT) AS o_year,
       CAST(SUM(rev_cents * is_target) AS BIGINT) AS nation_cents,
       CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
       CAST(SUM(rev_cents * is_target) * 1000000 // SUM(rev_cents) AS BIGINT) AS share_ppm
FROM j GROUP BY o_year
"""


def _q_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    INCLUDING zero-order customers (the left join is the point — an
    inner join silently drops the empty bucket). Two aggregations, both
    map-side combined; the second one's input is |customers| rows and
    its output |distinct counts| rows."""
    cust = _source(spark, sf_dir, "customer").select("c_custkey")
    orders = _source(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
    )


ORACLE_CUST_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
"""


def _q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average (decorrelated to an
    aggregate + self-join) gating a revenue sum. The per-part avg frame
    is |parts|-sized, i.e. SF-linear, so neither join carries a
    broadcast hint — AQE broadcasts only when the side actually fits.
    Quantities are integral doubles so ``avg = sum/count`` is exactly
    rounded and the 0.5x threshold compare is engine-stable."""
    part = _source(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    )
    li = _source(spark, sf_dir, "lineitem")
    branded = li.join(
        part.select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    avg_qty = branded.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    gated = branded.join(
        avg_qty, F.col("l_partkey") == F.col("a_partkey")
    ).filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
    price_cents = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    return gated.agg(
        F.sum(price_cents).cast("bigint").alias("below_avg_cents"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


ORACLE_SMALL_QTY_REVENUE = """
SELECT CAST(SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS below_avg_cents,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < 0.5 * (
    SELECT AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def _q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join
    sides. Catalyst extracts the common ``l_partkey = p_partkey`` equi
    condition, keeps the disjunction as a post-join filter, and pushes
    the part-only / lineitem-only conjuncts implied by the OR down to
    each scan (constraint propagation) — the classic test that a
    planner doesn't fall back to a cross product on disjunctions."""
    part = _source(spark, sf_dir, "part")
    li = _source(spark, sf_dir, "lineitem")
    # part is SF-linear — no broadcast hint; AQE chooses the strategy.
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    p1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 20)
    )
    p2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity") >= 15)
        & (F.col("l_quantity") <= 35)
    )
    p3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(20, 50))
        & (F.col("l_quantity") >= 25)
        & (F.col("l_quantity") <= 50)
    )
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "bigint"
    )
    return j.filter(p1 | p2 | p3).agg(
        F.sum(rev).cast("bigint").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


ORACLE_DISJUNCTIVE_REVENUE = """
SELECT CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       COUNT(*) AS n_lineitems
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 15 AND 35)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 25 AND 50)
"""


def _q_shipped_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to the available columns): suppliers
    that shipped strictly LAST on a multi-supplier finished order —
    EXISTS (another supplier on the order) plus NOT EXISTS (anyone
    shipping later), decorrelated into a LEFT SEMI and a LEFT ANTI join
    against the same fact. Both joins share the l_orderkey shuffle key,
    so AQE reuses one exchange of the fact; the date comparison rides
    as a non-equi residual."""
    li = _source(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _source(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    l1 = li.join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"),
        F.col("l_suppkey").alias("s2"),
        F.col("l_shipdate").alias("d2"),
    )
    multi = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    last = multi.join(
        l2,
        (F.col("l_orderkey") == F.col("k2"))
        & (F.col("l_suppkey") != F.col("s2"))
        & (F.col("d2") > F.col("l_shipdate")),
        "left_anti",
    )
    supp = _source(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        last.select("l_orderkey", "l_suppkey")
        .distinct()
        # supplier is SF-linear — no broadcast hint; AQE decides.
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
        .select("s_name", "numwait")
    )


ORACLE_SHIPPED_LAST = """
WITH cand AS (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM lineitem l1
  JOIN orders o ON l1.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > l1.l_shipdate)
)
SELECT s.s_name, COUNT(*) AS numwait
FROM cand JOIN supplier s ON cand.l_suppkey = s.s_suppkey
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 10
"""


# ---------------------------------------------------------------------------
# profiling / sketching / sampling / sweep-line / second moments (r06)


def _q_sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per event type — bounded-state
    cardinality profiling whose estimate is exactly replayable in SQL
    (public md5 hash, integral outputs). The k-smallest pass compiles
    to WindowGroupLimit: each map task ships at most k hashes per
    group, so exchange volume is O(groups*k) at any corpus size."""
    from omop_etl_spark.operators.sketches import kmv_distinct

    ev = _source(spark, sf_dir, "events")
    return kmv_distinct(ev, ["event_type"], "user_id", k=64).select(
        "event_type", "n_kept", "kth_hash_q", "est_distinct"
    )


ORACLE_SKETCH_DISTINCT = """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(floor(MAX(h) * 4294967296.0) AS BIGINT) AS kth_hash_q,
       CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE floor(63.0 / greatest(MAX(h), 1.0 / 4294967296.0)) END AS BIGINT) AS est_distinct
FROM ranked WHERE rn <= 64 GROUP BY event_type
"""


def _q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality profile over the order pipeline — the
    Spark-native form of the reference's post-ETL validation rules
    (validation/*.yaml compiled by /root/reference/omop_etl/__main__.py:34-92).
    Eight rules compile to three
    single-pass conditional aggregates plus two anti-join counts; the
    report is a rules-sized union frame."""
    from omop_etl_spark.operators.quality import DQRule, dq_profile

    tables = {
        "orders": _source(spark, sf_dir, "orders"),
        "lineitem": _source(spark, sf_dir, "lineitem"),
        "customer": _source(spark, sf_dir, "customer"),
    }
    rules = [
        DQRule("orders_custkey_not_null", "orders", "not_null", "o_custkey"),
        DQRule(
            "orders_status_domain",
            "orders",
            "in_set",
            "o_orderstatus",
            values=("O", "F", "P"),
        ),
        DQRule("orders_price_positive", "orders", "range", "o_totalprice", lo=0.0),
        DQRule("orders_key_unique", "orders", "unique", "o_orderkey"),
        DQRule(
            "lineitem_discount_domain",
            "lineitem",
            "range",
            "l_discount",
            lo=0.0,
            hi=0.1,
        ),
        DQRule("lineitem_shipdate_not_null", "lineitem", "not_null", "l_shipdate"),
        DQRule(
            "lineitem_order_fk",
            "lineitem",
            "fk",
            "l_orderkey",
            ref_table="orders",
            ref_col="o_orderkey",
        ),
        DQRule(
            "orders_customer_fk",
            "orders",
            "fk",
            "o_custkey",
            ref_table="customer",
            ref_col="c_custkey",
        ),
    ]
    return dq_profile(tables, rules)


ORACLE_DQ_CHECKS = """
WITH report AS (
  SELECT 'orders_custkey_not_null' AS rule_name, 'orders' AS table_name,
         (SELECT COUNT(*) FROM orders) AS n_rows,
         (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS n_violations
  UNION ALL
  SELECT 'orders_status_domain', 'orders',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders
          WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P'))
  UNION ALL
  SELECT 'orders_price_positive', 'orders',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders
          WHERE o_totalprice IS NULL OR o_totalprice < 0.0)
  UNION ALL
  SELECT 'orders_key_unique', 'orders',
         (SELECT COUNT(*) FROM orders),
         (SELECT COALESCE(SUM(cnt), 0) FROM
            (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey) g
          WHERE cnt > 1)
  UNION ALL
  SELECT 'lineitem_discount_domain', 'lineitem',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem
          WHERE l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.1)
  UNION ALL
  SELECT 'lineitem_shipdate_not_null', 'lineitem',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
  UNION ALL
  SELECT 'lineitem_order_fk', 'lineitem',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'orders_customer_fk', 'orders',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
)
SELECT rule_name, table_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM report
"""


def _q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample (Duffield–Lund–Thorup priority
    sampling: priority = w/u on a deterministic md5 hash) — 'pick 200
    docs, long docs proportionally more often', reproducible across
    runs AND engines: the priority is one exactly-rounded IEEE
    division, no libm pow, so the rank-200 boundary row is
    bit-identical in Spark and DuckDB (ADVICE r6). Plan is one
    TakeOrderedAndProject: no shuffle, no RNG state."""
    from omop_etl_spark.operators.sampling import weighted_sample

    docs = _source(spark, sf_dir, "documents")
    return weighted_sample(docs, 200, "n_chars", "doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


ORACLE_DOCS_WEIGHTED_SAMPLE = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM (
  SELECT doc_id, source, n_chars,
         CAST(n_chars AS DOUBLE)
           / (CAST(concat('0x', substr(md5(concat('wsample|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
               / 4294967296.0) AS pri
  FROM documents WHERE n_chars > 0
  ORDER BY pri DESC, doc_id ASC
  LIMIT 200
) t
"""


def _q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-minute activity windows per event type — the
    sweep-line prefix sum distributed over (type, day) buckets with
    per-bucket carry-in offsets, instead of one serial window per type
    (operators/temporal.interval_concurrency). The oracle replays the
    single-window form; both agree because the running MAX is
    permutation-invariant within tie blocks."""
    from omop_etl_spark.operators.temporal import interval_concurrency

    ev = _source(spark, sf_dir, "events")
    return interval_concurrency(ev, "event_type", "ts", "30 MINUTES").select(
        "event_type", "n_intervals", "max_concurrent"
    )


ORACLE_EVENTS_CONCURRENCY = """
WITH b AS (
  SELECT event_type AS k, ts AS t, 1 AS d FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
),
r AS (
  SELECT k, SUM(d) OVER (PARTITION BY k ORDER BY t, d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM b
)
SELECT k AS event_type,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
       CAST(MAX(run) AS BIGINT) AS max_concurrent
FROM r GROUP BY k
"""


def _q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-quantized covariance of the embedding matrix —
    sufficient statistics for whitening/PCA before cosine dedup. Each
    Arrow batch collapses to one d x d numpy partial inside
    mapInPandas, so the shuffle is O(partitions * d^2) regardless of
    corpus size; all sums are int64 and the floor-divided covariance
    hashes identically in DuckDB's double-posexplode replay."""
    from omop_etl_spark.operators.stats import quantized_covariance

    emb = _spread_read(spark, sf_dir, "embeddings")
    return quantized_covariance(emb, "embedding", shift=14).select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        "n",
        "s_i",
        "s_j",
        "s_ij",
        F.col("cov_scaled").cast("bigint").alias("cov_scaled"),
    )


ORACLE_EMBED_COVARIANCE = """
WITH q AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16384.0) AS BIGINT) AS qv
  FROM embeddings
),
pairs AS (
  SELECT a.idx AS i, b.idx AS j, a.qv AS qa, b.qv AS qb
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.idx <= b.idx
),
m AS (
  SELECT i, j, COUNT(*) AS n, SUM(qa) AS s_i, SUM(qb) AS s_j,
         SUM(qa * qb) AS s_ij
  FROM pairs GROUP BY i, j
)
SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       CAST(n AS BIGINT) AS n, CAST(s_i AS BIGINT) AS s_i,
       CAST(s_j AS BIGINT) AS s_j, CAST(s_ij AS BIGINT) AS s_ij,
       CAST((n * s_ij - s_i * s_j
             - ((((n * s_ij - s_i * s_j) % n) + n) % n)) // n AS BIGINT)
         AS cov_scaled
FROM m
"""


def _q_docs_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width length histogram with explicit empty-bucket densify
    (a sequence cross to emit zero-count bins) — the profiling
    primitive for chunk-size planning. One hash aggregate; the bin
    spine is a range() literal, never the corpus."""
    docs = _source(spark, sf_dir, "documents")
    width = 500
    n_bins = 20
    binned = docs.select(
        F.least(F.floor(F.col("n_chars") / width), F.lit(n_bins - 1))
        .cast("bigint")
        .alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_docs"))
    spine = spark.range(n_bins).select(F.col("id").alias("bin"))
    return (
        spine.join(counts, "bin", "left")
        .select(
            "bin",
            (F.col("bin") * width).cast("bigint").alias("lo_chars"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        )
    )


ORACLE_DOCS_LENGTH_HIST = """
WITH spine AS (SELECT unnest(generate_series(0, 19)) AS bin),
counts AS (
  SELECT LEAST(CAST(floor(n_chars / 500.0) AS BIGINT), 19) AS bin,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1
)
SELECT CAST(s.bin AS BIGINT) AS bin,
       CAST(s.bin * 500 AS BIGINT) AS lo_chars,
       CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs
FROM spine s LEFT JOIN counts c ON s.bin = c.bin
"""


def _q_events_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a deliberately hot grouping
    key (event_type has ~5 values, so a naive full-row shuffle lands
    each type on ONE reducer). The salt splits every hot group across
    16 tasks for the partial pass; the final merge shuffles only
    |types| x 16 partial rows. All measures are algebraic and
    integer-exact (value quantized to micros before summing), so the
    salted plan's result is bit-identical to the plain GROUP BY the
    oracle runs."""
    from omop_etl_spark.operators.skew import two_stage_agg

    ev = _source(spark, sf_dir, "events")
    micros = F.floor(F.col("value") * 1000000).cast("bigint")
    staged = two_stage_agg(
        ev.withColumn("__micros", micros),
        ["event_type"],
        partial=[
            F.count(F.lit(1)).alias("c"),
            F.sum("__micros").alias("s"),
            F.max("__micros").alias("m"),
        ],
        final=[
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum("s").cast("bigint").alias("value_micros"),
            F.max("m").cast("bigint").alias("max_micros"),
        ],
    )
    return staged.select("event_type", "n_events", "value_micros", "max_micros")


ORACLE_EVENTS_SKEW_AGG = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micros,
       CAST(MAX(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS max_micros
FROM events GROUP BY event_type
"""



def _q_events_hourly_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch at fine group granularity: distinct-user estimates
    per (event_type, hour) — thousands of sketch groups instead of 5.
    The per-group state stays k hashes; the WindowGroupLimit partial
    pass bounds exchange volume at groups*k rows, so group count — not
    corpus size — is the only scaling axis. Hours with fewer than k
    distinct users report exact counts (the sketch's small-group
    degeneracy is exactness, not error)."""
    from omop_etl_spark.operators.sketches import kmv_distinct

    ev = _source(spark, sf_dir, "events")
    ev = ev.withColumn("hour", F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00"))
    return kmv_distinct(ev, ["event_type", "hour"], "user_id", k=16).select(
        "event_type", "hour", "n_kept", "est_distinct"
    )


ORACLE_EVENTS_HOURLY_DISTINCT = """
WITH h AS (
  SELECT DISTINCT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         CAST(concat('0x', substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS h
  FROM events
),
ranked AS (
  SELECT event_type, hour, h,
         row_number() OVER (PARTITION BY event_type, hour ORDER BY h) AS rn
  FROM h
)
SELECT event_type, hour,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(CASE WHEN COUNT(*) < 16 THEN COUNT(*)
                 ELSE floor(15.0 / greatest(MAX(h), 1.0 / 4294967296.0)) END AS BIGINT) AS est_distinct
FROM ranked WHERE rn <= 16 GROUP BY event_type, hour
"""



def _q_orders_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum — the O(1)-output integrity
    primitive for 100 TB rerun validation: sum of per-row md5
    signatures is commutative, so the result is independent of
    partitioning and task order and comparable across engines. One
    map-side aggregate, a 1-row exchange, no sort, no row transfer.
    Money is pre-quantized to cents so the string encoding under md5
    is integer-stable across engines."""
    from omop_etl_spark.operators.reconcile import table_checksum

    o = _source(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("string").alias("o_date_str"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_date_str",
        "price_cents",
    ]
    return table_checksum(o, cols).select("n_rows", "checksum")


ORACLE_ORDERS_CHECKSUM = """
WITH sig AS (
  SELECT CAST(concat('0x', substr(md5(concat_ws('|', 'rowsig',
           coalesce(concat(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR)), 'n'),
           coalesce(concat(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_custkey AS VARCHAR)), 'n'),
           coalesce(concat(CAST(length(o_orderstatus) AS VARCHAR), ':', o_orderstatus), 'n'),
           coalesce(concat(CAST(length(o_orderpriority) AS VARCHAR), ':', o_orderpriority), 'n'),
           coalesce(concat(CAST(length(CAST(o_orderdate AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderdate AS VARCHAR)), 'n'),
           coalesce(concat(CAST(length(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS VARCHAR), ':', CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)), 'n')
         )), 1, 15)) AS BIGINT) AS h
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(h AS HUGEINT)) % 1152921504606846976 AS BIGINT) AS checksum
FROM sig
"""


def _q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two table versions (here: orders vs a
    deterministically perturbed rerun — rows dropped, repriced, and
    appended by key arithmetic, so both engines derive the identical
    'new' snapshot). Both sides reduce to (key, row-hash) before the
    single full-outer equi-join, so a wide table shuffles ~16 bytes
    per row; classification is a null-pattern CASE on the hashes."""
    from omop_etl_spark.operators.reconcile import snapshot_diff

    base = _source(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    changed = base.withColumn(
        "price_cents",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("price_cents") + 100).otherwise(
            F.col("price_cents")
        ),
    )
    new = changed.filter(F.col("o_orderkey") % 97 != 0).unionByName(
        base.filter(F.col("o_orderkey") % 193 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            "price_cents",
        )
    )
    d = snapshot_diff(base, new, ["o_orderkey"])
    return d.filter(F.col("change_type") != "unchanged").select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"), "change_type"
    )


ORACLE_ORDERS_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
new AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 89 = 0 THEN price_cents + 100
              ELSE price_cents END AS price_cents
  FROM base WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, price_cents
  FROM base WHERE o_orderkey % 193 = 0
),
j AS (
  SELECT COALESCE(n.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE WHEN b.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN b.o_custkey <> n.o_custkey
                OR b.o_orderstatus <> n.o_orderstatus
                OR b.price_cents <> n.price_cents THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM base b FULL OUTER JOIN new n ON b.o_orderkey = n.o_orderkey
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, change_type
FROM j WHERE change_type <> 'unchanged'
"""



def _q_events_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join: per user, purchase activity
    windows vs error activity windows ([ts, ts+30m) each). The binned
    equi-join emits each overlapping pair exactly once (anchored at
    the overlap-start bin — a filter, not a dedup shuffle); the oracle
    replays the plain inequality join. Every pair is id+id rows, so
    the shuffle never carries payloads."""
    from omop_etl_spark.operators.temporal import overlap_join

    ev = _source(spark, sf_dir, "events")
    mk = lambda t, pfx: (
        ev.filter(F.col("event_type") == t).select(
            F.col("user_id").alias(f"{pfx}_user"),
            F.col("event_id").alias(f"{pfx}_event"),
            F.col("ts").alias(f"{pfx}_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias(f"{pfx}_end"),
        )
    )
    pairs = overlap_join(
        mk("purchase", "p"),
        mk("error", "e"),
        left_start="p_start",
        left_end="p_end",
        right_start="e_start",
        right_end="e_end",
        bin_width_seconds=3600,
        extra_on=[("p_user", "e_user")],
        payload_cols=["e_event"],
    )
    return pairs.select(
        F.col("p_user").cast("bigint").alias("user_id"),
        F.col("p_event").cast("bigint").alias("purchase_event"),
        F.col("e_event").cast("bigint").alias("error_event"),
    )


ORACLE_EVENTS_OVERLAP_JOIN = """
WITH p AS (
  SELECT user_id, event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'purchase'
),
er AS (
  SELECT user_id, event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'error'
)
SELECT CAST(p.user_id AS BIGINT) AS user_id,
       CAST(p.event_id AS BIGINT) AS purchase_event,
       CAST(er.event_id AS BIGINT) AS error_event
FROM p JOIN er ON p.user_id = er.user_id
WHERE p.s < er.e AND er.s < p.e
"""



def _q_events_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join of the event stream (hot user keys) against
    a too-big-to-broadcast per-user dimension: the big side takes a
    deterministic salt, the dimension explodes num_salts times, and
    hot keys spread across 16 tasks instead of one. Result is
    bit-identical to the plain equi-join the oracle runs; the gate
    proves the rewrite preserves semantics, the operator docstring
    carries the when-to-use contract (middle regime between broadcast
    and AQE skew split)."""
    from omop_etl_spark.operators.skew import salted_join

    ev = _source(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    dim = (
        _source(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("d_user"))
        .agg(
            F.count(F.lit(1)).alias("user_events"),
            F.min("event_id").alias("first_event"),
        )
    )
    joined = salted_join(
        ev,
        dim.withColumnRenamed("d_user", "user_id"),
        ["user_id"],
        num_salts=16,
    )
    return (
        joined.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("user_events").cast("bigint").alias("user_events"),
            F.col("first_event").cast("bigint").alias("first_event"),
        )
    )


ORACLE_EVENTS_SALTED_ENRICH = """
WITH dim AS (
  SELECT user_id, COUNT(*) AS user_events, MIN(event_id) AS first_event
  FROM events GROUP BY user_id
)
SELECT CAST(e.event_id AS BIGINT) AS event_id,
       CAST(e.user_id AS BIGINT) AS user_id,
       CAST(d.user_events AS BIGINT) AS user_events,
       CAST(d.first_event AS BIGINT) AS first_event
FROM events e JOIN dim d ON e.user_id = d.user_id
WHERE e.event_type = 'purchase'
"""



def _q_events_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) partition checksums of the event log — the
    incremental-validation primitive: two snapshots compare these tiny
    frames first and run the row-level diff only on partitions whose
    checksum moved. Commutative md5-sum per partition, so the value is
    independent of file layout and engine."""
    from omop_etl_spark.operators.reconcile import partition_checksums

    ev = _source(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("value_micros"),
    )
    return partition_checksums(
        ev, ["event_type", "day"], ["event_id", "user_id", "value_micros"]
    ).select("event_type", "day", "n_rows", "checksum")


ORACLE_EVENTS_PARTITION_CHECKSUMS = """
WITH rows_ AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(concat('0x', substr(md5(concat_ws('|', 'rowsig',
           coalesce(concat(CAST(length(CAST(event_id AS VARCHAR)) AS VARCHAR), ':', CAST(event_id AS VARCHAR)), 'n'),
           coalesce(concat(CAST(length(CAST(user_id AS VARCHAR)) AS VARCHAR), ':', CAST(user_id AS VARCHAR)), 'n'),
           coalesce(concat(CAST(length(CAST(CAST(floor(value * 1000000) AS BIGINT) AS VARCHAR)) AS VARCHAR), ':', CAST(CAST(floor(value * 1000000) AS BIGINT) AS VARCHAR)), 'n')
         )), 1, 15)) AS BIGINT) AS h
  FROM events
)
SELECT event_type, day, COUNT(*) AS n_rows,
       CAST(SUM(CAST(h AS HUGEINT)) % 1152921504606846976 AS BIGINT) AS checksum
FROM rows_ GROUP BY event_type, day
"""



def _q_docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: membership is decided by the
    near-dup CLUSTER id, not the document id, so near-duplicate
    documents can never straddle the train/test boundary — the
    composition (jaccard pairs → connected components → hash_split on
    cluster root) that a per-doc split gets silently wrong. The whole
    chain is deterministic and the oracle replays it: recursive-CTE
    components + the same md5 unit-hash thresholds."""
    from omop_etl_spark.operators.cluster import assign_clusters
    from omop_etl_spark.operators.dedup import jaccard_pairs
    from omop_etl_spark.operators.sampling import hash_split

    docs = _spread_read(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, n=3, threshold=0.8)
    clustered = assign_clusters(docs, pairs, id_col="doc_id")
    split = hash_split(
        clustered, id_col="cluster_id", salt="leakage", out_col="split"
    )
    return split.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "split",
    )


def _oracle_leakage_safe_split() -> str:
    # pairs via the gram-join identity (see ORACLE_JACCARD_PAIRS): the
    # all-pairs form is O(n^2) by shape and infeasible in DuckDB past
    # the driver SF; this form is value-identical.
    return f"""
WITH RECURSIVE sh AS MATERIALIZED ({_DUCK_SHINGLES}),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS ti
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia AS id_a, ib AS id_b
  FROM inter
  JOIN sz sa ON inter.ia = sa.doc_id
  JOIN sz sb ON inter.ib = sb.doc_id
  WHERE ti / CAST(sa.n + sb.n - ti AS DOUBLE) >= 0.8
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
),
clustered AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
),
hashed AS (
  SELECT doc_id, cluster_id,
         CAST(concat('0x', substr(md5(concat('leakage|', CAST(cluster_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM clustered
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CASE WHEN u < {0.9!r} THEN 'train'
            WHEN u < {0.9 + 0.05!r} THEN 'val'
            ELSE 'test' END AS split
FROM hashed
"""



def _q_docs_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent token co-occurrence with the A-priori support bound:
    only terms whose doc-frequency clears min_support enter the per-doc
    self-join, so the pair space is frequent-terms^2 per doc, never
    vocabulary^2. Lift is integer-ppm (hash-stable); top-100 by pair
    count compiles to TakeOrderedAndProject."""
    from omop_etl_spark.operators.chunking import token_cooccurrence

    docs = _spread_read(spark, sf_dir, "documents")
    return token_cooccurrence(docs, min_support=10, top_k=100).select(
        "term_a", "term_b", "pair_count", "df_a", "df_b", "lift_ppm"
    )


ORACLE_DOCS_COOCCURRENCE = """
WITH terms AS (
  SELECT DISTINCT doc_id, t AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
),
ft AS (
  SELECT t.doc_id, t.term, d.df
  FROM terms t JOIN dfreq d ON t.term = d.term
  WHERE d.df >= 10
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b,
         COUNT(*) AS pair_count
  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term, a.df, b.df
  HAVING COUNT(*) >= 10
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term_a, term_b, CAST(pair_count AS BIGINT) AS pair_count,
       CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
       CAST(n.n_docs * pair_count * 1000000 // (df_a * df_b) AS BIGINT) AS lift_ppm
FROM pairs, n
ORDER BY pair_count DESC, term_a ASC, term_b ASC
LIMIT 100
"""



def _q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event value over time via closed-form
    simple regression on integer-quantized coordinates (x = days since
    1995-01-01, y = value micros): every sufficient statistic is an
    exact int64 sum (map-side combined, one shuffle of 5 numbers per
    group), and the slope is emitted as integer ppm-per-day with the
    wide intermediate products computed in decimal(38) — so the result
    hashes identically in any engine. The streaming-friendly shape:
    the same 5 sums are mergeable monoid state."""

    ev = _source(spark, sf_dir, "events")
    x = F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date")).cast(
        "bigint"
    )
    y = F.floor(F.col("value") * 1000000).cast("bigint")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    # `div` truncates toward zero on decimals, matching DuckDB's
    # HUGEINT `/` — plain decimal `/` would round HALF_UP at its
    # result scale and disagree by 1 ulp on exact-half quotients
    slope = F.expr(
        "CAST(((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
        " * 1000000) div (CAST(n AS DECIMAL(38,0)) * sxx"
        " - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "sx",
        "sy",
        "sxy",
        "sxx",
        slope.alias("slope_ppm_per_day"),
    )


ORACLE_EVENTS_TREND = """
WITH q AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
         CAST(floor(value * 1000000) AS BIGINT) AS y
  FROM events
),
agg AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM q GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
       CAST(sy AS BIGINT) AS sy, CAST(sxy AS BIGINT) AS sxy,
       CAST(sxx AS BIGINT) AS sxx,
       CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
            // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
            AS BIGINT) AS slope_ppm_per_day
FROM agg
"""



def _q_docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-token-budget mix assembly: per source, keep hash-ordered
    documents while the running n_chars total stays within that
    source's budget. The cumulative sum runs two-level (local cumsum
    per (source, hash-bucket) + tiny carry-in offsets) so few-strata
    corpora do not serialize one sort per stratum; the oracle replays
    the equivalent single window."""
    from omop_etl_spark.operators.sampling import token_budget_sample

    docs = _source(spark, sf_dir, "documents")
    budgets = {"src0": 4000, "src1": 2500}
    out = token_budget_sample(
        docs, "source", "n_chars", budgets, default_budget=1500, buckets=16
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
    )


ORACLE_DOCS_TOKEN_BUDGET = """
WITH h AS (
  SELECT doc_id, source, n_chars,
         CAST(concat('0x', substr(md5(concat('budget|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
),
c AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY u, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM h
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c
WHERE cum_tokens <= CASE source WHEN 'src0' THEN 4000
                                WHEN 'src1' THEN 2500
                                ELSE 1500 END
"""



def _q_docs_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-to-ids training export: rank-4096 vocabulary (count DESC,
    term ASC — total order, so ids are engine-stable), OOV to 0,
    order preserved via posexplode + sort_array reassembly, all JVM.
    The gate reduces the id sequence to order-sensitive integers
    (sum of (pos+1)*id) so the driver hash verifies ORDER, not just
    membership, without comparing array formats across engines."""
    from omop_etl_spark.operators.chunking import build_vocab, encode_tokens

    docs = _spread_read(spark, sf_dir, "documents")
    vocab = build_vocab(docs, vocab_size=512)
    enc = encode_tokens(docs, vocab)
    pos_weighted = F.aggregate(
        F.zip_with(
            F.col("ids"),
            F.sequence(F.lit(1), F.size("ids")),
            lambda i, p: i.cast("bigint") * p.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return enc.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        F.aggregate(
            "ids", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
        ).alias("id_sum"),
        pos_weighted.alias("id_order_sum"),
        F.aggregate(
            "ids",
            F.lit(0).cast("bigint"),
            lambda a, x: a + F.when(x == 0, 1).otherwise(0).cast("bigint"),
        ).alias("n_oov"),
    )


ORACLE_DOCS_ENCODE = """
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(l, 1) AS pos, unnest(l) AS term
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS l
    FROM documents
  )
),
vocab AS (
  SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS token_id
  FROM (
    SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    ORDER BY cnt DESC, term ASC LIMIT 512
  )
),
enc AS (
  SELECT t.doc_id, t.pos, COALESCE(v.token_id, 0) AS tid
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(tid) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(pos AS BIGINT) * tid) AS BIGINT) AS id_order_sum,
       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM enc GROUP BY doc_id
"""



def _q_docs_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of dropping near-duplicates, assign each
    document weight 1/cluster_size (ppm-scaled integer) so a training
    loader can downweight repeated content without losing coverage —
    the reweighting alternative to survivor election. Cluster sizes
    come from the same connected components; the weight join is
    against a clusters-sized aggregate."""
    from omop_etl_spark.operators.cluster import assign_clusters
    from omop_etl_spark.operators.dedup import jaccard_pairs

    docs = _spread_read(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, n=3, threshold=0.8)
    clustered = assign_clusters(docs, pairs, id_col="doc_id")
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        # cluster-size frame is O(#docs) worst case (all-singleton
        # corpus) — no broadcast hint; AQE broadcasts only if it fits.
        clustered.join(sizes, "cluster_id")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.expr("1000000 div cluster_size").cast("bigint").alias("weight_ppm"),
        )
    )


def _oracle_soft_dedup_weights() -> str:
    # pairs via the gram-join identity (see ORACLE_JACCARD_PAIRS): the
    # all-pairs form is O(n^2) by shape and infeasible in DuckDB past
    # the driver SF; this form is value-identical.
    return f"""
WITH RECURSIVE sh AS MATERIALIZED ({_DUCK_SHINGLES}),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS ti
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia AS id_a, ib AS id_b
  FROM inter
  JOIN sz sa ON inter.ia = sa.doc_id
  JOIN sz sb ON inter.ib = sb.doc_id
  WHERE ti / CAST(sa.n + sb.n - ti AS DOUBLE) >= 0.8
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
),
clustered AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM clustered GROUP BY cluster_id
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(c.cluster_id AS BIGINT) AS cluster_id,
       CAST(s.cluster_size AS BIGINT) AS cluster_size,
       CAST(1000000 // s.cluster_size AS BIGINT) AS weight_ppm
FROM clustered c JOIN sizes s ON c.cluster_id = s.cluster_id
"""


def _q_docs_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-group sampling: exactly min(k, group size) docs per
    source, chosen by deterministic hash order — WindowGroupLimit
    keeps each map task's state at k rows per group before the
    shuffle, the same bounded-exchange shape as the KMV sketch."""
    from omop_etl_spark.operators.sampling import unit_hash

    docs = _source(spark, sf_dir, "documents")
    u = unit_hash("doc_id", "persrc")
    w = Window.partitionBy("source").orderBy(u.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "source",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


ORACLE_DOCS_PER_SOURCE_SAMPLE = """
WITH h AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(concat('persrc|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC) AS rn
  FROM h
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 10
"""



def _q_docs_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the full training-export chain a corpus
    team ships: quality gate (ws-token floor) -> exact dedup (min-id
    survivor) -> per-source token-budget selection -> sequence packing
    into ~2000-char bins -> vocabulary encoding with order-sensitive
    id checksums. Five operator families composed end-to-end, every
    stage deterministic, the whole chain replayed in one DuckDB query.
    Scale: the chain adds nothing beyond each stage's documented
    budget; the packing prefix-sum and budget cumsum are the only
    ordered stages, both running the stats-gated distributed path on
    large frames."""
    from omop_etl_spark.functions.text import token_count
    from omop_etl_spark.operators.chunking import build_vocab, encode_tokens
    from omop_etl_spark.operators.dedup import exact_dedup
    from omop_etl_spark.operators.sampling import pack_sequences, token_budget_sample

    from omop_etl_spark.conf import checkpoint as _ckpt

    docs = _spread_read(spark, sf_dir, "documents")
    gated = docs.filter(token_count("text") >= 10)
    deduped = exact_dedup(gated, keys=["text"], tiebreak=["doc_id"])
    picked = token_budget_sample(
        deduped, "source", "n_chars", {"src0": 5000, "src1": 4000},
        default_budget=3000, salt="mix", buckets=16,
    )
    # r17: packed is consumed THREE times below (build_vocab,
    # encode_tokens, the final bin join) and each consumer otherwise
    # re-executes the entire gate -> dedup-window -> budget-cumsum ->
    # packing-prefix-sum chain (6 source scans in the r17 audit).
    # Checkpoint the packed frame once; the chain's ordered stages run
    # exactly once.
    packed = pack_sequences(
        picked, "n_chars", order_col="doc_id", budget=2000
    ).transform(_ckpt)
    vocab = build_vocab(packed, vocab_size=256)
    enc = encode_tokens(packed, vocab)
    ord_sum = F.aggregate(
        F.zip_with(
            F.col("ids"),
            F.sequence(F.lit(1), F.size("ids")),
            lambda i, pp: i.cast("bigint") * pp.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return (
        packed.select("doc_id", "source", "n_chars", "bin_id")
        .join(enc, "doc_id")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("bin_id").cast("bigint").alias("bin_id"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            ord_sum.alias("id_order_sum"),
        )
    )


ORACLE_DOCS_TRAINING_EXPORT = r"""
WITH gated AS (
  SELECT doc_id, text, source, n_chars FROM documents
  WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) >= 10
),
dedup AS (
  SELECT g.* FROM gated g
  JOIN (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text) m
    ON g.doc_id = m.doc_id
),
hashed AS (
  SELECT *, CAST(concat('0x', substr(md5(concat('mix|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
              / 4294967296.0 AS u
  FROM dedup
),
cum AS (
  SELECT doc_id, text, source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY u, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
  FROM hashed
),
sel AS (
  SELECT doc_id, text, source, n_chars FROM cum
  WHERE ct <= CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 4000 ELSE 3000 END
),
packed AS (
  SELECT *, CAST(floor(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT)
            AS bin_id
  FROM sel
),
toks AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS term
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS l
    FROM packed
  )
),
vocab AS (
  SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS token_id
  FROM (
    SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    ORDER BY cnt DESC, term ASC LIMIT 256
  )
),
enc AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         SUM(CAST(t.pos AS BIGINT) * COALESCE(v.token_id, 0)) AS id_order_sum
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
  GROUP BY t.doc_id
)
SELECT CAST(p.doc_id AS BIGINT) AS doc_id, p.source,
       CAST(p.n_chars AS BIGINT) AS n_chars,
       CAST(p.bin_id AS BIGINT) AS bin_id,
       CAST(e.n_tokens AS BIGINT) AS n_tokens,
       CAST(e.id_order_sum AS BIGINT) AS id_order_sum
FROM packed p JOIN enc e ON p.doc_id = e.doc_id
"""



def _q_events_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time lookup: purchases joined to the user-state
    version (built from the user's NON-purchase activity) valid at the
    purchase instant. Contiguous SCD2 intervals make the interval join
    equivalent to a backward as-of on valid_from, so the plan is the
    union-window shape: one shuffle, no join node, no interval
    explode. The oracle replays the literal interval predicate — the
    equivalence is the thing being verified."""
    from omop_etl_spark.operators.temporal import scd2_from_changes, scd2_lookup

    ev = _source(spark, sf_dir, "events")
    dim = scd2_from_changes(
        ev.filter(F.col("event_type") != "purchase"),
        ["user_id"],
        "ts",
        ["event_type"],
        tiebreak=["event_id"],
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "version",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = scd2_lookup(purchases, dim, ["user_id"], "ts")
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("dim_state").alias("state"),
        F.col("dim_version").cast("bigint").alias("version"),
    )


ORACLE_EVENTS_SCD2_LOOKUP = """
WITH np AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE event_type <> 'purchase'
),
ch AS (
  SELECT user_id, ts AS valid_from, event_type AS state,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM np WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
),
dim AS (
  SELECT user_id, state, valid_from, version,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
  FROM ch
)
SELECT CAST(p.event_id AS BIGINT) AS event_id,
       CAST(p.user_id AS BIGINT) AS user_id,
       d.state, CAST(d.version AS BIGINT) AS version
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN dim d
  ON p.user_id = d.user_id
 AND d.valid_from <= p.ts
 AND (p.ts < d.valid_to OR d.valid_to IS NULL)
"""



def _q_events_missing_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap detection: hours in the corpus's [min, max] span
    with NO events for a type — the freshness/completeness check every
    ingestion pipeline needs. The hour spine is a sequence() over the
    1-row min/max aggregate (never the fact table), exploded to
    |types| x |hours| rows and anti-joined against observed hours;
    hour ids are integer epoch-hours so the frame is engine-exact."""

    from omop_etl_spark.conf import checkpoint as _ckpt

    ev = _source(spark, sf_dir, "events")
    hour_idx = F.floor(F.unix_timestamp(F.col("ts")) / 3600).cast("bigint")
    # r17: the hour bounds and the type set are exact functions of the
    # distinct (type, hour) frame (distinct preserves min/max and the
    # type set), which is |types| x |hours|-bounded — derive both from
    # it instead of re-scanning the fact (3 event scans -> 1).
    observed = (
        ev.select("event_type", hour_idx.alias("hour_idx"))
        .distinct()
        .transform(_ckpt)
    )
    bounds = observed.agg(
        F.min("hour_idx").alias("lo"), F.max("hour_idx").alias("hi")
    )
    types = observed.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour_idx")
    )
    return (
        spine.join(observed, ["event_type", "hour_idx"], "left_anti")
        .select("event_type", F.col("hour_idx").cast("bigint").alias("hour_idx"))
    )


ORACLE_EVENTS_MISSING_HOURS = """
WITH obs AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx
  FROM events
),
bounds AS (
  SELECT MIN(CAST(floor(epoch(ts) / 3600) AS BIGINT)) AS lo,
         MAX(CAST(floor(epoch(ts) / 3600) AS BIGINT)) AS hi
  FROM events
),
spine AS (
  SELECT t.event_type, u.h AS hour_idx
  FROM (SELECT DISTINCT event_type FROM events) t,
       bounds b, unnest(generate_series(b.lo, b.hi)) AS u(h)
)
SELECT s.event_type, CAST(s.hour_idx AS BIGINT) AS hour_idx
FROM spine s
WHERE NOT EXISTS (SELECT 1 FROM obs o
                  WHERE o.event_type = s.event_type
                    AND o.hour_idx = s.hour_idx)
"""



def _q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p01/p99 winsorization cutoffs per event type, computed on
    the distinct-value spine with the two-level bucketed cumsum
    (operators/stats.exact_quantile_cuts) — exact quantiles with no
    per-group sort of the rows. Output carries the cutoffs plus the
    clamped aggregate so the oracle verifies both the cut selection
    and its application."""
    from omop_etl_spark.operators.stats import exact_quantile_cuts

    ev = _source(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 1000000).cast("bigint").alias("vm")
    )
    # r17: both the cut selection and the clamped sum are functions of
    # the per-(type, value) count spine (the oracle's counts CTE) —
    # aggregate the raw frame once, checkpoint (the bucketed quantile
    # path reads its input twice: local cumsum + carry offsets; the
    # clamp is a third consumer), and weight the clamped sum by the
    # spine count instead of re-scanning raw rows (guide §2.3).
    # Size-gated since r18 (events at sf0.1 is 2 MiB — the duplicate
    # page-cached passes are cheaper than the materialization job;
    # at sf1+ the gate opens and r17's 100x-tier -41 % win applies).
    from omop_etl_spark.conf import checkpoint_if_large, path_bytes

    spine = (
        ev.groupBy("event_type", "vm")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(
            lambda d: checkpoint_if_large(
                d,
                size_hint=path_bytes(f"{sf_dir}/events.parquet"),
                min_bytes=4 * 1024 * 1024,
            )
        )
    )
    cuts = exact_quantile_cuts(
        spine, ["event_type"], "vm", [0.01, 0.99], bucket_width=1_000_000,
        count_col="c",
    )
    clamped = (
        spine.join(F.broadcast(cuts), "event_type")
        .select(
            "event_type",
            "n",
            "q_p01",
            "q_p99",
            (
                F.greatest(F.col("q_p01"), F.least(F.col("q_p99"), F.col("vm")))
                * F.col("c")
            ).alias("cv"),
        )
        .groupBy("event_type", "n", "q_p01", "q_p99")
        .agg(F.sum("cv").cast("bigint").alias("clamped_sum_micros"))
    )
    return clamped.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("q_p01").cast("bigint").alias("q_p01"),
        F.col("q_p99").cast("bigint").alias("q_p99"),
        "clamped_sum_micros",
    )


ORACLE_EVENTS_WINSORIZE = """
WITH q AS (
  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vm FROM events
),
counts AS (
  SELECT event_type, vm, COUNT(*) AS c FROM q GROUP BY event_type, vm
),
cum AS (
  SELECT event_type, vm, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY vm
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM counts
),
tot AS (SELECT event_type, SUM(c) AS n FROM counts GROUP BY event_type),
cuts AS (
  SELECT c.event_type, MAX(t.n) AS n,
         MIN(CASE WHEN c.cm >= floor((t.n - 1) * 0.01) + 1 THEN c.vm END) AS q_p01,
         MIN(CASE WHEN c.cm >= floor((t.n - 1) * 0.99) + 1 THEN c.vm END) AS q_p99
  FROM cum c JOIN tot t ON c.event_type = t.event_type
  GROUP BY c.event_type
)
SELECT q.event_type, CAST(cuts.n AS BIGINT) AS n,
       CAST(cuts.q_p01 AS BIGINT) AS q_p01,
       CAST(cuts.q_p99 AS BIGINT) AS q_p99,
       CAST(SUM(GREATEST(cuts.q_p01, LEAST(cuts.q_p99, q.vm))) AS BIGINT)
         AS clamped_sum_micros
FROM q JOIN cuts ON q.event_type = cuts.event_type
GROUP BY q.event_type, cuts.n, cuts.q_p01, cuts.q_p99
"""



def _q_part_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data golden records: fuzzy duplicate pairs (blocked
    Levenshtein) fold into connected components, and each entity
    cluster elects canonical attributes — min id as the record key,
    lexicographically-first name (a deterministic canonicalization
    rule), min retail price in cents, and the member count. The MDM
    composition: EXACT-collapse -> fuzzy match -> cluster -> merge.

    The exact-collapse stage is the scale fix the sf1 probe demanded:
    blocking keys (brand, first name word) have a bounded domain, so
    block SIZES grow linearly with SF and the within-block Levenshtein
    volume quadratically (measured 10.6x for 10x data on the
    duplicated-name probe corpus). Identical (name, brand) records are
    first collapsed to one representative (a hash aggregate — the
    exact_dedup shape), fuzzy matching runs over DISTINCT names only,
    and members rejoin their representative as zero-cost edges before
    CC — same clusters (same-name records are distance 0), compare
    volume O(distinct-names-per-block^2), which the value domain
    bounds."""
    from omop_etl_spark.operators.cluster import assign_clusters
    from omop_etl_spark.operators.fuzzy import fuzzy_self_match

    part = _source(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("pid"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        F.split(F.col("p_name"), " ")[0].alias("block"),
    )
    reps = part.groupBy("name", "brand", "block").agg(
        F.min("pid").alias("rep")
    )
    rep_pairs = fuzzy_self_match(
        reps, id_col="rep", text_col="name",
        block_on=["brand", "block"], max_distance=2,
    )
    member_edges = (
        part.join(reps.select("name", "brand", "rep"), ["name", "brand"])
        .filter(F.col("pid") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("pid").alias("id_b"))
    )
    pairs = rep_pairs.select("id_a", "id_b").unionByName(member_edges)
    clustered = assign_clusters(
        part.select("pid"), pairs, id_col="pid"
    ).join(part.select("pid", "name", "price_cents"), "pid")
    return (
        clustered.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("name").alias("canonical_name"),
            F.min("price_cents").alias("min_price_cents"),
        )
        .select(
            F.col("cluster_id").cast("bigint").alias("entity_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            "canonical_name",
            F.col("min_price_cents").cast("bigint").alias("min_price_cents"),
        )
    )


ORACLE_PART_GOLDEN_RECORDS = """
WITH RECURSIVE p AS (
  SELECT CAST(p_partkey AS BIGINT) AS pid, p_name AS name,
         p_brand AS brand,
         CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
         string_split(p_name, ' ')[1] AS block
  FROM part
),
pairs AS (
  SELECT a.pid AS id_a, b.pid AS id_b
  FROM p a JOIN p b
    ON a.pid < b.pid AND a.brand = b.brand AND a.block = b.block
   AND abs(length(a.name) - length(b.name)) <= 2
   AND levenshtein(a.name, b.name) <= 2
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT pid, pid FROM p
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
),
clustered AS (
  SELECT id AS pid, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT CAST(c.cluster_id AS BIGINT) AS entity_id,
       COUNT(*) AS n_members,
       MIN(p.name) AS canonical_name,
       CAST(MIN(p.price_cents) AS BIGINT) AS min_price_cents
FROM clustered c JOIN p ON c.pid = p.pid
GROUP BY c.cluster_id
"""



def _q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pairs over the order fact: brands co-purchased in
    at least min_support orders, with integer-ppm lift. Same A-priori
    shape as docs_cooccurrence but on the engine's largest fact table:
    part and the support-filtered item set both scale with the data, so
    neither join is hinted — AQE broadcasts them only while they fit;
    the (order, brand) distinct collapses line items map-side."""
    part = _source(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    li = _source(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    from omop_etl_spark.conf import checkpoint_if_large, path_bytes

    # baskets feeds dfreq, the support join, and the order count (3
    # consumers), fb both self-join sides (2) — checkpoint each once
    # so the lineitem-part join + distinct runs once, not three times
    # (r17 audit: 5 lineitem + 5 part scans in the uncheckpointed
    # plan). SIZE-GATED since r18 (VERDICT r17 #3): below the input
    # threshold (64 MiB of fact bytes; sf0.1 lineitem is 10 MiB, sf1
    # 103 MiB) the eager materialization job costs more than the
    # page-cached duplicate passes it removes (+0.6 s at sf0.01-0.1,
    # one of the round's two real local regressions); at the sf1+
    # tiers where the -24 % CPU / -15 % shuffle wins were measured,
    # the gate opens and the checkpoints run.
    _sz = path_bytes(f"{sf_dir}/lineitem.parquet", f"{sf_dir}/part.parquet")

    def _ckpt(d):
        return checkpoint_if_large(d, size_hint=_sz)

    baskets = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
        .transform(_ckpt)
    )
    dfreq = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("df"))
    frequent = dfreq.filter(F.col("df") >= 50)
    fb = baskets.join(frequent, "item").transform(_ckpt)
    a = fb.select("okey", F.col("item").alias("item_a"), F.col("df").alias("df_a"))
    b = fb.select(
        F.col("okey").alias("okey_b"),
        F.col("item").alias("item_b"),
        F.col("df").alias("df_b"),
    )
    n_orders = baskets.select("okey").distinct().agg(
        F.count(F.lit(1)).alias("__n")
    )
    pairs = (
        a.join(b, (F.col("okey") == F.col("okey_b")) & (F.col("item_a") < F.col("item_b")))
        .groupBy("item_a", "item_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= 50)
    )
    return pairs.crossJoin(F.broadcast(n_orders)).select(
        "item_a",
        "item_b",
        F.col("pair_count").cast("bigint").alias("pair_count"),
        F.col("df_a").cast("bigint").alias("df_a"),
        F.col("df_b").cast("bigint").alias("df_b"),
        # both sides pre-widened: __n * pair_count and df_a * df_b are
        # corpus-size x count products that wrap int64 long before the
        # x1e6 scaling does
        F.expr(
            ppm_div_sql(
                "CAST(__n AS DECIMAL(38,0)) * pair_count",
                "CAST(df_a AS DECIMAL(38,0)) * df_b",
            )
        ).alias("lift_ppm"),
    )


ORACLE_ORDERS_MARKET_BASKET = """
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
dfreq AS (SELECT item, COUNT(*) AS df FROM baskets GROUP BY item),
fb AS (
  SELECT b.okey, b.item, d.df FROM baskets b
  JOIN dfreq d ON b.item = d.item WHERE d.df >= 50
),
n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM baskets),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, a.df AS df_a, b.df AS df_b,
         COUNT(*) AS pair_count
  FROM fb a JOIN fb b ON a.okey = b.okey AND a.item < b.item
  GROUP BY a.item, b.item, a.df, b.df
  HAVING COUNT(*) >= 50
)
SELECT item_a, item_b, CAST(pair_count AS BIGINT) AS pair_count,
       CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
       CAST(n.n_orders * pair_count * 1000000 // (df_a * df_b) AS BIGINT) AS lift_ppm
FROM pairs, n
"""



def _q_corpus_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based vocabulary resemblance between every source pair:
    KMV k-minimum-values Jaccard estimation (operators/sketches.
    kmv_set_similarity) over per-source term sets. After the per-source
    sketch, every frame is sketch-sized (groups x k rows) — the pair
    count never touches the corpus — and the md5 hash makes the ppm
    estimates replay bit-for-bit in SQL. The exact-overlap sibling is
    corpus_source_overlap; this is the one that still runs when the
    vocabularies are billions of terms."""
    from omop_etl_spark.operators.sketches import kmv_set_similarity

    docs = _spread_read(spark, sf_dir, "documents")
    terms = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("term"),
    )
    return kmv_set_similarity(terms, "source", "term", k=128, salt="srcsim").select(
        "source_a", "source_b", "n_common", "jaccard_ppm"
    )


ORACLE_CORPUS_SOURCE_SIMILARITY = """
WITH terms AS (
  SELECT DISTINCT source, t AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
h AS (
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(concat('srcsim|', term)), 1, 8)) AS BIGINT)
           / 4294967296.0 AS h
  FROM terms
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= 128
),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
),
tagged AS (
  SELECT p.sa, p.sb, s.h,
         MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
  GROUP BY p.sa, p.sb, s.h
),
merged AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM tagged
  ) WHERE rn <= 128
)
SELECT sa AS source_a, sb AS source_b,
       CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
       CAST(SUM(in_a * in_b) * 1000000 // COUNT(*) AS BIGINT) AS jaccard_ppm
FROM merged GROUP BY sa, sb
"""



def _q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event type: median absolute deviation
    (exact, integer micros) instead of the z-score's mean/stddev, which
    outliers themselves corrupt. Composes exact_quantile_cuts twice —
    median of values, then median of absolute deviations — with each
    median computed on the distinct-value spine (no per-group row
    sort), and counts events beyond 5 MADs. All-integer, fully
    replayed by the oracle's window cumsums."""
    from omop_etl_spark.operators.stats import exact_quantile_cuts

    ev = _source(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 1000000).cast("bigint").alias("vm")
    )
    # r17: every downstream step is a function of the per-(type, value)
    # COUNT SPINE — the oracle's own c1 CTE — so aggregate the raw
    # events exactly once and run the median, the deviation spine, and
    # the outlier count as weighted arithmetic on it (guide §2.3
    # "aggregate before you shuffle"). The old shape re-read the raw
    # frame for each stage: 3 full scans + 2 full-data shuffles; this
    # is 1 scan + 1 shuffle + spine-sized work. The spine is consumed
    # by three branches, so it is materialized once (conf.checkpoint).
    # Size-gated since r18 (same rationale and threshold as
    # events_winsorize: +0.34 s at sf0.1 quiet, 100x win kept).
    from omop_etl_spark.conf import checkpoint_if_large, path_bytes

    spine = (
        ev.groupBy("event_type", "vm")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(
            lambda d: checkpoint_if_large(
                d,
                size_hint=path_bytes(f"{sf_dir}/events.parquet"),
                min_bytes=4 * 1024 * 1024,
            )
        )
    )
    med = exact_quantile_cuts(
        spine, ["event_type"], "vm", [0.5], count_col="c"
    ).select("event_type", F.col("q_p5").alias("med"))
    dev = spine.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("vm") - F.col("med")).alias("ad"), "vm", "c"
    )
    mad = exact_quantile_cuts(
        dev.select("event_type", "ad", "c"), ["event_type"], "ad", [0.5],
        count_col="c",
    ).select("event_type", F.col("q_p5").alias("mad"), "n")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad", "n")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("vm") - F.col("med")) > 5 * F.col("mad"), F.col("c")
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("med").cast("bigint").alias("med_micros"),
            F.col("mad").cast("bigint").alias("mad_micros"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
        )
    )


ORACLE_EVENTS_ANOMALY_MAD = """
WITH q AS (
  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vm FROM events
),
c1 AS (
  SELECT event_type, vm, COUNT(*) AS c FROM q GROUP BY event_type, vm
),
cum1 AS (
  SELECT event_type, vm, SUM(c) OVER (PARTITION BY event_type ORDER BY vm
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM c1
),
t1 AS (SELECT event_type, SUM(c) AS n FROM c1 GROUP BY event_type),
med AS (
  SELECT c.event_type, MAX(t.n) AS n,
         MIN(CASE WHEN c.cm >= floor((t.n - 1) * 0.5) + 1 THEN c.vm END) AS med
  FROM cum1 c JOIN t1 t ON c.event_type = t.event_type GROUP BY c.event_type
),
dev AS (
  SELECT q.event_type, m.n, m.med, abs(q.vm - m.med) AS ad, q.vm
  FROM q JOIN med m ON q.event_type = m.event_type
),
c2 AS (
  SELECT event_type, ad, COUNT(*) AS c FROM dev GROUP BY event_type, ad
),
cum2 AS (
  SELECT event_type, ad, SUM(c) OVER (PARTITION BY event_type ORDER BY ad
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM c2
),
t2 AS (SELECT event_type, SUM(c) AS n FROM c2 GROUP BY event_type),
mad AS (
  SELECT c.event_type,
         MIN(CASE WHEN c.cm >= floor((t.n - 1) * 0.5) + 1 THEN c.ad END) AS mad
  FROM cum2 c JOIN t2 t ON c.event_type = t.event_type GROUP BY c.event_type
)
SELECT d.event_type, CAST(d.n AS BIGINT) AS n,
       CAST(d.med AS BIGINT) AS med_micros,
       CAST(m.mad AS BIGINT) AS mad_micros,
       CAST(SUM(CASE WHEN abs(d.vm - d.med) > 5 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, d.n, d.med, m.mad
"""



def _q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: counts of consecutive
    (event_type -> next event_type) steps per user session stream, with
    integer-ppm transition probabilities. One lead() window per user
    (user partitions scale out), one hash aggregate; probabilities are
    div-truncated integers so the matrix hashes across engines."""

    ev = _source(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "user_id", "ts", "event_id", F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    counts = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_steps"))
    totals = counts.groupBy("src").agg(F.sum("n_steps").alias("n_from"))
    return (
        counts.join(F.broadcast(totals), "src")
        .select(
            "src",
            "dst",
            F.col("n_steps").cast("bigint").alias("n_steps"),
            F.col("n_from").cast("bigint").alias("n_from"),
            F.expr(ppm_div_sql("n_steps", "n_from")).alias("prob_ppm"),
        )
    )


ORACLE_EVENTS_TRANSITIONS = """
WITH steps AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
counts AS (
  SELECT src, dst, COUNT(*) AS n_steps FROM steps
  WHERE dst IS NOT NULL GROUP BY src, dst
),
totals AS (SELECT src, SUM(n_steps) AS n_from FROM counts GROUP BY src)
SELECT c.src, c.dst, CAST(c.n_steps AS BIGINT) AS n_steps,
       CAST(t.n_from AS BIGINT) AS n_from,
       CAST(c.n_steps * 1000000 // t.n_from AS BIGINT) AS prob_ppm
FROM counts c JOIN totals t ON c.src = t.src
"""


def _q_docs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document (in doc_id ingestion order),
    the fraction of its distinct terms never seen in any earlier
    document — the diminishing-returns signal dataset curators watch
    when deciding whether more of a source is worth ingesting.
    First-occurrence attribution is a min(doc_id)-per-term aggregate
    joined back (never a window over the corpus); the fraction is
    integer ppm."""
    docs = _spread_read(spark, sf_dir, "documents")
    terms = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
                )
            )
        ).alias("term"),
    )
    first = terms.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    return (
        terms.join(first, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint")).alias(
                "n_novel"
            ),
        )
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("n_terms").cast("bigint").alias("n_terms"),
            F.col("n_novel").cast("bigint").alias("n_novel"),
            F.expr("(n_novel * 1000000) div n_terms").alias("novelty_ppm"),
        )
    )


ORACLE_DOCS_NOVELTY = """
WITH terms AS (
  SELECT DISTINCT doc_id, t AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
first AS (SELECT term, MIN(doc_id) AS first_doc FROM terms GROUP BY term)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       COUNT(*) AS n_terms,
       CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS novelty_ppm
FROM terms t JOIN first f ON t.term = f.term
GROUP BY t.doc_id
"""


def _q_supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of supplier revenue: rank suppliers by
    revenue and report each one's cumulative share (ppm) — the 80/20
    check behind procurement risk. The heavy work is one fact
    aggregate; the per-supplier aggregate is still SF-LINEAR (~1B
    suppliers in the 100 TB narrative), so the global rank + running
    sum come from operators/rank.ranked_running_sum — the
    range-repartition + broadcast-prefix-offset decomposition (stats-
    gated: single-partition window only below 64 MiB, same policy as
    planner/surrogate.with_surrogate_id; the distributed path itself
    is pinned and value-tested in tests/test_rank.py). The ppm scaling
    rides decimal(38,0) `div` — exact integral quotient matching the
    oracle's hugeint `//`, where an int64 `cum * 1e6` would wrap once
    total revenue passes ~9e12 cents (~sf0.5)."""
    from omop_etl_spark.operators.rank import ranked_running_sum

    li = _source(spark, sf_dir, "lineitem")
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "bigint"
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_cents"))
    ranked = ranked_running_sum(
        per_supp,
        [F.col("rev_cents").desc(), F.col("l_suppkey").asc()],
        "rev_cents",
        rank_col="rev_rank",
        cum_col="__cum",
    )
    total = per_supp.agg(F.sum("rev_cents").alias("__t"))
    return ranked.crossJoin(F.broadcast(total)).select(
        F.col("l_suppkey").cast("bigint").alias("suppkey"),
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.col("rev_rank"),
        F.expr(
            "CAST(__cum AS DECIMAL(38,0)) * 1000000 div CAST(__t AS DECIMAL(38,0))"
        ).alias("cum_share_ppm"),
    )


ORACLE_SUPPLIER_PARETO = """
WITH per_supp AS (
  SELECT l_suppkey,
         SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev_cents
  FROM lineitem GROUP BY l_suppkey
),
t AS (SELECT SUM(rev_cents) AS total FROM per_supp)
SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
       CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(row_number() OVER (ORDER BY rev_cents DESC, l_suppkey ASC) AS BIGINT) AS rev_rank,
       CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_suppkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
            // t.total AS BIGINT) AS cum_share_ppm
FROM per_supp, t
"""



def _q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent rollup: each nation's ppm share of its region's
    revenue. The fact aggregates once to nation grain; the
    share window then partitions over the 25-row dimension aggregate —
    the windows-over-aggregates discipline that keeps hierarchy
    reports cheap at any fact size. The ppm numerator widens to
    DECIMAL(38,0) before the *1e6 scale-up: a region's cents sum
    crosses int64/1e6 (~9.2e12 cents ≈ $92B) at roughly sf10, where
    the bigint product overflowed under ANSI mode (caught by the r16
    sf10 value sweep; DuckDB escaped via HUGEINT). The share itself
    always fits bigint (<= 1e6)."""
    nation = _source(spark, sf_dir, "nation")
    region = _source(spark, sf_dir, "region")
    cust = _source(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = _source(spark, sf_dir, "orders")
    per_nation = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev_cents"
            )
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_name", "r_name", "rev_cents")
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.expr(
            "CAST((CAST(rev_cents AS DECIMAL(38,0)) * 1000000)"
            " div sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)"
        ).alias("region_share_ppm"),
    )


ORACLE_NATION_REVENUE_SHARE = """
WITH per_nation AS (
  SELECT n.n_name AS nation, r.r_name AS region,
         SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name, r.r_name
)
SELECT nation, region, CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(rev_cents * 1000000 // SUM(rev_cents) OVER (PARTITION BY region)
            AS BIGINT) AS region_share_ppm
FROM per_nation
"""


def _q_docs_char_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source (alpha / digit /
    whitespace / other, integer ppm) — the cheapest corpus-health
    profile there is: four regexp_replace length subtractions, pure
    JVM, one dimension-sized aggregate."""
    docs = _source(spark, sf_dir, "documents")
    n = F.length("text").cast("bigint")
    alpha = (n - F.length(F.regexp_replace(F.col("text"), "[A-Za-z]", ""))).cast(
        "bigint"
    )
    digit = (n - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))).cast(
        "bigint"
    )
    space = (n - F.length(F.regexp_replace(F.col("text"), r"\s", ""))).cast("bigint")
    agg = docs.groupBy("source").agg(
        F.sum(n).alias("n_chars"),
        F.sum(alpha).alias("n_alpha"),
        F.sum(digit).alias("n_digit"),
        F.sum(space).alias("n_space"),
    )
    return agg.select(
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        # per-source corpus character tallies reach ~1e14 at 100 TB —
        # squarely past the int64 x1e6 cliff, hence DECIMAL(38,0)
        F.expr(ppm_div_sql("n_alpha", "n_chars")).alias("alpha_ppm"),
        F.expr(ppm_div_sql("n_digit", "n_chars")).alias("digit_ppm"),
        F.expr(ppm_div_sql("n_space", "n_chars")).alias("space_ppm"),
    )


ORACLE_DOCS_CHAR_CLASSES = r"""
WITH agg AS (
  SELECT source, SUM(length(text)) AS n_chars,
         SUM(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS n_alpha,
         SUM(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS n_digit,
         SUM(length(text) - length(regexp_replace(text, '\s', '', 'g'))) AS n_space
  FROM documents GROUP BY source
)
SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_alpha * 1000000 // n_chars AS BIGINT) AS alpha_ppm,
       CAST(n_digit * 1000000 // n_chars AS BIGINT) AS digit_ppm,
       CAST(n_space * 1000000 // n_chars AS BIGINT) AS space_ppm
FROM agg
"""



# ---------------------------------------------------------------------------
# contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full ETL pipeline (mapping phase + wide select with
    joins) over sf0.001."""
    return _run_etl(spark, "/root/testdata/sf0.001", [ETL_COPY], "person_copy")



# ---------------------------------------------------------------------------
# remaining classic decision-support shapes (TPC-H Q2/Q11/Q15/Q18/Q20/Q22,
# adapted to the available columns: no partsupp table, so supply-cost /
# stock facts derive from lineitem)


def _q_part_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated per-part MIN decorrelated to a window
    rank. For every 'bolt' part, the EUROPE supplier with the lowest
    average sale price (from lineitem, integer cents; avg compared as
    floor(sum/cnt) — exact int division semantics in both engines).
    The rank-1 cut is a row_number window partitioned by p_partkey —
    per-part, so parallelism scales with |part|, no low-cardinality
    window trap. Ties break on s_suppkey. Supplier/nation filters are
    semi-reductions before the aggregate; nation/region are bounded
    dims (broadcast-safe by construction, left to AQE anyway)."""
    sup = (
        _source(spark, sf_dir, "supplier")
        .join(
            _source(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _source(spark, sf_dir, "region").filter(
                F.col("r_name") == "EUROPE"
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    li = _source(spark, sf_dir, "lineitem")
    offers = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "__sum_c"
            ),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .withColumn(
            "avg_price_cents",
            F.floor(F.col("__sum_c") / F.col("__cnt")).cast("bigint"),
        )
    )
    part = _source(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("avg_price_cents").asc(), F.col("l_suppkey").asc()
    )
    best = (
        offers.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return best.select(
        F.col("p_partkey").cast("bigint").alias("p_partkey"),
        "p_name",
        F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
        "s_name",
        "n_name",
        "avg_price_cents",
    )


ORACLE_PART_MIN_COST_SUPPLIER = """
WITH sup AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT l_partkey, l_suppkey,
         CAST(floor(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    / COUNT(*)) AS BIGINT) AS avg_price_cents
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.n_name,
         o.avg_price_cents,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY o.avg_price_cents, o.l_suppkey) AS rn
  FROM offers o
  JOIN sup s ON o.l_suppkey = s.s_suppkey
  JOIN part p ON o.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '%bolt%'
)
SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
       CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
       avg_price_cents
FROM ranked WHERE rn = 1
"""


def _q_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a SCALAR
    threshold derived from the global total (HAVING sum > f * total).
    Value facts come from lineitem restricted to NATION_1 suppliers.
    The global total is a 1-row frame — the one broadcast that stays
    correct at any SF. The threshold compare is integer arithmetic
    (value * 1000 > total): no division, bit-identical everywhere."""
    li = _source(spark, sf_dir, "lineitem")
    sup = (
        _source(spark, sf_dir, "supplier")
        .join(
            _source(spark, sf_dir, "nation").filter(
                F.col("n_name") == "NATION_1"
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    cents = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    base = li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    per_part = base.groupBy("l_partkey").agg(
        F.sum(cents).cast("bigint").alias("value_cents")
    )
    total = base.agg(F.sum(cents).cast("bigint").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("__total"))
        .select(
            F.col("l_partkey").cast("bigint").alias("p_partkey"),
            "value_cents",
        )
        .orderBy(F.col("value_cents").desc(), F.col("p_partkey"))
    )


ORACLE_PART_VALUE_CONCENTRATION = """
WITH base AS (
  SELECT l_partkey, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1'
  )
)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
       CAST(SUM(cents) AS BIGINT) AS value_cents
FROM base
GROUP BY l_partkey
HAVING SUM(cents) * 1000 > (SELECT SUM(cents) FROM base)
ORDER BY value_cents DESC, p_partkey
"""


def _q_top_supplier_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view joined to its own MAX — the
    argmax-by-aggregate pattern. Per-supplier revenue over 1996Q1; the
    supplier(s) achieving the maximum. The max is a 1-row frame
    (broadcast-safe at any SF); the revenue agg shuffles once on
    l_suppkey and is consumed by both the max and the equality join
    without a second scan of lineitem."""
    li = _source(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "bigint"
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(rev).cast("bigint").alias("total_cents")
    )
    mx = per_supp.agg(F.max("total_cents").alias("__mx"))
    sup = _source(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("total_cents") == F.col("__mx"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            "total_cents",
        )
        .orderBy("s_suppkey")
    )


ORACLE_TOP_SUPPLIER_QUARTER = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_cents
FROM per_supp
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_cents = (SELECT MAX(total_cents) FROM per_supp)
ORDER BY s_suppkey
"""


def _q_orders_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregate, joined BACK to
    the dimension chain. Orders whose total line quantity exceeds 300
    units, with their customer. The per-order aggregate shrinks
    lineitem to |orders| rows BEFORE any join (quantities are integral
    doubles, so the sum is exact); the join-back is agg-to-orders on
    the same key the aggregate shuffled on."""
    li = _source(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = _source(spark, sf_dir, "orders")
    c = _source(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("c_custkey").cast("bigint").alias("c_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("total_cents"),
            "sum_qty",
        )
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey"))
    )


ORACLE_ORDERS_LARGE_VOLUME = """
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderdate,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents, sum_qty
FROM (
  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey
"""


def _q_supplier_dominant_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain with a correlated
    per-part threshold. A supplier 'dominates' a part when it shipped
    more than 30% of that part's total 1996 quantity; count dominated
    parts per EUROPE supplier. The per-(part,supp) and per-part
    aggregates share one shuffle ancestry (partial agg on the finer
    key, re-agg to the coarser), the threshold join is per-part
    agg-to-agg with integer arithmetic (qty*10 > total*3 — no
    division), and only suppliers surviving the count filter join the
    dimension chain."""
    li = _source(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("bigint").alias("supp_qty")
    )
    pt = sp.groupBy("l_partkey").agg(
        F.sum("supp_qty").cast("bigint").alias("part_qty")
    )
    dom = sp.join(pt, "l_partkey").filter(
        F.col("supp_qty") * 10 > F.col("part_qty") * 3
    )
    per_supp = dom.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_dominated")
    )
    sup = (
        _source(spark, sf_dir, "supplier")
        .join(
            _source(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _source(spark, sf_dir, "region").filter(
                F.col("r_name") == "EUROPE"
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        per_supp.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            "n_name",
            F.col("n_dominated").cast("bigint").alias("n_dominated"),
        )
        .orderBy(F.col("n_dominated").desc(), F.col("s_suppkey"))
    )


ORACLE_SUPPLIER_DOMINANT_PARTS = """
WITH li AS (
  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
),
sp AS (
  SELECT l_partkey, l_suppkey, CAST(SUM(l_quantity) AS BIGINT) AS supp_qty
  FROM li GROUP BY 1, 2
),
pt AS (
  SELECT l_partkey, CAST(SUM(supp_qty) AS BIGINT) AS part_qty
  FROM sp GROUP BY 1
),
dom AS (
  SELECT sp.l_suppkey, COUNT(*) AS n_dominated
  FROM sp JOIN pt USING (l_partkey)
  WHERE sp.supp_qty * 10 > pt.part_qty * 3
  GROUP BY 1
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
       CAST(n_dominated AS BIGINT) AS n_dominated
FROM dom
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
ORDER BY n_dominated DESC, s_suppkey
"""


def _q_cust_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-scalar threshold (average positive
    account balance) + anti-join against the fact table, grouped by
    nation (the phone-country-code stand-in). 'Dormant' = no order
    since 1999-01-01 (in this testdata every customer has SOME order,
    so the classic no-orders-ever anti-join would be vacuous).
    Balances sum as exact integer cents; the threshold compare
    'cents * cnt > sum' is pure integer arithmetic — no division,
    bit-identical in every engine. The anti-join probes the
    date-filtered orders on o_custkey (filter pushed to the scan);
    the threshold frame is one row."""
    c = _source(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100).cast("bigint")
    pos = c.filter(F.col("c_acctbal") > 0)
    thr = pos.agg(
        F.sum(cents).cast("bigint").alias("__sum"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    o = (
        _source(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = (
        pos.crossJoin(F.broadcast(thr))
        .filter(cents * F.col("__cnt") > F.col("__sum"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        rich.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(cents).cast("bigint").alias("bal_cents"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
            "n_custs",
            "bal_cents",
        )
        .orderBy("c_nationkey")
    )


ORACLE_CUST_DORMANT_RICH = """
WITH pos AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer WHERE c_acctbal > 0
),
thr AS (SELECT SUM(cents) AS s, COUNT(*) AS n FROM pos)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       COUNT(*) AS n_custs,
       CAST(SUM(cents) AS BIGINT) AS bal_cents
FROM pos, thr
WHERE pos.cents * thr.n > thr.s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = pos.c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY 1
ORDER BY 1
"""



# ---------------------------------------------------------------------------
# r07 corpus additions: asymmetric containment dedup, OOV-rate profiling,
# per-source quality calibration


def _q_docs_containment_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (operators/dedup.
    containment_pairs): |A∩B|/|A| >= 0.8 — catches a short document
    quoted inside a long one, which Jaccard misses (the union is
    dominated by the long side). Candidates are prefix-filtered on the
    contained side only (recall exactly 1), verified on exact string
    shingle sets; the oracle replays the brute-force definition."""
    from omop_etl_spark.operators.dedup import containment_pairs

    docs = _spread_read(spark, sf_dir, "documents")
    return containment_pairs(docs, n=3, threshold=0.8).select(
        F.col("contained_id").cast("bigint").alias("contained_id"),
        F.col("container_id").cast("bigint").alias("container_id"),
        "containment",
    )


# Exact containment via the same gram-join identity as
# ORACLE_JACCARD_PAIRS (see that comment): the r10 all-pairs form
# (sh a JOIN sh b ON a.doc_id <> b.doc_id) is O(n^2) by shape and
# infeasible in DuckDB at sf1; the join-count form is O(sum df^2) and
# value-identical — directions recovered by emitting each unordered
# intersect count under both orientations.
ORACLE_DOCS_CONTAINMENT_DUP = f"""
WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
e AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
inter AS MATERIALIZED (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS ti
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
oriented AS (
  SELECT ia, ib, ti FROM inter
  UNION ALL
  SELECT ib, ia, ti FROM inter
)
SELECT CAST(oriented.ia AS BIGINT) AS contained_id,
       CAST(oriented.ib AS BIGINT) AS container_id,
       round(ti / CAST(sa.n AS DOUBLE), 6) AS containment
FROM oriented JOIN sz sa ON oriented.ia = sa.doc_id
WHERE ti / CAST(sa.n AS DOUBLE) >= 0.8
"""


def _q_docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus top-500
    vocabulary — the 'will my tokenizer cover this source' profile.
    Vocabulary rank is (count DESC, term ASC) — a total order, so the
    top-500 cut is engine-stable; the OOV rate is integer ppm. The
    vocab frame is 500 rows by construction (broadcast-safe at any
    SF); token counts aggregate map-side before either join."""
    docs = _spread_read(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("term"),
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("__tf"))
    # top-500 via TakeOrderedAndProject (distributed per-task top-k +
    # driver merge), NOT a global row_number window (which would be a
    # single-task sort over the whole vocabulary at scale)
    vocab = (
        tf.orderBy(F.col("__tf").desc(), F.col("term").asc())
        .limit(500)
        .select("term")
    )
    per_src = (
        toks.join(F.broadcast(vocab.withColumn("__in", F.lit(1))), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return per_src.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        F.floor(F.col("n_oov") * 1000000 / F.col("n_tokens"))
        .cast("bigint")
        .alias("oov_ppm"),
    ).orderBy("source")


ORACLE_DOCS_OOV_RATE = """
WITH toks AS (
  SELECT source, t AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tf
  ) WHERE rk <= 500
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE term NOT IN (SELECT term FROM vocab)) AS BIGINT) AS n_oov,
       CAST(floor(COUNT(*) FILTER (WHERE term NOT IN (SELECT term FROM vocab)) * 1000000.0
            / COUNT(*)) AS BIGINT) AS oov_ppm
FROM toks GROUP BY source ORDER BY source
"""


def _q_docs_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score calibration of document length — cross-source
    outlier scoring where each source supplies its own scale (a 2000-
    char doc is normal for 'web', an outlier for 'chat'). The z-score
    is computed engine-exactly: with integer x, n, sum, sumsq the
    numerator (x*n - sum)*1000 is exact, the variance term
    n*sumsq - sum^2 is exact, and sqrt + one division are both
    IEEE-exactly-rounded — floor() of the result is bit-identical in
    every engine, no libm dependence. The per-source moment frame is
    |sources| rows (bounded); docs join it broadcast."""
    docs = _spread_read(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("bigint")
    mom = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__s"),
        F.sum(x * x).alias("__ss"),
    )
    j = docs.join(F.broadcast(mom), "source")
    num = (x * F.col("__n") - F.col("__s")) * 1000
    var_term = F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
    z_milli = F.when(var_term > 0, F.floor(num / F.sqrt(var_term))).otherwise(
        F.lit(0)
    )
    return j.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        x.alias("n_chars"),
        z_milli.cast("bigint").alias("z_milli"),
    ).orderBy("doc_id")


ORACLE_DOCS_QUALITY_CALIBRATED = """
WITH mom AS (
  SELECT source, COUNT(*) AS n,
         SUM(CAST(n_chars AS BIGINT)) AS s,
         SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS ss
  FROM documents GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source,
       CAST(d.n_chars AS BIGINT) AS n_chars,
       CAST(CASE WHEN m.n * m.ss - m.s * m.s > 0
                 THEN floor((CAST(d.n_chars AS BIGINT) * m.n - m.s) * 1000
                            / sqrt(m.n * m.ss - m.s * m.s))
                 ELSE 0 END AS BIGINT) AS z_milli
FROM documents d JOIN mom m ON d.source = m.source
ORDER BY doc_id
"""



# ---------------------------------------------------------------------------
# r07 second half: triangle counting, burst dedup, per-group weighted sample


def _copurchase_pairs(
    spark: SparkSession, sf_dir: str, min_n: int = 2, with_count: bool = False
) -> DataFrame:
    """Shared co-purchase edge builder for the part-graph gates
    (triangle / communities / BFS / weighted SSSP): parts co-ordered
    in >= ``min_n`` orders, as (u, v) with u < v — plus the co-order
    count ``n`` when ``with_count`` (the SSSP gate's edge weight).

    JOIN-FREE formulation: one ``collect_set`` per order (map-side
    partial, ONE shuffle of the fact) and the ordered pairs expand
    from the sorted basket array in codegen — where the old
    distinct + self-join spent a second full exchange of the fact
    plus a hash join. Identical output (A/B'd: same 3,573 edges at
    sf0.1; cold 4.4s -> 3.0s and one fewer exchange — the part that
    matters at 100 TB). Per-order expansion is basket-size-squared,
    the same bounded contract the self-join had."""
    li = _source(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    baskets = li.groupBy("ok").agg(F.sort_array(F.collect_set("p")).alias("bk"))
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(bk, (x, i) -> "
                "transform(slice(bk, i + 2, size(bk)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("pr")
    )
    counted = (
        pairs.groupBy(F.col("pr.u").alias("u"), F.col("pr.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_n)
    )
    return counted if with_count else counted.select("u", "v")


def _q_parts_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-purchase graph
    (operators/graph.count_triangles): parts are connected when
    co-ordered in >= 2 orders; triangles measure clustering in the
    basket structure. The count uses degree-ordered edge orientation —
    every out-neighborhood is O(sqrt(E)) on power-law graphs, so the
    wedge join's fan-out stays flat where a naive enumeration would
    square the hub degree. The oracle replays the u<v naive
    formulation (exact, feasible at oracle scale). Edges come from
    the join-free shared builder (`_copurchase_pairs`)."""
    from omop_etl_spark.operators.graph import count_triangles

    return count_triangles(_copurchase_pairs(spark, sf_dir), "u", "v")


ORACLE_PARTS_TRIANGLE_COUNT = """
WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
pairs AS (
  SELECT a.p AS u, c.p AS v, COUNT(*) AS n
  FROM b a JOIN b c ON a.ok = c.ok AND a.p < c.p
  GROUP BY 1, 2
),
e AS (SELECT u, v FROM pairs WHERE n >= 2)
SELECT
  CAST((SELECT COUNT(*) FROM (SELECT DISTINCT x FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e))) AS BIGINT) AS n_nodes,
  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT COUNT(*) FROM e e1
        JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS BIGINT) AS n_triangles
"""


def _q_events_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry burst dedup (operators/temporal.burst_dedup): per
    (user, event_type), an event re-firing within 10 minutes of its
    predecessor is chain-noise; only the first event of every burst
    survives. One lag window per key — a single hash shuffle, no join,
    no cumsum. Reports per-type survivor counts (the raw survivor set
    is row-heavy; counts prove the same rows survived in both
    engines together with min/max id checksums)."""
    from omop_etl_spark.operators.temporal import burst_dedup

    ev = _source(spark, sf_dir, "events")
    kept = burst_dedup(
        ev, ["user_id", "event_type"], "ts", "10 minutes", tiebreak=["event_id"]
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_BURST_DEDUP = """
WITH lagged AS (
  SELECT event_type, event_id,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts,
         ts
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM lagged
WHERE prev_ts IS NULL OR ts >= prev_ts + INTERVAL 10 MINUTE
GROUP BY event_type ORDER BY event_type
"""


def _q_docs_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sample (operators/sampling.
    weighted_sample_per_group): 8 docs per source, longer docs
    proportionally more often — priority sampling's w/u key per group,
    so the per-group rank cut is one exactly-rounded IEEE division
    (engine-stable, no libm) and the plan is a WindowGroupLimit
    partial top-k: exchange volume O(sources * 8) regardless of corpus
    size."""
    from omop_etl_spark.operators.sampling import weighted_sample_per_group

    docs = _source(spark, sf_dir, "documents")
    return (
        weighted_sample_per_group(docs, "source", 8, "n_chars")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
        .orderBy("source", "doc_id")
    )


ORACLE_DOCS_WEIGHTED_PER_SOURCE = """
WITH pri AS (
  SELECT doc_id, source, n_chars,
         CAST(n_chars AS DOUBLE)
           / (CAST(concat('0x', substr(md5(concat('wgroup|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
               / 4294967296.0) AS p
  FROM documents WHERE n_chars > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY p DESC, doc_id) AS rk
  FROM pri
)
WHERE rk <= 8
ORDER BY source, doc_id
"""



def _q_orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC materialization (operators/temporal.apply_cdc): a synthetic
    insert/update/delete change log over orders — derived by key
    arithmetic so both engines build the identical log — collapses to
    final table state with one row_number window per key: highest
    sequence wins, a winning delete removes the key, arrival order is
    irrelevant. The gate emits the full final state (keys, status,
    cents) so the oracle hash covers every surviving row."""
    from omop_etl_spark.operators.temporal import apply_cdc

    o = _source(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
    )
    ins = base.select(
        "k", F.lit(1).alias("seq"), F.lit("I").alias("op"), "status", "cents"
    )
    upd = base.filter(F.col("k") % 2 == 0).select(
        "k",
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.lit("U").alias("status"),
        (F.col("cents") + 500).alias("cents"),
    )
    dels = base.filter(F.col("k") % 9 == 0).select(
        "k",
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("bigint").alias("cents"),
    )
    changes = ins.unionByName(upd).unionByName(dels)
    return apply_cdc(changes, ["k"], "seq").select(
        F.col("k").cast("bigint").alias("o_orderkey"), "status", "cents"
    )


ORACLE_ORDERS_CDC_APPLY = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 = 0
),
changes AS (
  SELECT k, 1 AS seq, 'I' AS op, status, cents FROM base
  UNION ALL
  SELECT k, 2, 'U', 'U', cents + 500 FROM base WHERE k % 2 = 0
  UNION ALL
  SELECT k, 3, 'D', NULL, NULL FROM base WHERE k % 9 = 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM changes
)
SELECT CAST(k AS BIGINT) AS o_orderkey, status, cents
FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def _q_cust_balance_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 dimension upsert (operators/temporal.upsert — the MERGE
    INTO shape): customers who ordered in 1999+ get their balance
    replaced by their latest order's total (key-unique via a max
    aggregate); everyone else keeps the base row. One left-anti join
    plus a union — both sides shuffle once on the key, no full-outer
    null folding."""
    from omop_etl_spark.operators.temporal import upsert

    c = _source(spark, sf_dir, "customer")
    target = c.select(
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
        F.lit("base").alias("src"),
    )
    o = _source(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    updates = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.max(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "bal_cents"
            )
        )
        .withColumn("src", F.lit("order"))
    )
    return upsert(target, updates, ["k"]).select(
        F.col("k").cast("bigint").alias("c_custkey"), "bal_cents", "src"
    )


ORACLE_CUST_BALANCE_UPSERT = """
WITH target AS (
  SELECT c_custkey AS k,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
         'base' AS src
  FROM customer
),
updates AS (
  SELECT o_custkey AS k,
         MAX(CAST(floor(o_totalprice * 100) AS BIGINT)) AS bal_cents,
         'order' AS src
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
  GROUP BY 1
)
SELECT CAST(k AS BIGINT) AS c_custkey, bal_cents, src FROM (
  SELECT * FROM target WHERE k NOT IN (SELECT k FROM updates)
  UNION ALL
  SELECT * FROM updates
)
"""



def _q_sketch_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (operators/sketches.cm_sketch_counts
    / cm_estimate): 4x256 integer counters over every term occurrence
    in the corpus, probed with the exact top-10 terms. Cells are SUMS
    (partition-order independent, unlike SpaceSaving-family heavy-
    hitter state), so the estimate is a pure function of the data and
    DuckDB replays the identical sketch; the exact count rides along
    so the oracle also certifies the CM >= exact upper-bound property.
    Sketch state is O(depth*width) however large the corpus — the
    probe join broadcasts a 1024-row frame."""
    from omop_etl_spark.operators.sketches import cm_estimate, cm_sketch_counts

    docs = _spread_read(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("term")
    )
    from omop_etl_spark.conf import checkpoint as _ckpt

    # r17: the exact term-count frame (vocabulary-bounded) feeds the
    # top-10 probe set, the final join-back, AND — via the count_col
    # path — the sketch itself: cells are SUMS over the multiset, so
    # accumulating the per-term counts builds the identical sketch in
    # one vocabulary pass. The corpus tokenize runs ONCE (was 6 scans:
    # 2 tokenizes x 3 consumers in the r17 audit). A size gate was
    # tried here in r18 (VERDICT r17 #3 flagged +1.2 s at sf0.01) and
    # REVERTED on a valid in-session toggle A/B: with the r17
    # count_col structure in place the checkpoint WINS at both small
    # tiers (sf0.01 skip 1.50 vs ckpt 1.28 s; sf0.1 1.61 vs 1.49) —
    # the 3-consumer fan-out re-tokenizes 3x without it, so the r17
    # small-tier regression vs r16 was the structure change, not the
    # checkpoint.
    exact = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("exact_count")
    ).transform(_ckpt)
    top = exact.orderBy(F.col("exact_count").desc(), F.col("term")).limit(10)
    sk = cm_sketch_counts(
        exact, "term", depth=4, width=256, count_col="exact_count"
    )
    est = cm_estimate(sk, top.select("term"), "term", depth=4, width=256)
    return (
        est.join(top, "term")
        .select(
            "term",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("est_count").cast("bigint").alias("est_count"),
        )
        .orderBy(F.col("exact_count").desc(), F.col("term"))
    )


ORACLE_SKETCH_TERM_COUNTS = """
WITH terms AS (
  SELECT t AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
exact AS (SELECT term, COUNT(*) AS exact_count FROM terms GROUP BY 1),
top AS (SELECT term, exact_count FROM exact ORDER BY exact_count DESC, term LIMIT 10),
cells AS (
  SELECT r.r AS row,
         CAST(CAST(concat('0x', substr(md5(concat('cm|', CAST(r.r AS VARCHAR), '|', term)), 1, 8)) AS BIGINT) % 256 AS INT) AS bucket
  FROM terms, (SELECT unnest(range(4)) AS r) r
),
sk AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
probes AS (
  SELECT t.term AS pterm, r.r AS row,
         CAST(CAST(concat('0x', substr(md5(concat('cm|', CAST(r.r AS VARCHAR), '|', t.term)), 1, 8)) AS BIGINT) % 256 AS INT) AS bucket
  FROM top t, (SELECT unnest(range(4)) AS r) r
)
SELECT p.pterm AS term,
       CAST(t.exact_count AS BIGINT) AS exact_count,
       CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_count
FROM probes p
JOIN top t ON p.pterm = t.term
LEFT JOIN sk ON p.row = sk.row AND p.bucket = sk.bucket
GROUP BY p.pterm, t.exact_count
ORDER BY exact_count DESC, term
"""


def _q_docs_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination SEVERITY (operators/contamination.
    contamination_spans): per document, contiguous runs of
    benchmark-overlapping 5-grams — the same doc_id %% 17 stand-in
    benchmark and n as the `docs_decontaminate` gate, so the two views
    compose: that one flags, this one grades. Runs fold with the
    islands trick over only the FLAGGED positions."""
    from omop_etl_spark.operators.contamination import contamination_spans

    docs = _spread_read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return contamination_spans(docs, bench, n=5).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_flagged_grams",
        "n_spans",
        "max_run_grams",
    )


ORACLE_DOCS_CONTAMINATION_SPANS = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pg AS (SELECT doc_id, CASE WHEN len(toks) >= 5
    THEN list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))
    ELSE [array_to_string(toks, ' ')] END AS gl FROM tok),
g AS (SELECT doc_id, unnest(gl) AS gram, generate_subscripts(gl, 1) AS pos FROM pg),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
fl AS (SELECT g.doc_id, g.pos FROM g JOIN bench USING (gram)),
isl AS (SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
        FROM fl),
runs AS (SELECT doc_id, i, COUNT(*) AS rl FROM isl GROUP BY 1, 2),
agg AS (SELECT doc_id, SUM(rl) AS nf, COUNT(*) AS ns, MAX(rl) AS mr
        FROM runs GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(a.nf, 0) AS BIGINT) AS n_flagged_grams,
       CAST(COALESCE(a.ns, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(a.mr, 0) AS BIGINT) AS max_run_grams
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _q_docs_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out description-length influence per source
    (operators/contamination.source_influence): each source's exact
    marginal contribution to the corpus unigram code length under the
    integer bits-cost schedule (length(bin(c)) — no libm anywhere),
    plus its vocabulary monopoly. The data-valuation complement to the
    pairwise TV drift gate: global marginal, one term-keyed join, no
    pairwise blow-up."""
    from omop_etl_spark.operators.contamination import source_influence

    docs = _spread_read(spark, sf_dir, "documents")
    return source_influence(docs)


ORACLE_DOCS_SOURCE_INFLUENCE = """
WITH toks AS (
  SELECT source AS src,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
),
tc AS (SELECT src, term, CAST(COUNT(*) AS BIGINT) AS cs
       FROM toks GROUP BY 1, 2),
gc AS (SELECT term, CAST(SUM(cs) AS BIGINT) AS c FROM tc GROUP BY 1)
SELECT src AS source,
       CAST(SUM(cs) AS BIGINT) AS n_tokens,
       CAST(SUM(c * (48 - length(bin(c)))
                - CASE WHEN c - cs > 0
                       THEN (c - cs) * (48 - length(bin(c - cs)))
                       ELSE 0 END) AS BIGINT) AS influence_bits,
       CAST(SUM(CASE WHEN c = cs THEN 1 ELSE 0 END) AS BIGINT) AS monopoly_terms,
       CAST(SUM(CASE WHEN c = cs THEN cs ELSE 0 END) AS BIGINT) AS monopoly_mass
FROM tc JOIN gc USING (term)
GROUP BY 1
"""


def _q_corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between per-source term
    DISTRIBUTIONS — the distribution-shift monitor for a training mix
    ('has the web slice drifted from the books slice?').

    Exactness: with integer counts, TV over a source pair folds to
    ``1 + (1/2) * sum_shared(|pa - pb| - pa - pb)`` — only SHARED
    terms contribute (the absent-term mass is implied by totals), so
    one inner self-join on the term key suffices and the whole
    numerator is cross-multiplied integer arithmetic
    (``|ca*nb - cb*na| - ca*nb - cb*na``); floor-ppm after the single
    final division is bit-identical in every engine, no logs (a JS/KL
    variant would ride on libm ln). Source pairs sharing no terms
    densify from the bounded source-totals cross join (TV = 1).
    Overflow headroom: the per-term cross-products ``ca*nb`` stay in
    int64 up to ~3e9-token sources (they are < na*nb). The final ppm
    scaling runs in DOUBLE on both engines — the int64 form
    ``(2*na*nb + s) * 1000000`` would wrap silently once na*nb
    exceeds ~4.6e12 (sources of only ~2M tokens), so numerator and
    denominator are cast to double BEFORE the 1e6 multiply, matching
    the oracle's ``* 1000000.0``. floor() of the double ratio is
    engine-identical; past ~3e9-token sources move the per-term
    products to decimal(38,0) (same arithmetic, exact)."""
    from omop_etl_spark.conf import checkpoint as _ckpt

    docs = _spread_read(spark, sf_dir, "documents")
    # r17: tc feeds the totals frame and BOTH self-join sides (3
    # consumers); the explode upstream defeats ReuseExchange, so
    # without the eager checkpoint each consumer re-runs the corpus
    # tokenize + explode + count (6 source scans in the r17 audit) —
    # same pattern as token_cooccurrence's basket checkpoint.
    tc = (
        docs.select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(_ckpt)
    )
    totals = tc.groupBy("source").agg(F.sum("c").alias("n"))
    a = tc.select(
        F.col("source").alias("src_a"), "term", F.col("c").alias("ca")
    )
    b = tc.select(
        F.col("source").alias("src_b"), "term", F.col("c").alias("cb")
    )
    contrib = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(
            F.broadcast(
                totals.select(
                    F.col("source").alias("src_a"), F.col("n").alias("na")
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                totals.select(
                    F.col("source").alias("src_b"), F.col("n").alias("nb")
                )
            ),
            "src_b",
        )
        .groupBy("src_a", "src_b", "na", "nb")
        .agg(
            F.sum(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
                - F.col("ca") * F.col("nb")
                - F.col("cb") * F.col("na")
            ).alias("__s")
        )
        .select(
            "src_a",
            "src_b",
            F.floor(
                (2 * F.col("na") * F.col("nb") + F.col("__s")).cast("double")
                * 1000000.0
                / (2 * F.col("na") * F.col("nb")).cast("double")
            )
            .cast("bigint")
            .alias("tv_ppm"),
        )
    )
    all_pairs = (
        totals.select(F.col("source").alias("src_a"))
        .crossJoin(totals.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    return (
        all_pairs.join(contrib, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce("tv_ppm", F.lit(1000000)).cast("bigint").alias("tv_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


ORACLE_CORPUS_SOURCE_DRIFT = """
WITH tc AS (
  SELECT source, t AS term, COUNT(*) AS c
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
  GROUP BY 1, 2
),
totals AS (SELECT source, SUM(c) AS n FROM tc GROUP BY 1),
contrib AS (
  SELECT a.source AS src_a, b.source AS src_b, ta.n AS na, tb.n AS nb,
         SUM(ABS(a.c * tb.n - b.c * ta.n) - a.c * tb.n - b.c * ta.n) AS s
  FROM tc a
  JOIN tc b ON a.term = b.term AND a.source < b.source
  JOIN totals ta ON a.source = ta.source
  JOIN totals tb ON b.source = tb.source
  GROUP BY 1, 2, 3, 4
),
all_pairs AS (
  SELECT ta.source AS src_a, tb.source AS src_b
  FROM totals ta JOIN totals tb ON ta.source < tb.source
)
SELECT p.src_a, p.src_b,
       CAST(COALESCE(
         floor((2 * c.na * c.nb + c.s) * 1000000.0 / (2 * c.na * c.nb)),
         1000000) AS BIGINT) AS tv_ppm
FROM all_pairs p
LEFT JOIN contrib c ON p.src_a = c.src_a AND p.src_b = c.src_b
ORDER BY 1, 2
"""



def _q_docs_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent 5 terms per source (stopword-free profile of what
    each slice is about). The per-group top-k is a row_number window
    over the aggregated (source, term) counts — WindowGroupLimit
    pushes the cut into each map task, so exchange volume is
    O(sources * k) over the ALREADY-aggregated frame, never the
    corpus. Rank order (count DESC, term ASC) is total, so the cut is
    engine-stable."""
    docs = _spread_read(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        tc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("source", "rk")
    )


ORACLE_DOCS_TOP_TERMS_PER_SOURCE = """
WITH tc AS (
  SELECT source, t AS term, COUNT(*) AS n
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
  GROUP BY 1, 2
)
SELECT source, CAST(rk AS BIGINT) AS rk, term, CAST(n AS BIGINT) AS n
FROM (
  SELECT source, term, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rk
  FROM tc
)
WHERE rk <= 5
ORDER BY source, rk
"""


def _q_orders_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag semantics — the set-op family member
    `set_ops_customers` doesn't exercise): per-customer 1996 order
    rows minus 1997 order rows, SURPLUS-preserved (a customer with
    three 1996 orders and one 1997 order contributes two rows).
    Expressed as exceptAll, which Spark plans as a count-difference
    generate — one aggregate per side, no row_number over the fact.
    The result aggregates to per-customer surplus counts so the gate
    stays value-dense."""
    o = _source(spark, sf_dir, "orders")
    yr = lambda y: (  # noqa: E731
        o.filter(F.year("o_orderdate") == y).select(
            F.col("o_custkey").cast("bigint").alias("custkey")
        )
    )
    return (
        yr(1996)
        .exceptAll(yr(1997))
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("surplus"))
        .orderBy("custkey")
    )


ORACLE_ORDERS_EXCEPT_ALL = """
WITH a AS (
  SELECT o_custkey AS custkey, COUNT(*) AS ca FROM orders
  WHERE year(o_orderdate) = 1996 GROUP BY 1
),
b AS (
  SELECT o_custkey AS custkey, COUNT(*) AS cb FROM orders
  WHERE year(o_orderdate) = 1997 GROUP BY 1
)
SELECT CAST(a.custkey AS BIGINT) AS custkey,
       CAST(a.ca - COALESCE(b.cb, 0) AS BIGINT) AS surplus
FROM a LEFT JOIN b ON a.custkey = b.custkey
WHERE a.ca - COALESCE(b.cb, 0) > 0
ORDER BY custkey
"""


def _q_events_latest_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-3-versions-per-key retention (the 'keep the last k
    snapshots' data-management primitive): per (user, event_type),
    the 3 most recent events by (ts, event_id). Compiles to a
    WindowGroupLimit partial top-k — every map task keeps <= 3 rows
    per key before the exchange. Summarized per type (count + id sum)
    to keep the gate row-light while hashing every survivor."""

    ev = _source(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    kept = (
        ev.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 3)
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_LATEST_K = """
WITH ranked AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM ranked WHERE rk <= 3
GROUP BY event_type ORDER BY event_type
"""


def _q_docs_encode_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword (BPE) encoding of the corpus against the fixed
    DEFAULT_MERGES table — the id stream an LLM actually trains on
    (VERDICT r7 #5; the whitespace vocab/encode path in chunking.py is
    the word-level precursor).

    Scale shape (operators/bpe.py): Python touches only the DISTINCT
    word frame (Arrow-batched pandas UDF, vocabulary-sized); the token
    stream, join-back, and per-doc assembly are pure JVM. The oracle
    replays the identical lowest-rank/left-to-right merge semantics in
    DuckDB with a recursive CTE over separator-delimited symbol
    strings — a full-value independent check of the encode, not a
    fixture replay. first_ids (the first 8 token ids in document
    order) pins sequence ORDER; n_tokens/ids_sum pin the multiset."""
    from omop_etl_spark.operators.bpe import encode_documents

    docs = _spread_read(spark, sf_dir, "documents")
    enc = encode_documents(docs)
    flat = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "token_ids"))),
            lambda s: s.token_ids,
        )
    )
    return enc.groupBy(F.col("doc_id").cast("bigint").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.size("token_ids")).cast("bigint").alias("n_tokens"),
        F.sum(
            F.aggregate(
                "token_ids", F.lit(0).cast("bigint"), lambda acc, x: acc + x
            )
        )
        .cast("bigint")
        .alias("ids_sum"),
        F.array_join(F.slice(flat, 1, 8), ",").alias("first_ids"),
    )


def _oracle_docs_encode_bpe() -> str:
    """Recursive-CTE BPE replay: same merges table, same
    lowest-rank-first selection (arg_min over applicable merges), same
    all-occurrences left-to-right replace (SQL replace() over
    '|'-delimited symbol strings), same vocab ids."""
    from omop_etl_spark.operators.bpe import DEFAULT_MERGES, bpe_vocab

    merges_rows = ", ".join(
        f"({rank}, '|{a}|{b}|', '|{a + b}|')"
        for rank, (a, b) in enumerate(DEFAULT_MERGES)
    )
    vocab_rows = ", ".join(
        f"('{sym}', {vid})" for sym, vid in bpe_vocab(DEFAULT_MERGES).items()
    )
    return f"""
WITH RECURSIVE
merges(rank, pat, rep) AS (VALUES {merges_rows}),
vocab(sym, id) AS (VALUES {vocab_rows}),
words AS (
  SELECT doc_id, t.w AS word, t.i AS pos
  FROM documents,
       (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w,
               generate_subscripts(
                 regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS i) t
  WHERE t.w <> ''
),
winit AS (
  SELECT word, '|' || array_to_string(string_split(word, ''), '|') || '|' AS s
  FROM (SELECT DISTINCT word FROM words) w0
),
enc AS (
  SELECT word, s FROM winit
  UNION ALL
  SELECT word, replace(s, arg_min(pat, rank), arg_min(rep, rank)) AS s
  FROM (SELECT e.word, e.s, m.pat, m.rep, m.rank
        FROM enc e JOIN merges m ON contains(e.s, m.pat)) t
  GROUP BY word, s
),
final AS (
  SELECT word, s FROM enc e
  WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE contains(e.s, m.pat))
),
wsyms AS (
  SELECT word, syms, unnest(generate_series(1, len(syms))) AS si
  FROM (SELECT word, string_split(trim(s, '|'), '|') AS syms FROM final) t
),
wenc AS (
  SELECT w.word, COUNT(*) AS n_tok, SUM(v.id) AS id_sum,
         string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY w.si) AS ids_str
  FROM wsyms w JOIN vocab v ON v.sym = w.syms[w.si]
  GROUP BY w.word
)
SELECT CAST(ws.doc_id AS BIGINT) AS doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(we.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(we.id_sum) AS BIGINT) AS ids_sum,
       array_to_string(
         (string_split(string_agg(we.ids_str, ',' ORDER BY ws.pos), ','))[1:8],
         ',') AS first_ids
FROM words ws JOIN wenc we ON ws.word = we.word
GROUP BY ws.doc_id
"""


def _q_docs_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source — tokens-per-word and
    chars-per-token, the go/no-go numbers for a tokenizer against a
    corpus slice (high fertility on one source = that slice trains
    expensively). Integer ppm ratios via `div` (exact in both
    engines); the encode reuses the distinct-word BPE path of
    docs_encode_bpe, so Python cost is vocabulary-sized."""
    from omop_etl_spark.operators.bpe import encode_documents

    docs = _spread_read(spark, sf_dir, "documents")
    enc = encode_documents(docs)
    j = enc.join(docs.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("word_chars"),
            F.sum(F.size("token_ids")).cast("bigint").alias("n_tokens"),
        )
        .select(
            "source",
            "n_words",
            "word_chars",
            "n_tokens",
            # per-source corpus token/char tallies — DECIMAL(38,0)
            # before the x1e6 scaling (the r16 overflow class)
            F.expr(ppm_div_sql("n_tokens", "n_words")).alias(
                "tokens_per_word_ppm"
            ),
            F.expr(ppm_div_sql("word_chars", "n_tokens")).alias(
                "chars_per_token_ppm"
            ),
        )
    )


def _oracle_docs_bpe_fertility() -> str:
    from omop_etl_spark.operators.bpe import DEFAULT_MERGES, bpe_vocab

    merges_rows = ", ".join(
        f"({rank}, '|{a}|{b}|', '|{a + b}|')"
        for rank, (a, b) in enumerate(DEFAULT_MERGES)
    )
    vocab_rows = ", ".join(
        f"('{sym}', {vid})" for sym, vid in bpe_vocab(DEFAULT_MERGES).items()
    )
    return f"""
WITH RECURSIVE
merges(rank, pat, rep) AS (VALUES {merges_rows}),
vocab(sym, id) AS (VALUES {vocab_rows}),
words AS (
  SELECT doc_id, t.w AS word
  FROM documents,
       (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w) t
  WHERE t.w <> ''
),
winit AS (
  SELECT word, '|' || array_to_string(string_split(word, ''), '|') || '|' AS s
  FROM (SELECT DISTINCT word FROM words) w0
),
enc AS (
  SELECT word, s FROM winit
  UNION ALL
  SELECT word, replace(s, arg_min(pat, rank), arg_min(rep, rank)) AS s
  FROM (SELECT e.word, e.s, m.pat, m.rep, m.rank
        FROM enc e JOIN merges m ON contains(e.s, m.pat)) t
  GROUP BY word, s
),
final AS (
  SELECT word, s FROM enc e
  WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE contains(e.s, m.pat))
),
wenc AS (
  SELECT word, len(string_split(trim(s, '|'), '|')) AS n_tok FROM final
),
agg AS (
  SELECT d.source,
         COUNT(*) AS n_words,
         SUM(length(ws.word)) AS word_chars,
         SUM(we.n_tok) AS n_tokens
  FROM words ws
  JOIN wenc we ON ws.word = we.word
  JOIN documents d ON ws.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(word_chars AS BIGINT) AS word_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((n_tokens * 1000000) // n_words AS BIGINT) AS tokens_per_word_ppm,
       CAST((word_chars * 1000000) // n_tokens AS BIGINT) AS chars_per_token_ppm
FROM agg
"""


def _q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type value quantiles (p50/p90/p99, discrete) via the
    histogram decomposition — per-(type, cent-value) counts first, a
    cumulative window over that VALUE-DOMAIN-bounded frame second, a
    conditional-min third. Never sorts facts inside a per-type
    reducer: the naive `row_number() OVER (PARTITION BY type ORDER BY
    value)` puts N/|types| rows in one task — the same single-reducer
    cliff the global-window ban exists for, partitioned edition. Rank
    indices are pure integer arithmetic (floor(p*(n-1))+1 as
    (k*(n-1))//d + 1), so both engines pick the identical element."""
    ev = _source(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("bigint")
    hist = ev.groupBy("event_type", vc.alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    j = cum.join(F.broadcast(tot), "event_type")

    def idx(k: int, d: int):
        return (F.lit(k) * (F.col("n") - 1)) / F.lit(d)

    def pick(k: int, d: int):
        i = F.floor(idx(k, d)).cast("bigint") + 1
        return F.min(F.when(F.col("cum") >= i, F.col("v")))

    return (
        j.groupBy("event_type", "n")
        .agg(
            pick(1, 2).cast("bigint").alias("p50_cents"),
            pick(9, 10).cast("bigint").alias("p90_cents"),
            pick(99, 100).cast("bigint").alias("p99_cents"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "p50_cents",
            "p90_cents",
            "p99_cents",
        )
    )


ORACLE_EVENTS_VALUE_QUANTILES = """
WITH hist AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
tot AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1)
SELECT c.event_type,
       CAST(t.n AS BIGINT) AS n,
       CAST(MIN(CASE WHEN c.cum >= (1 * (t.n - 1)) // 2 + 1 THEN c.v END)
            AS BIGINT) AS p50_cents,
       CAST(MIN(CASE WHEN c.cum >= (9 * (t.n - 1)) // 10 + 1 THEN c.v END)
            AS BIGINT) AS p90_cents,
       CAST(MIN(CASE WHEN c.cum >= (99 * (t.n - 1)) // 100 + 1 THEN c.v END)
            AS BIGINT) AS p99_cents
FROM cum c JOIN tot t ON c.event_type = t.event_type
GROUP BY c.event_type, t.n
"""


def _q_docs_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing by REAL tokenizer cost: per-doc BPE token
    counts (docs_encode_bpe's path) fed into
    sampling.pack_sequences with a 512-token budget — the exact
    doc->training-sequence step, now measured in the unit the trainer
    bills in. Bin assignment is the ordered exclusive prefix sum
    (stats-gated distributed decomposition above the size
    threshold)."""
    from omop_etl_spark.operators.bpe import encode_documents
    from omop_etl_spark.operators.sampling import pack_sequences

    docs = _spread_read(spark, sf_dir, "documents")
    per_doc = (
        encode_documents(docs)
        .groupBy("doc_id")
        .agg(F.sum(F.size("token_ids")).cast("bigint").alias("bpe_tokens"))
    )
    packed = pack_sequences(
        per_doc, cost_col="bpe_tokens", order_col="doc_id", budget=512
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("bpe_tokens").cast("bigint").alias("bin_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


def _oracle_docs_pack_bpe() -> str:
    from omop_etl_spark.operators.bpe import DEFAULT_MERGES, bpe_vocab

    merges_rows = ", ".join(
        f"({rank}, '|{a}|{b}|', '|{a + b}|')"
        for rank, (a, b) in enumerate(DEFAULT_MERGES)
    )
    vocab_rows = ", ".join(
        f"('{sym}', {vid})" for sym, vid in bpe_vocab(DEFAULT_MERGES).items()
    )
    return f"""
WITH RECURSIVE
merges(rank, pat, rep) AS (VALUES {merges_rows}),
vocab(sym, id) AS (VALUES {vocab_rows}),
words AS (
  SELECT doc_id, t.w AS word
  FROM documents,
       (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w) t
  WHERE t.w <> ''
),
winit AS (
  SELECT word, '|' || array_to_string(string_split(word, ''), '|') || '|' AS s
  FROM (SELECT DISTINCT word FROM words) w0
),
enc AS (
  SELECT word, s FROM winit
  UNION ALL
  SELECT word, replace(s, arg_min(pat, rank), arg_min(rep, rank)) AS s
  FROM (SELECT e.word, e.s, m.pat, m.rep, m.rank
        FROM enc e JOIN merges m ON contains(e.s, m.pat)) t
  GROUP BY word, s
),
final AS (
  SELECT word, s FROM enc e
  WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE contains(e.s, m.pat))
),
wenc AS (
  SELECT word, len(string_split(trim(s, '|'), '|')) AS n_tok FROM final
),
per_doc AS (
  SELECT ws.doc_id, SUM(we.n_tok) AS bpe_tokens
  FROM words ws JOIN wenc we ON ws.word = we.word
  GROUP BY ws.doc_id
),
packed AS (
  SELECT doc_id, bpe_tokens,
         COALESCE(SUM(bpe_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM per_doc
)
SELECT CAST(FLOOR(cum / CAST(512 AS DOUBLE)) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(bpe_tokens) AS BIGINT) AS bin_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY 1
"""


def _q_events_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running spend that RESETS at each signup event — the
    counter-reset / statement-close cumulative pattern
    (operators/temporal.segmented_cumsum: inclusive reset-count window
    defines the segment, a second window partitioned by (user, seg)
    does the sum; both windows partitioned, never global). Integer
    cents keep the running sum engine-exact."""
    from omop_etl_spark.operators.temporal import segmented_cumsum

    ev = _source(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
        (F.col("event_type") == "signup").alias("is_reset"),
    )
    out = segmented_cumsum(
        base,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="vc",
        reset_col="is_reset",
    )
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("seg"),
        F.col("cum"),
    )


ORACLE_EVENTS_RESET_CUMSUM = """
WITH e AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS vc,
         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS r
  FROM events
),
s AS (
  SELECT event_id, user_id, ts, vc,
         SUM(r) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM e
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(seg AS BIGINT) AS seg,
       CAST(SUM(vc) OVER (PARTITION BY user_id, seg ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum
FROM s
"""


def _q_events_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-4 core of the user<->event-type bipartite graph after 3
    peel rounds (operators/graph.kcore_peel) — the dense-engagement
    subgraph ('users active across >=4 surfaces, surfaces with such
    users'). Fixed round count keeps the result an exact function of
    the input; the oracle unrolls the same 3 rounds as CTEs, like the
    PageRank gate. Each round: one degree aggregate + two semi-joins,
    all hash equi-joins."""
    from omop_etl_spark.operators.graph import kcore_peel

    ev = _source(spark, sf_dir, "events")
    fwd = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    core = kcore_peel(edges, k=4, rounds=3)
    return (
        core.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .orderBy("node")
    )


def _oracle_events_kcore(k: int = 4, rounds: int = 3) -> str:
    step = """
k{i} AS (SELECT src FROM (SELECT src, COUNT(*) AS c FROM e{p} GROUP BY src) d
         WHERE c >= {k}),
e{i} AS (SELECT e.src, e.dst FROM e{p} e
         JOIN k{i} a ON e.src = a.src
         JOIN k{i} b ON e.dst = b.src)"""
    chain = ",".join(
        step.format(i=i + 1, p=i, k=k) for i in range(rounds)
    )
    return f"""
WITH fwd AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
                  't' || event_type AS dst
  FROM events
),
e0 AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
{chain}
SELECT src AS node, COUNT(*) AS deg
FROM e{rounds}
GROUP BY src
ORDER BY node
"""


def _q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase attributed to the same
    user's most recent click within 7 days (click at the same
    timestamp counts — the deterministic tie order is (ts, click <
    purchase, event_id)). One partitioned carry-forward window over
    the union of clicks and purchases — the as-of pattern with zero
    join nodes; microsecond integers keep gaps engine-exact."""
    # ts is TIMESTAMP_NTZ in the parquet; pin the session to UTC so the
    # NTZ->LTZ cast (required by unix_micros) is epoch-identical to the
    # oracle's naive epoch_us (conf-set guarded: an unchanged set still
    # invalidates cached plan state).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _source(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kf"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kf", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lc = F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    out = (
        base.withColumn("__lc", lc)
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "__lc_in",
            F.when(
                F.col("__lc") >= F.expr("ts - INTERVAL 7 DAYS"), F.col("__lc")
            ),
        )
    )
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros("__lc_in").alias("last_click_us"),
        (F.unix_micros("ts") - F.unix_micros("__lc_in")).alias("gap_us"),
    )


ORACLE_EVENTS_ATTRIBUTION = """
WITH base AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kf
  FROM events
  WHERE event_type IN ('click', 'purchase')
),
carried AS (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, kf, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
  FROM base
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(epoch_us(CASE WHEN lc >= ts - INTERVAL 7 DAY THEN lc END)
            AS BIGINT) AS last_click_us,
       CAST(epoch_us(ts) - epoch_us(CASE WHEN lc >= ts - INTERVAL 7 DAY
                                         THEN lc END) AS BIGINT) AS gap_us
FROM carried
WHERE event_type = 'purchase'
"""



def _q_sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user cardinality via a HyperLogLog
    sketch over a PUBLIC hash (operators/sketches.hll_registers) — the
    mergeable counterpart to `sketch_distinct_users`'s KMV: registers
    merge with element-wise MAX, so 1000 executors can sketch 100 TB
    and combine state in one O(groups * 4096)-row shuffle. Every
    output column is exactly integral (the raw estimator is ONE exact
    decimal(38,0) integer division; the linear-counting branch rides
    the floor-scaled-micro pattern of unigram_logprob_scores), so the
    DuckDB oracle replays sketch AND estimate bit-for-bit."""
    from omop_etl_spark.operators.sketches import hll_estimate, hll_registers

    ev = _source(spark, sf_dir, "events")
    regs = hll_registers(ev, ["event_type"], "user_id")
    return hll_estimate(regs, ["event_type"])


_HLL_NUM = 7213 * 4096 * 4096 * 4096 * (1 << 61)
_HLL_DEN_ALPHA = 10000 * 4096 + 10790

ORACLE_SKETCH_HLL_USERS = f"""
WITH h AS (
  SELECT event_type, md5(concat('hll|', CAST(user_id AS VARCHAR))) AS hx
  FROM events
),
parts AS (
  SELECT event_type,
         CAST(concat('0x', substr(hx, 1, 3)) AS BIGINT) AS bucket,
         regexp_replace(substr(hx, 4, 15), '^0+', '') AS stripped
  FROM h
),
rho AS (
  SELECT event_type, bucket,
         CASE WHEN stripped = '' THEN 61
              ELSE (15 - length(stripped)) * 4
                   + CASE WHEN substr(stripped, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 0
                          WHEN substr(stripped, 1, 1) IN ('4','5','6','7') THEN 1
                          WHEN substr(stripped, 1, 1) IN ('2','3') THEN 2
                          ELSE 3 END + 1 END AS rho
  FROM parts
),
regs AS (SELECT event_type, bucket, MAX(rho) AS register FROM rho GROUP BY 1, 2),
agg AS (
  SELECT event_type,
         COUNT(*) AS n_present,
         SUM(register) AS reg_sum,
         SUM(CAST((CAST(1 AS BIGINT) << (61 - register)) AS HUGEINT)) AS ssum
  FROM regs GROUP BY 1
),
est AS (
  SELECT event_type,
         CAST(n_present AS BIGINT) AS n_present,
         CAST(4096 - n_present AS BIGINT) AS v_empty,
         CAST(reg_sum AS BIGINT) AS reg_sum,
         CAST(CAST('{_HLL_NUM}' AS HUGEINT) //
              ({_HLL_DEN_ALPHA} * (ssum + (4096 - n_present) * CAST('{1 << 61}' AS HUGEINT)))
              AS BIGINT) AS est_raw
  FROM agg
)
SELECT event_type, n_present, v_empty, reg_sum, est_raw,
       CASE WHEN v_empty > 0
            THEN 4096 * CAST(floor(ln(4096.0 / v_empty) * 1000000) AS BIGINT)
       END AS est_lc_micro,
       CASE WHEN v_empty > 0 AND est_raw * 2 <= 5 * 4096
            THEN 4096 * CAST(floor(ln(4096.0 / v_empty) * 1000000) AS BIGINT)
            ELSE est_raw * 1000000 END AS est_micro
FROM est
"""


def _q_docs_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram log-probability per document under the corpus's own
    bigram LM (operators/chunking.bigram_surprisal_scores) — the
    transition-aware quality signal unigram perplexity misses:
    shuffled/garbled text has common words in rare ORDERS. Per-bigram-
    type logprob is floor-scaled to bigint once; per-doc accumulation
    is an exact integer sum."""
    from omop_etl_spark.operators.chunking import bigram_surprisal_scores

    docs = _spread_read(spark, sf_dir, "documents")
    return bigram_surprisal_scores(docs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_bigrams",
        "sum_lp_micro",
        "mean_logprob",
    )


ORACLE_DOCS_BIGRAM_SURPRISAL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS tk
  FROM documents
),
pairs AS (
  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
  FROM toks, LATERAL unnest(range(1, greatest(len(tk), 1))) AS r(i)
),
bg_tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pairs GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, SUM(tf) AS c12 FROM bg_tf GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
logp AS (
  SELECT c12.w1, c12.w2,
         CAST(floor(ln(c12 / CAST(c1 AS DOUBLE)) * 1000000) AS BIGINT) AS lp
  FROM c12 JOIN c1 ON c12.w1 = c1.w1
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(SUM(t.tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(t.tf * l.lp) AS BIGINT) AS sum_lp_micro,
       round(SUM(t.tf * l.lp) / (SUM(t.tf) * 1000000.0), 6) AS mean_logprob
FROM bg_tf t JOIN logp l ON t.w1 = l.w1 AND t.w2 = l.w2
GROUP BY t.doc_id
"""


def _q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-likely mean-shift day per event type by the CUSUM statistic
    (operators/temporal.cusum_changepoints) — drift detection on the
    ingestion-volume series. Facts aggregate to a daily grain FIRST, so
    the per-type window state is days, not events; the scaled deviation
    `n*prefix - t*total` is pure int64, bit-identical in any engine."""
    from omop_etl_spark.operators.temporal import cusum_changepoints

    ev = _source(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return cusum_changepoints(daily, ["event_type"], "day", "cnt").select(
        "event_type",
        F.col("cp_at").alias("cp_day"),
        "cp_dev_scaled",
        F.col("n_points").alias("n_days"),
        F.col("total_value").alias("total_events"),
    )


ORACLE_EVENTS_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(cnt) OVER (PARTITION BY event_type) AS tot
  FROM daily
),
dev AS (
  SELECT event_type, day, abs(n * pre - t * tot) AS adev, n, tot,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(n * pre - t * tot) DESC, day) AS rn
  FROM scored
)
SELECT event_type, day AS cp_day, CAST(adev AS BIGINT) AS cp_dev_scaled,
       CAST(n AS BIGINT) AS n_days, CAST(tot AS BIGINT) AS total_events
FROM dev WHERE rn = 1
"""


def _q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quintile segmentation per
    customer — the classic CRM scoring. The three quintile assignments
    ride operators/rank.ranked_running_sum (distributed global rank,
    stats-gated) + ntile_from_rank, NOT a partition-less ntile()
    window: the per-customer aggregate is SF-LINEAR, exactly the frame
    the plan scanner bans single-reducer sorts over. Ordering is made
    unique with the custkey tiebreak so NTILE is deterministic in both
    engines."""
    from omop_etl_spark.operators.rank import ntile_from_rank, ranked_running_sum

    from omop_etl_spark.conf import checkpoint as _ckpt

    orders = _source(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    # r17: per_c feeds BOTH the customer-count 1-row frame and the
    # ranked base; without the checkpoint each consumer re-runs the
    # full order scan + per-customer aggregate (3 order scans in the
    # r17 audit). The frame is customer-cardinality-bounded.
    per_c = orders.groupBy("o_custkey").agg(
        F.max(od).alias("__last"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("bigint")
        .alias("monetary_cents"),
    ).transform(_ckpt)
    bounds = orders.agg(F.max(od).alias("__maxd"))
    nrow = per_c.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    base = (
        per_c.crossJoin(F.broadcast(bounds))
        .withColumn(
            "recency_days", F.datediff(F.col("__maxd"), F.col("__last")).cast("bigint")
        )
        .drop("__maxd", "__last")
    )
    r1 = ranked_running_sum(
        base,
        [F.col("recency_days").asc(), F.col("o_custkey").asc()],
        "n_orders",
        rank_col="__r_rank",
        cum_col="__c1",
    ).drop("__c1")
    r2 = ranked_running_sum(
        r1,
        [F.col("n_orders").desc(), F.col("o_custkey").asc()],
        "n_orders",
        rank_col="__f_rank",
        cum_col="__c2",
    ).drop("__c2")
    r3 = ranked_running_sum(
        r2,
        [F.col("monetary_cents").desc(), F.col("o_custkey").asc()],
        "n_orders",
        rank_col="__m_rank",
        cum_col="__c3",
    ).drop("__c3")
    out = r3.crossJoin(F.broadcast(nrow)).select(
        F.col("o_custkey").cast("bigint").alias("custkey"),
        "recency_days",
        "n_orders",
        "monetary_cents",
        ntile_from_rank("__r_rank", "__n", 5).alias("r_tile"),
        ntile_from_rank("__f_rank", "__n", 5).alias("f_tile"),
        ntile_from_rank("__m_rank", "__n", 5).alias("m_tile"),
    )
    return out.withColumn(
        "rfm_code",
        (F.col("r_tile") * 100 + F.col("f_tile") * 10 + F.col("m_tile")).cast("int"),
    )


ORACLE_ORDERS_RFM = """
WITH per_c AS (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS monetary_cents,
         MAX(CAST(o_orderdate AS DATE)) AS last_order
  FROM orders GROUP BY o_custkey
),
mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
base AS (
  SELECT o_custkey, n_orders, monetary_cents,
         date_diff('day', last_order, maxd) AS recency_days
  FROM per_c, mx
),
tiled AS (
  SELECT o_custkey, recency_days, n_orders, monetary_cents,
         NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_tile,
         NTILE(5) OVER (ORDER BY n_orders DESC, o_custkey) AS f_tile,
         NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_tile
  FROM base
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(recency_days AS BIGINT) AS recency_days,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(monetary_cents AS BIGINT) AS monetary_cents,
       CAST(r_tile AS INT) AS r_tile,
       CAST(f_tile AS INT) AS f_tile,
       CAST(m_tile AS INT) AS m_tile,
       CAST(r_tile * 100 + f_tile * 10 + m_tile AS INT) AS rfm_code
FROM tiled
"""


def _q_cust_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    month, revenue laid out by months-since-cohort — the standard
    retention/LTV report. One per-customer aggregate for the cohort
    key, one fact join back on the customer key (hash, SF-linear both
    sides), one bounded (months x months) aggregate. All-integer
    outputs."""
    orders = _source(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    cohort = orders.groupBy("o_custkey").agg(
        F.trunc(F.min(od), "month").alias("cohort_month")
    )
    j = orders.select(
        "o_custkey",
        od.alias("__d"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("__cents"),
    ).join(cohort, "o_custkey")
    age = (
        (F.year("__d") * 12 + F.month("__d"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("int")
    return (
        j.groupBy("cohort_month", age.alias("age_months"))
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("__cents").cast("bigint").alias("revenue_cents"),
        )
    )


ORACLE_CUST_COHORT_LTV = """
WITH firsts AS (
  SELECT o_custkey,
         CAST(date_trunc('month', MIN(CAST(o_orderdate AS DATE))) AS DATE) AS cohort_month
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT f.cohort_month,
         (year(CAST(o.o_orderdate AS DATE)) * 12 + month(CAST(o.o_orderdate AS DATE)))
         - (year(f.cohort_month) * 12 + month(f.cohort_month)) AS age_months,
         o.o_custkey,
         CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT cohort_month,
       CAST(age_months AS INT) AS age_months,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM j GROUP BY 1, 2
"""



def _q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of the part catalog on (price, size):
    the points no other part dominates on both dimensions — the
    classic multi-criteria shortlist operator. Points first collapse
    to distinct (price_cents, size) aggregates; the dominance test is
    then ONE exclusive global running-min of size under (price, size)
    order — operators/rank.running_extreme, the same range-repartition
    + broadcast-prefix decomposition as ranked_running_sum (MIN
    replacing SUM), so no partition-less window ever sees the
    SF-linear frame. After dedup, a point is dominated iff any
    predecessor in (price asc, size asc) order has size <= mine, i.e.
    iff the exclusive running min <= my size."""
    from omop_etl_spark.operators.rank import running_extreme

    part = _source(spark, sf_dir, "part")
    pts = part.groupBy(
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        "p_size",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    sl = running_extreme(
        pts,
        [F.col("price_cents").asc(), F.col("p_size").asc()],
        "p_size",
        out_col="__pm",
        inclusive=False,
    )
    return sl.filter(
        F.col("__pm").isNull() | (F.col("__pm") > F.col("p_size"))
    ).select("price_cents", F.col("p_size").cast("int").alias("p_size"), "n_parts")


ORACLE_PART_SKYLINE = """
WITH pts AS (
  SELECT CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
         p_size, COUNT(*) AS n_parts
  FROM part GROUP BY 1, 2
),
m AS (
  SELECT *, MIN(p_size) OVER (ORDER BY price_cents, p_size
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM pts
)
SELECT price_cents, CAST(p_size AS INT) AS p_size, CAST(n_parts AS BIGINT) AS n_parts
FROM m WHERE pm IS NULL OR pm > p_size
"""


def _q_orders_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prune, measured: build a portable Bloom
    filter (operators/sketches.bloom_build, m=4096 k=3, public md5
    hashes) over the negative-balance customer blacklist, probe every
    ordering customer, and score it against exact membership. The
    filter is a <= m-row bit frame — broadcast at any scale — and the
    zero in n_false_neg is the Bloom guarantee the gate pins every
    round: members ALWAYS pass; only false POSITIVES are possible."""
    from omop_etl_spark.operators.sketches import bloom_build, bloom_probe

    cust = _source(spark, sf_dir, "customer")
    orders = _source(spark, sf_dir, "orders")
    members = cust.filter(F.col("c_acctbal") < 0).select("c_custkey").distinct()
    bits = bloom_build(members, "c_custkey", m=4096, k=3)
    probes = orders.select("o_custkey").distinct()
    probed = bloom_probe(probes, bits, "o_custkey", m=4096, k=3)
    mem = members.select(F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("__m"))
    j = probed.join(mem, "o_custkey", "left")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("bigint").alias("n_pass"),
        F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_members"),
        F.sum(F.when(F.col("bloom_pass") & F.col("__m").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum(F.when(~F.col("bloom_pass") & F.col("__m").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_neg"),
    )


ORACLE_ORDERS_BLOOM_PROBE = """
WITH members AS (
  SELECT DISTINCT c_custkey AS v FROM customer WHERE c_acctbal < 0
),
mb AS (
  SELECT DISTINCT
    (CAST(concat('0x', substr(md5(concat('bloom', CAST(i AS VARCHAR), '|',
                                         CAST(v AS VARCHAR))), 1, 8)) AS BIGINT)
     % 4096) AS bit
  FROM members, (VALUES (0), (1), (2)) t(i)
),
probes AS (SELECT DISTINCT o_custkey AS v FROM orders),
legs AS (
  SELECT v, i,
    (CAST(concat('0x', substr(md5(concat('bloom', CAST(i AS VARCHAR), '|',
                                         CAST(v AS VARCHAR))), 1, 8)) AS BIGINT)
     % 4096) AS bit
  FROM probes, (VALUES (0), (1), (2)) t(i)
),
hits AS (
  SELECT l.v, COUNT(mb.bit) AS nhit
  FROM legs l LEFT JOIN mb ON l.bit = mb.bit
  GROUP BY l.v
),
flags AS (
  SELECT h.v, (nhit = 3) AS pass, (m.v IS NOT NULL) AS is_member
  FROM hits h LEFT JOIN members m ON h.v = m.v
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN is_member AND NOT pass THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
FROM flags
"""



def _q_orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    econometric inequality summary behind "do 1% of customers drive
    90% of revenue?".  Sample formula over values ranked ASCENDING
    with a unique tiebreak: ``G = 2*sum(rank*v)/(n*sum(v)) - (n+1)/n``.
    The global rank rides operators/rank.ranked_running_sum (the
    per-customer aggregate is SF-linear — no partition-less window);
    ``sum(rank*v)`` runs in decimal(38,0) (rank ~ 1e9 times cents ~
    1e7 overflows int64 well below 100 TB), and the final ppm figure
    is two exact integer divisions, bit-identical in both engines."""
    from omop_etl_spark.operators.rank import ranked_running_sum

    orders = _source(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100)).cast("bigint").alias("v")
    )
    ranked = ranked_running_sum(
        per_c,
        [F.col("v").asc(), F.col("o_custkey").asc()],
        "v",
        rank_col="__rk",
        cum_col="__cum",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("v").cast("bigint").alias("total_cents"),
        F.sum(F.expr("CAST(__rk AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))")).alias(
            "__s1"
        ),
    )
    return agg.select(
        "n_customers",
        "total_cents",
        F.expr(
            "CAST((CAST(2000000 AS DECIMAL(38,0)) * __s1) div "
            "(CAST(n_customers AS DECIMAL(38,0)) * CAST(total_cents AS DECIMAL(38,0))) "
            "- (CAST(1000000 AS DECIMAL(38,0)) * (n_customers + 1)) div "
            "CAST(n_customers AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


ORACLE_ORDERS_GINI = """
WITH per_c AS (
  SELECT o_custkey,
         SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS v
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v ASC, o_custkey ASC) AS rk
  FROM per_c
),
agg AS (
  SELECT COUNT(*) AS n, SUM(v) AS s, SUM(CAST(rk AS HUGEINT) * v) AS s1
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(s AS BIGINT) AS total_cents,
       CAST((2000000 * s1) // (CAST(n AS HUGEINT) * s)
            - (1000000 * (CAST(n AS HUGEINT) + 1)) // n AS BIGINT) AS gini_ppm
FROM agg
"""


def _q_events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day via KMV sketch MERGE
    (operators/sketches.kmv_sliding_distinct): facts collapse once to
    per-day sketches; the window unions SKETCHES (k-mins of a union =
    k-mins of the k-mins), never facts — exact sliding COUNT(DISTINCT)
    re-scans its whole window per day, the sketch path is
    O(days * k * window). Same integral estimator as kmv_distinct, so
    the DuckDB oracle replays everything bit-for-bit."""
    from omop_etl_spark.operators.sketches import kmv_sliding_distinct

    ev = _source(spark, sf_dir, "events")
    return kmv_sliding_distinct(ev, "ts", "user_id", window_days=7, k=64)


ORACLE_EVENTS_SLIDING_DISTINCT = """
WITH day_hashes AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day,
         CAST(concat('0x', substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 8))
              AS BIGINT) / 4294967296.0 AS h
  FROM events
),
day_sketch AS (
  SELECT day, h FROM (
    SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM day_hashes
  ) WHERE rn <= 64
),
fanned AS (
  SELECT DISTINCT day + CAST(o AS INT) AS tday, h
  FROM day_sketch, (SELECT unnest(range(0, 7)) AS o) t
),
active AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
windowed AS (
  SELECT f.tday, f.h FROM fanned f JOIN active a ON f.tday = a.day
),
merged AS (
  SELECT tday, COUNT(*) AS n_kept, MAX(h) AS h_k FROM (
    SELECT tday, h, ROW_NUMBER() OVER (PARTITION BY tday ORDER BY h) AS rn
    FROM windowed
  ) WHERE rn <= 64
  GROUP BY tday
)
SELECT tday AS day,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(CASE WHEN n_kept < 64 THEN n_kept
                 ELSE floor(63.0 / greatest(h_k, 1.0 / 4294967296.0)) END
            AS BIGINT) AS est_distinct
FROM merged
"""


def _q_events_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily volume smoothed with an exponential moving
    average, alpha = 1/4 (operators/temporal.ema_smooth). The
    order-sensitive recursion folds each aggregated series
    LEFT-TO-RIGHT with the JVM `aggregate` higher-order function —
    deterministic sequential IEEE-754 ops that the oracle's recursive
    CTE replays bit-for-bit (the dyadic alpha keeps every multiply
    exactly-rounded identically)."""
    from omop_etl_spark.operators.temporal import ema_smooth

    ev = _source(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    out = ema_smooth(daily, ["event_type"], "day", "cnt")
    return out.select(
        "event_type", "day", F.col("cnt").cast("bigint").alias("cnt"),
        F.round(F.col("ema"), 6).alias("ema"),
    )


ORACLE_EVENTS_EMA = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
numbered AS (
  SELECT event_type, day, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
ema AS (
  SELECT event_type, day, cnt, rn, CAST(cnt AS DOUBLE) AS e
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.event_type, n.day, n.cnt, n.rn,
         CAST(0.25 AS DOUBLE) * n.cnt + CAST(0.75 AS DOUBLE) * x.e
  FROM numbered n JOIN ema x
    ON n.event_type = x.event_type AND n.rn = x.rn + 1
)
SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt, round(e, 6) AS ema
FROM ema
"""



def _q_corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing curve: corpus token coverage (exact
    integer ppm) of the top-k term types at k in {8 .. 16384} (operators/chunking.vocab_coverage). The ranked cumulative
    sum over the SF-growing vocabulary rides ranked_running_sum — no
    partition-less window over an unbounded frame."""
    from omop_etl_spark.operators.chunking import vocab_coverage

    docs = _spread_read(spark, sf_dir, "documents")
    return vocab_coverage(docs)


ORACLE_CORPUS_VOCAB_COVERAGE = """
WITH terms AS (
  SELECT lower(t) AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
cf AS (SELECT term, COUNT(*) AS cnt FROM terms GROUP BY term),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS vocab_k,
         SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cf
),
t AS (SELECT SUM(cnt) AS total FROM cf)
SELECT CAST(vocab_k AS BIGINT) AS vocab_k,
       CAST(cum AS BIGINT) AS cum_tokens,
       CAST((cum * 1000000) // t.total AS BIGINT) AS coverage_ppm
FROM ranked, t
WHERE vocab_k IN (8, 16, 32, 64, 256, 1024, 4096, 16384)
"""


def _q_docs_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 positively distinctive terms per source by Dunning G2
    keyness (operators/chunking.distinctive_terms) — "which words make
    this source sound like itself": the mixture-design / contamination
    triage contrast signal. Logs floor-scaled once per (source, term)
    row; the over-representation filter runs in decimal(38,0)."""
    from omop_etl_spark.operators.chunking import distinctive_terms

    docs = _spread_read(spark, sf_dir, "documents")
    return distinctive_terms(docs, "source", top_k=5)


ORACLE_DOCS_DISTINCTIVE_TERMS = """
WITH terms AS (
  SELECT source, lower(t) AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
a_tab AS (SELECT source, term, COUNT(*) AS a FROM terms GROUP BY 1, 2),
tt AS (SELECT term, SUM(a) AS tt FROM a_tab GROUP BY term),
g AS (SELECT source, SUM(a) AS n1 FROM a_tab GROUP BY source),
n AS (SELECT SUM(n1) AS nn FROM g),
j AS (
  SELECT a_tab.source, a_tab.term, a, tt.tt, g.n1,
         tt.tt - a AS b, n.nn - g.n1 AS n2, n.nn
  FROM a_tab JOIN tt ON a_tab.term = tt.term
             JOIN g ON a_tab.source = g.source, n
),
scored AS (
  SELECT source, term, a,
         2 * (a * (CASE WHEN a > 0 THEN CAST(floor(ln((CAST(a AS DOUBLE) * CAST(nn AS DOUBLE))
                                / (CAST(tt AS DOUBLE) * CAST(n1 AS DOUBLE))) * 1000000) AS BIGINT)
                        ELSE 0 END)
            + b * (CASE WHEN b > 0 THEN CAST(floor(ln((CAST(b AS DOUBLE) * CAST(nn AS DOUBLE))
                                / (CAST(tt AS DOUBLE) * CAST(n2 AS DOUBLE))) * 1000000) AS BIGINT)
                        ELSE 0 END)) AS g2_micro
  FROM j
  WHERE CAST(a AS HUGEINT) * n2 > CAST(b AS HUGEINT) * n1
),
top AS (
  SELECT source, term, a, g2_micro,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY g2_micro DESC, term ASC) AS rn
  FROM scored
)
SELECT source, term, CAST(a AS BIGINT) AS n_in_group, CAST(g2_micro AS BIGINT) AS g2_micro
FROM top WHERE rn <= 5
"""


def _q_parts_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes of the part co-purchase graph after 3 rounds of
    synchronous label propagation (operators/graph.label_propagation),
    ties pinned to the smaller label — the determinism plain LPA lacks
    and the oracle contract requires. Same >= 2-co-orders edge set as
    the triangle gate, via the join-free shared builder
    (`_copurchase_pairs`); the oracle unrolls the 3 rounds as CTEs."""
    from omop_etl_spark.conf import checkpoint as _ckpt
    from omop_etl_spark.operators.graph import label_propagation

    # pin the pair expansion before the bidirectional union: both
    # union branches consume it, and LPA's eager edge checkpoint
    # would otherwise execute the expansion twice (A/B: 5.4s -> 3.4s
    # at sf0.1, identical labels)
    pairs = _copurchase_pairs(spark, sf_dir).transform(_ckpt)
    edges = pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = label_propagation(edges, rounds=3, src="u", dst="v")
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    ).select(F.col("label").cast("bigint").alias("label"), "n_members")


def _oracle_parts_communities(rounds: int = 3) -> str:
    step = """
m{i} AS (SELECT e.v AS node, l.label, COUNT(*) AS c
         FROM edges e JOIN l{p} l ON e.u = l.node GROUP BY 1, 2),
p{i} AS (SELECT node, label FROM (
           SELECT node, label,
                  ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
           FROM m{i}) WHERE rn = 1),
l{i} AS (SELECT l.node, COALESCE(p.label, l.label) AS label
         FROM l{p} l LEFT JOIN p{i} p ON l.node = p.node)"""
    chain = ",".join(step.format(i=i + 1, p=i) for i in range(rounds))
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
pairs AS (
  SELECT a.p AS u, c.p AS v
  FROM li a JOIN li c ON a.ok = c.ok AND a.p < c.p
  GROUP BY a.p, c.p HAVING COUNT(*) >= 2
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
nodes AS (SELECT DISTINCT u AS node FROM edges),
l0 AS (SELECT node, node AS label FROM nodes),
{chain}
SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{rounds} GROUP BY label
"""



def _q_embed_top_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top eigenvector (PCA direction) of the quantized embedding
    covariance by 8 rounds of EXACT integer fixed-point power
    iteration (operators/stats.power_iteration_top_eigen): matvec in
    decimal(38,0), max-abs renormalization as one integer division per
    component — a pure function of the data, replayed bit-for-bit by
    the oracle's 8 unrolled CTE rounds (float power iteration is
    engine-private sum order). The d x d matvec frames are bounded;
    the SF-linear work is the upstream covariance (mapInPandas
    partials, see embed_covariance)."""
    from omop_etl_spark.operators.stats import (
        power_iteration_top_eigen,
        quantized_covariance,
    )

    emb = _spread_read(spark, sf_dir, "embeddings")
    cov = quantized_covariance(emb, "embedding", shift=14)
    # the upper triangle plus each off-diagonal cell mirrored, in one
    # pass over the covariance (a union would run its upstream twice)
    cell = F.struct("i", "j", F.col("cov_scaled").alias("m"))
    mirror = F.struct(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("cov_scaled").alias("m")
    )
    full = cov.select(
        F.explode(
            F.when(F.col("i") < F.col("j"), F.array(cell, mirror))
            .otherwise(F.array(cell))
        ).alias("c")
    ).select("c.*")
    v = power_iteration_top_eigen(full, "i", "j", "m", rounds=8)
    return v.select(F.col("i").cast("bigint").alias("i"), "v")


def _oracle_embed_top_eigen(rounds: int = 8) -> str:
    # MATERIALIZED through the chain: fm is consumed by every round and
    # each w{i} by two successors — DuckDB's per-reference CTE inlining
    # would otherwise re-expand the full covariance pair fan-out
    # exponentially across the 8 rounds (OOM'd at sf1, r15; the same
    # trap as the BFS hop chain and the Lloyd CTEs)
    step = """
w{i} AS MATERIALIZED (SELECT f.i, SUM(CAST(f.m AS HUGEINT) * v.v) AS w
         FROM fm f JOIN v{p} v ON f.j = v.i GROUP BY f.i),
mx{i} AS (SELECT MAX(abs(w)) AS mx FROM w{i}),
v{i} AS MATERIALIZED (SELECT i, CAST((w * 1000000) // greatest(mx, 1) AS BIGINT) AS v
         FROM w{i}, mx{i})"""
    chain = ",".join(step.format(i=i + 1, p=i) for i in range(rounds))
    return f"""
WITH q AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16384.0) AS BIGINT) AS qv
  FROM embeddings
),
pairs AS (
  SELECT a.idx AS i, b.idx AS j, a.qv AS qa, b.qv AS qb
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.idx <= b.idx
),
mm AS (
  SELECT i, j, COUNT(*) AS n, SUM(qa) AS s_i, SUM(qb) AS s_j, SUM(qa * qb) AS s_ij
  FROM pairs GROUP BY i, j
),
cov AS (
  SELECT i, j,
         CAST((n * s_ij - s_i * s_j
               - ((((n * s_ij - s_i * s_j) % n) + n) % n)) // n AS BIGINT) AS m
  FROM mm
),
fm AS MATERIALIZED (
  SELECT i, j, m FROM cov
  UNION ALL
  SELECT j AS i, i AS j, m FROM cov WHERE i < j
),
v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM fm),
{chain}
SELECT CAST(i AS BIGINT) AS i, v FROM v{rounds}
"""


def _q_events_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavioral transition matrix
    (operators/graph.markov_stationary): where the event-type flow
    settles after 5 exact integer fixed-point power-iteration rounds —
    one truncating division per edge, renormalize to 1e6 total. Same
    lead()-per-user edge extraction as the transition-matrix gate; the
    loop itself touches only state/edge-bounded frames."""
    from omop_etl_spark.operators.graph import markov_stationary

    ev = _source(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    out = markov_stationary(counts, rounds=5)
    return out.select(
        F.col("state").alias("event_type"), "stationary_scaled"
    )


def _oracle_events_stationary(rounds: int = 5) -> str:
    step = """
f{i} AS (SELECT s.__s, COALESCE(x.raw, 0) AS raw FROM states s LEFT JOIN (
           SELECT e.dst AS __s,
                  SUM(CAST((CAST(v.v AS HUGEINT) * e.n) // e.deg AS BIGINT)) AS raw
           FROM e JOIN v{p} v ON e.src = v.__s GROUP BY e.dst) x
         ON s.__s = x.__s),
t{i} AS (SELECT greatest(SUM(raw), 1) AS tt FROM f{i}),
v{i} AS (SELECT __s, CAST((CAST(raw AS HUGEINT) * 1000000) // tt AS BIGINT) AS v
         FROM f{i}, t{i})"""
    chain = ",".join(step.format(i=i + 1, p=i) for i in range(rounds))
    return f"""
WITH ordered AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
counts AS (
  SELECT src, dst, COUNT(*) AS n FROM ordered WHERE dst IS NOT NULL GROUP BY 1, 2
),
deg AS (SELECT src, SUM(n) AS deg FROM counts GROUP BY src),
e AS (SELECT c.src, c.dst, c.n, d.deg FROM counts c JOIN deg d ON c.src = d.src),
states AS (SELECT DISTINCT src AS __s FROM counts),
v0 AS (SELECT __s, CAST(1000000 AS BIGINT) AS v FROM states),
{chain}
SELECT __s AS event_type, v AS stationary_scaled FROM v{rounds}
"""


_CDC_W, _CDC_B, _CDC_M, _CDC_D = 8, 31, 1_048_573, 64


def _q_docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report
    (operators/chunking.content_defined_chunks): split every document
    at Rabin-style rolling-hash boundaries (shift-resistant — identical
    passages chunk identically at any byte offset, unlike fixed
    windows), then per source count chunks, distinct chunks, the exact
    duplicate-chunk ppm, and mean chunk length. Boundary detection is
    map-only higher-order-function work inside codegen; the only
    shuffle is the final source-bounded aggregate. The oracle replays
    the identical int64 polynomial hash per position."""
    from omop_etl_spark.operators.chunking import content_defined_chunks

    docs = _spread_read(spark, sf_dir, "documents")
    ch = content_defined_chunks(
        docs, window=_CDC_W, base=_CDC_B, modulus=_CDC_M, divisor=_CDC_D,
        keep_cols=("source",),
    )
    return (
        ch.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chunk_text").alias("n_distinct_chunks"),
            F.sum("n_chars").alias("__chars"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct_chunks",
            F.expr(
                ppm_div_sql("n_chunks - n_distinct_chunks", "n_chunks")
            ).alias("dup_chunk_ppm"),
            F.expr("__chars div n_chunks").cast("bigint").alias("avg_chunk_chars"),
        )
    )


def _oracle_docs_cdc_chunks() -> str:
    hash_terms = " + ".join(
        f"unicode(substring(d.text, p.t - {j}, 1)) * {pow(_CDC_B, j, _CDC_M)}"
        for j in range(_CDC_W)
    )
    return f"""
WITH d AS (
  SELECT doc_id, source, text, length(text) AS n
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
pos AS (SELECT doc_id, unnest(generate_series({_CDC_W}, n)) AS t FROM d),
bnd AS (
  SELECT p.doc_id, p.t
  FROM pos p JOIN d ON p.doc_id = d.doc_id
  WHERE (({hash_terms}) % {_CDC_M}) % {_CDC_D} = 0
),
starts AS (
  SELECT doc_id, 0 AS s FROM d
  UNION ALL
  SELECT doc_id, t AS s FROM bnd
),
chunks AS (
  SELECT d.source,
         substring(d.text, st.s + 1,
                   COALESCE(LEAD(st.s) OVER (PARTITION BY st.doc_id ORDER BY st.s),
                            d.n) - st.s) AS chunk_text
  FROM starts st JOIN d ON st.doc_id = d.doc_id
)
SELECT source,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT chunk_text) AS n_distinct_chunks,
       CAST(((COUNT(*) - COUNT(DISTINCT chunk_text)) * 1000000) // COUNT(*)
            AS BIGINT) AS dup_chunk_ppm,
       CAST(SUM(length(chunk_text)) // COUNT(*) AS BIGINT) AS avg_chunk_chars
FROM chunks WHERE chunk_text <> '' GROUP BY source
"""


_PROFILE_ORDERS_COLS = (
    ("o_orderkey", False), ("o_custkey", False), ("o_orderstatus", False),
    ("o_totalprice", True), ("o_orderdate", False), ("o_orderpriority", False),
)


def _q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profile (operators/profile.profile_table):
    one pass over orders emitting a tall per-column frame of null
    count, exact distinct count, and min/max rendered as strings
    (floating columns report floor(x*100) integer cents — exact
    cross-engine, closing the r8 NULL-min/max gap without
    engine-private float rendering). Single wide aggregate (Spark
    expands the multi-distinct into one Expand + Aggregate — the
    standard distributed ANALYZE shape), then a constant-width stack;
    no per-column rescans."""
    from omop_etl_spark.operators.profile import profile_table

    orders = _spread_read(spark, sf_dir, "orders")
    return profile_table(orders, [c for c, _ in _PROFILE_ORDERS_COLS])


def _oracle_orders_profile() -> str:
    parts = []
    for c, is_float in _PROFILE_ORDERS_COLS:
        mn = (
            f"CAST(CAST(floor(MIN({c}) * 100) AS BIGINT) AS VARCHAR)"
            if is_float
            else f"CAST(MIN({c}) AS VARCHAR)"
        )
        mx = (
            f"CAST(CAST(floor(MAX({c}) * 100) AS BIGINT) AS VARCHAR)"
            if is_float
            else f"CAST(MAX({c}) AS VARCHAR)"
        )
        parts.append(
            f"SELECT '{c}' AS column_name, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"{mn} AS min_value, {mx} AS max_value FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


def _q_events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type: event volume per ISO
    weekday scaled against a uniform week in exact integer ppm
    (``count * 7e6 div total`` — 1e6 means "an average day"). Two
    group-bys on bounded keys (type x 7, then type); the totals frame
    is type-bounded, so its broadcast back is scale-safe."""

    ev = _source(spark, sf_dir, "events")
    per = ev.groupBy(
        "event_type", F.expr("weekday(ts) + 1").cast("int").alias("isodow")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("__tot"))
    return (
        per.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "isodow",
            "n_events",
            F.expr("(n_events * 7000000) div __tot").cast("bigint").alias("season_ppm"),
        )
    )


ORACLE_EVENTS_SEASONALITY = """
WITH per AS (
  SELECT event_type, CAST(isodow(ts) AS INTEGER) AS isodow, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
tot AS (SELECT event_type, SUM(n_events) AS tot FROM per GROUP BY 1)
SELECT p.event_type, p.isodow, p.n_events,
       CAST((p.n_events * 7000000) // t.tot AS BIGINT) AS season_ppm
FROM per p JOIN tot t ON p.event_type = t.event_type
"""


_UNI_LMAX, _UNI_WMAX, _UNI_MINCNT = 4, 16, 5


def _q_docs_encode_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) subword segmentation report
    (operators/chunking.unigram_segment_words): build a deterministic
    piece vocabulary from the corpus (all char 1-grams plus 2-4-grams
    with weighted count >= 5; integer cost = 4*(48 - bits(count)) +
    len — monotone-decreasing in frequency), Viterbi-segment each
    DISTINCT word type once (dictionary encoding — the 100 TB play:
    the DP runs on the type frame, instances join back), then report
    per-source token counts, piece counts, exact fertility ppm, and
    total path cost. The DP minimizes (cost, n_pieces)
    lexicographically packed into one int64, so the oracle's unrolled
    16-position DP replays it bit-for-bit."""
    from omop_etl_spark.operators.chunking import (
        _term_tokens,
        unigram_segment_words,
    )

    docs = _spread_read(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(_term_tokens("text")).alias("word")
    ).filter(F.length("word") <= _UNI_WMAX)
    # r17: checkpointing wc (feeds the piece-gram counts AND the
    # Viterbi word-type frame; 3 tokenizes -> 2) was measured and
    # REJECTED at the 100x tier: 4.5-6.9 s lazy vs 9.2-10.1 s
    # checkpointed, interleaved A/B — the downstream 16-position DP
    # re-reads the frame far more than the tokenize costs, and the
    # RDD-backed frame defeats the optimizations Catalyst applies to
    # the lazy subtree. The duplicate tokenize stays.
    wc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    grams_expr = (
        "flatten(transform(sequence(1, length(word)), s -> "
        f"filter(transform(sequence(1, {_UNI_LMAX}), l -> "
        "CASE WHEN s + l - 1 <= length(word) THEN substring(word, s, l) END), "
        "x -> x IS NOT NULL)))"
    )
    gcnt = (
        wc.select(F.explode(F.expr(grams_expr)).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("gcnt"))
    )
    pieces = gcnt.filter(
        (F.length("piece") == 1) | (F.col("gcnt") >= _UNI_MINCNT)
    ).select(
        "piece",
        F.expr("(48 - length(bin(gcnt))) * 4 + length(piece)").alias("cost"),
    )
    enc = unigram_segment_words(
        wc.select("word"), pieces,
        max_piece_len=_UNI_LMAX, max_word_len=_UNI_WMAX,
    )
    return (
        toks.join(enc, "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.sum("seg_cost").cast("bigint").alias("total_cost"),
        )
        .withColumn(
            "fertility_ppm",
            F.expr(ppm_div_sql("n_pieces", "n_words")),
        )
    )


def _oracle_docs_encode_unigram() -> str:
    lmax, wmax, mincnt = _UNI_LMAX, _UNI_WMAX, _UNI_MINCNT
    dps = []
    for i in range(1, wmax + 1):
        branches = []
        for j in range(max(0, i - lmax), i):
            branches.append(
                f"SELECT d.word, d.comb + (p.cost * 1024 + 1) AS comb "
                f"FROM dp{j} d JOIN pieces p "
                f"ON p.piece = substring(d.word, {j + 1}, {i - j}) "
                f"WHERE length(d.word) >= {i}"
            )
        dps.append(
            f"dp{i} AS MATERIALIZED (SELECT word, MIN(comb) AS comb FROM (\n"
            + "\nUNION ALL\n".join(branches)
            + f"\n) GROUP BY word)"
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT word, comb FROM dp{i} WHERE length(word) = {i}"
        for i in range(1, wmax + 1)
    )
    return f"""
WITH dw AS MATERIALIZED (
  SELECT source, t AS word
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' AND length(t) <= {wmax}
),
wc AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM dw GROUP BY word),
grams AS (
  SELECT substring(w.word, s.s, l.l) AS piece, SUM(w.cnt) AS gcnt
  FROM wc w
  JOIN (SELECT unnest(generate_series(1, {wmax})) AS s) s ON s.s <= length(w.word)
  JOIN (VALUES (1), (2), (3), (4)) l(l) ON s.s + l.l - 1 <= length(w.word)
  GROUP BY 1
),
pieces AS MATERIALIZED (
  SELECT piece, (48 - length(bin(gcnt))) * 4 + length(piece) AS cost
  FROM grams WHERE length(piece) = 1 OR gcnt >= {mincnt}
),
dp0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS comb FROM wc),
{",".join(dps)},
enc AS ({finals})
SELECT dw.source,
       COUNT(*) AS n_words,
       CAST(SUM(e.comb % 1024) AS BIGINT) AS n_pieces,
       CAST(SUM(e.comb // 1024) AS BIGINT) AS total_cost,
       CAST((SUM(e.comb % 1024) * 1000000) // COUNT(*) AS BIGINT) AS fertility_ppm
FROM dw JOIN enc e ON dw.word = e.word
GROUP BY dw.source
"""


def _q_docs_segment_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-path unigram segmentation REPORT
    (operators/chunking.unigram_segment_pieces): for every distinct
    word TYPE, the actual pieces the optimal (cost, n_pieces) path
    uses — the tokenizer-debugging view `docs_encode_unigram`'s
    aggregate hides, and the E-step of a hard-EM vocab learner. Same
    corpus-derived vocabulary as that gate (char 1-grams + 2-4-grams
    with weighted count >= 5; cost = 4*(48 - bits(count)) + len).
    Ties between optimal paths are pinned by the operator's canonical
    longest-piece-first backtrack (smallest start index whose
    predecessor dp state is optimal), so the oracle's unrolled
    16-step backtrack replay picks the IDENTICAL piece sequence —
    path identity, not just path cost, is engine-exact."""
    from omop_etl_spark.operators.chunking import (
        _term_tokens,
        unigram_segment_pieces,
    )

    docs = _spread_read(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_term_tokens("text")).alias("word")).filter(
        F.length("word") <= _UNI_WMAX
    )
    wc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    grams_expr = (
        "flatten(transform(sequence(1, length(word)), s -> "
        f"filter(transform(sequence(1, {_UNI_LMAX}), l -> "
        "CASE WHEN s + l - 1 <= length(word) THEN substring(word, s, l) END), "
        "x -> x IS NOT NULL)))"
    )
    gcnt = (
        wc.select(F.explode(F.expr(grams_expr)).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("gcnt"))
    )
    pieces = gcnt.filter(
        (F.length("piece") == 1) | (F.col("gcnt") >= _UNI_MINCNT)
    ).select(
        "piece",
        F.expr("(48 - length(bin(gcnt))) * 4 + length(piece)").alias("cost"),
    )
    seg = unigram_segment_pieces(
        wc, pieces, max_piece_len=_UNI_LMAX, max_word_len=_UNI_WMAX
    )
    return seg.select(
        "word",
        F.col("cnt").cast("bigint").alias("n_tokens"),
        "seg_cost",
        "n_pieces",
        F.array_join("seg_pieces", "|").alias("seg"),
    )


def _uni_seed_ctes() -> str:
    """Shared text-prep + seed-vocab CTEs for the unigram oracles
    (mirrors `docs_encode_unigram`'s derivation)."""
    wmax, mincnt = _UNI_WMAX, _UNI_MINCNT
    return f"""dw AS MATERIALIZED (
  SELECT t AS word
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' AND length(t) <= {wmax}
),
wc AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM dw GROUP BY word),
grams AS (
  SELECT substring(w.word, s.s, l.l) AS piece, SUM(w.cnt) AS gcnt
  FROM wc w
  JOIN (SELECT unnest(generate_series(1, {wmax})) AS s) s ON s.s <= length(w.word)
  JOIN (VALUES (1), (2), (3), (4)) l(l) ON s.s + l.l - 1 <= length(w.word)
  GROUP BY 1
),
pieces AS MATERIALIZED (
  SELECT piece, (48 - length(bin(gcnt))) * 4 + length(piece) AS cost
  FROM grams WHERE length(piece) = 1 OR gcnt >= {mincnt}
)"""


def _uni_round_ctes(sfx: str, pieces_cte: str) -> str:
    """One unigram dp + canonical-backtrack round as CTE text: defines
    ``dp{sfx}0..N``, ``dpall{sfx}``, ``enc{sfx}`` (word, comb) and
    ``seg{sfx}`` (word, '|'-joined canonical pieces) over the cost
    table ``pieces_cte``."""
    lmax, wmax = _UNI_LMAX, _UNI_WMAX
    dps = []
    for i in range(1, wmax + 1):
        branches = []
        for j in range(max(0, i - lmax), i):
            branches.append(
                f"SELECT d.word, d.comb + (p.cost * 1024 + 1) AS comb "
                f"FROM dp{sfx}{j} d JOIN {pieces_cte} p "
                f"ON p.piece = substring(d.word, {j + 1}, {i - j}) "
                f"WHERE length(d.word) >= {i}"
            )
        dps.append(
            f"dp{sfx}{i} AS MATERIALIZED (SELECT word, MIN(comb) AS comb FROM (\n"
            + "\nUNION ALL\n".join(branches)
            + f"\n) GROUP BY word)"
        )
    dpall = "\nUNION ALL\n".join(
        f"SELECT word, {i} AS pos, comb FROM dp{sfx}{i}"
        for i in range(0, wmax + 1)
    )
    bts = []
    for t in range(1, wmax + 1):
        bts.append(f"""btx{sfx}{t} AS (
  SELECT b.word, MIN(d.pos) AS j
  FROM bt{sfx}{t - 1} b
  JOIN dpall{sfx} d ON d.word = b.word
             AND d.pos >= b.pos - {lmax} AND d.pos <= b.pos - 1
  JOIN {pieces_cte} p ON p.piece = substring(b.word, d.pos + 1, b.pos - d.pos)
  JOIN dpall{sfx} cur ON cur.word = b.word AND cur.pos = b.pos
  WHERE b.pos > 0 AND d.comb + p.cost * 1024 + 1 = cur.comb
  GROUP BY b.word
),
bt{sfx}{t} AS MATERIALIZED (
  SELECT b.word,
         CASE WHEN b.pos <= 0 THEN b.pos ELSE x.j END AS pos,
         CASE WHEN b.pos <= 0 THEN b.seg
              ELSE substring(b.word, x.j + 1, b.pos - x.j) ||
                   CASE WHEN b.seg = '' THEN '' ELSE '|' END || b.seg
         END AS seg
  FROM bt{sfx}{t - 1} b LEFT JOIN btx{sfx}{t} x ON x.word = b.word
)""")
    return (
        f"dp{sfx}0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS comb FROM wc),\n"
        + ",\n".join(dps)
        + f",\ndpall{sfx} AS MATERIALIZED ({dpall}),\n"
        + f"enc{sfx} AS (SELECT word, comb FROM dpall{sfx}\n"
        + f"        WHERE pos = length(word) AND pos > 0),\n"
        + f"bt{sfx}0 AS (SELECT word, length(word) AS pos, '' AS seg FROM enc{sfx}),\n"
        + ",\n".join(bts)
        + f",\nseg{sfx} AS (SELECT word, seg FROM bt{sfx}{_UNI_WMAX})"
    )


def _oracle_docs_segment_pieces() -> str:
    return f"""
WITH {_uni_seed_ctes()},
{_uni_round_ctes("a", "pieces")}
SELECT e.word,
       CAST(w.cnt AS BIGINT) AS n_tokens,
       CAST(e.comb // 1024 AS BIGINT) AS seg_cost,
       CAST(e.comb % 1024 AS BIGINT) AS n_pieces,
       b.seg AS seg
FROM enca e
JOIN wc w ON w.word = e.word
JOIN sega b ON b.word = e.word
"""


def _q_docs_learn_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-EM unigram-LM vocabulary TRAINING
    (operators/chunking.learn_unigram_vocab): 2 rounds of Viterbi
    re-estimation over the corpus's distinct word types — segment
    along the canonical optimal path, count weighted piece usage,
    prune unused multi-char pieces, re-cost with the monotone
    bits(usage) schedule — the unigram sibling of `docs_learn_bpe`
    (greedy-merge vs global-min-cost-path, both learn AND encode now
    driver-gated for each family). Integer costs + canonical path
    identity make both rounds exactly SQL-replayable: the oracle
    unrolls (dp -> backtrack -> usage -> re-cost) twice."""
    from omop_etl_spark.operators.chunking import (
        _term_tokens,
        learn_unigram_vocab,
    )

    docs = _spread_read(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_term_tokens("text")).alias("word")).filter(
        F.length("word") <= _UNI_WMAX
    )
    wc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    grams_expr = (
        "flatten(transform(sequence(1, length(word)), s -> "
        f"filter(transform(sequence(1, {_UNI_LMAX}), l -> "
        "CASE WHEN s + l - 1 <= length(word) THEN substring(word, s, l) END), "
        "x -> x IS NOT NULL)))"
    )
    gcnt = (
        wc.select(F.explode(F.expr(grams_expr)).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("gcnt"))
    )
    pieces = gcnt.filter(
        (F.length("piece") == 1) | (F.col("gcnt") >= _UNI_MINCNT)
    ).select(
        "piece",
        F.expr("(48 - length(bin(gcnt))) * 4 + length(piece)").alias("cost"),
    )
    return learn_unigram_vocab(
        wc, pieces, rounds=2,
        max_piece_len=_UNI_LMAX, max_word_len=_UNI_WMAX,
    ).orderBy("piece")


def _oracle_docs_learn_unigram() -> str:
    return f"""
WITH {_uni_seed_ctes()},
{_uni_round_ctes("a", "pieces")},
usage1 AS MATERIALIZED (
  SELECT u.p AS piece, CAST(SUM(w.cnt) AS BIGINT) AS usage
  FROM sega b JOIN wc w ON w.word = b.word,
       unnest(string_split(b.seg, '|')) AS u(p)
  GROUP BY u.p
),
pieces1 AS MATERIALIZED (
  SELECT p0.piece,
         (48 - length(bin(coalesce(u.usage, 0)))) * 4 + length(p0.piece) AS cost
  FROM pieces p0 LEFT JOIN usage1 u ON u.piece = p0.piece
  WHERE length(p0.piece) = 1 OR u.usage IS NOT NULL
),
{_uni_round_ctes("b", "pieces1")},
usage2 AS MATERIALIZED (
  SELECT u.p AS piece, CAST(SUM(w.cnt) AS BIGINT) AS usage
  FROM segb b JOIN wc w ON w.word = b.word,
       unnest(string_split(b.seg, '|')) AS u(p)
  GROUP BY u.p
)
SELECT p1.piece,
       CAST((48 - length(bin(coalesce(u2.usage, 0)))) * 4 + length(p1.piece)
            AS BIGINT) AS cost,
       CAST(coalesce(u2.usage, 0) AS BIGINT) AS usage
FROM pieces1 p1 LEFT JOIN usage2 u2 ON u2.piece = p1.piece
WHERE length(p1.piece) = 1 OR u2.usage IS NOT NULL
ORDER BY p1.piece
"""


def _q_orders_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL — the dual of `orders_except_all`,
    completing the bag set-op family: per customer, min(1996 orders,
    1997 orders) copies survive. Spark plans intersectAll as a
    count-min generate (one aggregate per side, no row_number over
    the fact); the gate re-aggregates to per-customer match counts."""
    o = _source(spark, sf_dir, "orders")
    yr = lambda y: (  # noqa: E731
        o.filter(F.year("o_orderdate") == y).select(
            F.col("o_custkey").cast("bigint").alias("custkey")
        )
    )
    return (
        yr(1996)
        .intersectAll(yr(1997))
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("matched"))
        .orderBy("custkey")
    )


ORACLE_ORDERS_INTERSECT_ALL = """
WITH a AS (
  SELECT o_custkey AS custkey, COUNT(*) AS ca FROM orders
  WHERE year(o_orderdate) = 1996 GROUP BY 1
),
b AS (
  SELECT o_custkey AS custkey, COUNT(*) AS cb FROM orders
  WHERE year(o_orderdate) = 1997 GROUP BY 1
)
SELECT CAST(a.custkey AS BIGINT) AS custkey,
       CAST(least(a.ca, b.cb) AS BIGINT) AS matched
FROM a JOIN b ON a.custkey = b.custkey
ORDER BY custkey
"""


def _q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series per type
    ("is today's volume predicted by yesterday's?") from exact integer
    sufficient statistics: pair each observed day with the previous
    observed day (one lag window over the day-bounded daily frame, not
    the facts), then emit the covariance numerator, both variance
    numerators, and a signed r^2 in ppm — sqrt is engine-private float,
    so the gate reports sign(num)*num^2*1e6 div (var_a*var_b), exact
    in decimal(38) while |num| < ~3e15 (num^2 * 1e6 must fit 38
    digits; daily counts beyond ~1e6/day need a pre-scale)."""

    ev = _source(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.col("n").alias("cur"),
        F.lag("n").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("cur").alias("sa"),
        F.sum("prev").alias("sb"),
        F.sum(F.col("cur") * F.col("prev")).alias("sab"),
        F.sum(F.col("cur") * F.col("cur")).alias("saa"),
        F.sum(F.col("prev") * F.col("prev")).alias("sbb"),
    )
    num = "(CAST(m AS DECIMAL(38,0)) * sab - CAST(sa AS DECIMAL(38,0)) * sb)"
    va = "(CAST(m AS DECIMAL(38,0)) * saa - CAST(sa AS DECIMAL(38,0)) * sa)"
    vb = "(CAST(m AS DECIMAL(38,0)) * sbb - CAST(sb AS DECIMAL(38,0)) * sb)"
    return agg.select(
        "event_type",
        F.col("m").cast("bigint").alias("m"),
        F.expr(f"CAST({num} AS BIGINT)").alias("cov_num"),
        F.expr(f"CAST({va} AS BIGINT)").alias("var_cur"),
        F.expr(f"CAST({vb} AS BIGINT)").alias("var_prev"),
        F.expr(
            f"CAST(CASE WHEN {va} > 0 AND {vb} > 0 THEN "
            f"(CASE WHEN {num} < 0 THEN -1 ELSE 1 END) * "
            f"(({num} * {num}) * 1000000 div ({va} * {vb})) END AS BIGINT)"
        ).alias("r2_signed_ppm"),
    )


ORACLE_EVENTS_AUTOCORR = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT event_type, n AS cur,
         LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM daily
),
agg AS (
  SELECT event_type, COUNT(*) AS m,
         SUM(cur) AS sa, SUM(prev) AS sb, SUM(cur * prev) AS sab,
         SUM(cur * cur) AS saa, SUM(prev * prev) AS sbb
  FROM pairs WHERE prev IS NOT NULL GROUP BY 1
)
SELECT event_type, CAST(m AS BIGINT) AS m,
       CAST(m * sab - sa * sb AS BIGINT) AS cov_num,
       CAST(m * saa - sa * sa AS BIGINT) AS var_cur,
       CAST(m * sbb - sb * sb AS BIGINT) AS var_prev,
       CAST(CASE WHEN (m * saa - sa * sa) > 0 AND (m * sbb - sb * sb) > 0 THEN
         (CASE WHEN (m * sab - sa * sb) < 0 THEN -1 ELSE 1 END) *
         (((m * sab - sa * sb) * (m * sab - sa * sb)) * 1000000 //
          ((m * saa - sa * sa) * (m * sbb - sb * sb))) END AS BIGINT)
         AS r2_signed_ppm
FROM agg
"""


_BENFORD_EXP_PPM = {
    d: __import__("math").floor(__import__("math").log10(1 + 1 / d) * 1_000_000)
    for d in range(1, 10)
}


def _q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen on order totals — the
    classic fraud/data-quality scan: observed leading-digit shares of
    o_totalprice (in exact cents) vs the Benford expectation, both in
    ppm. The expected ppm are Python-precomputed integer literals
    shared verbatim by both engines (log10 at query time would be
    engine-private float). One aggregate over a digit-bounded key."""
    o = _source(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    per = (
        o.filter(cents > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per.agg(F.sum("n").alias("__t"))
    exp_map = ", ".join(f"{d}, {p}" for d, p in _BENFORD_EXP_PPM.items())
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr(ppm_div_sql("n", "__t")).alias("obs_ppm"),
            F.expr(f"element_at(map({exp_map}), digit)")
            .cast("bigint")
            .alias("exp_ppm"),
        )
        .withColumn("dev_ppm", (F.col("obs_ppm") - F.col("exp_ppm")).cast("bigint"))
    )


def _oracle_orders_benford() -> str:
    exp_rows = ", ".join(f"({d}, {p})" for d, p in _BENFORD_EXP_PPM.items())
    return f"""
WITH c AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0
),
per AS (SELECT digit, COUNT(*) AS n FROM c GROUP BY 1),
tot AS (SELECT SUM(n) AS t FROM per),
exp_t(digit, exp_ppm) AS (VALUES {exp_rows})
SELECT p.digit, CAST(p.n AS BIGINT) AS n,
       CAST((p.n * 1000000) // t.t AS BIGINT) AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST((p.n * 1000000) // t.t - e.exp_ppm AS BIGINT) AS dev_ppm
FROM per p, tot t JOIN exp_t e ON p.digit = e.digit
"""


_FD_PAIRS = (
    ("o_orderkey", "o_custkey"),
    ("o_orderkey", "o_orderpriority"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderdate", "o_orderpriority"),
)


def _q_orders_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery
    (operators/profile.functional_dependencies): for each candidate
    det->dep pair, does every determinant value map to one dependent
    value? o_orderkey->* holds (it's the key); the behavioral pairs
    don't. One group-collapse aggregate per pair, pairs-bounded
    output."""
    from omop_etl_spark.operators.profile import functional_dependencies

    orders = _spread_read(spark, sf_dir, "orders")
    return functional_dependencies(orders, _FD_PAIRS)


def _oracle_orders_fd_profile() -> str:
    parts = []
    for det, dep in _FD_PAIRS:
        parts.append(f"""
SELECT '{det}' AS determinant, '{dep}' AS dependent,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd FROM orders GROUP BY {det})""")
    return "\nUNION ALL\n".join(parts)


def _q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day-WAU stickiness per day — the product-
    analytics engagement ratio. The sliding distinct-user window is
    NOT a per-day rescan: each (user, day) pair explodes into its <= 7
    contribution days map-side, then ONE hash aggregate counts
    distinct users per contribution day (shuffle volume = 7x the
    user-day frame, independent of raw event count). Days outside the
    observed spine drop via the inner join back to the DAU frame."""

    ev = _source(spark, sf_dir, "events")
    from omop_etl_spark.conf import checkpoint as _ckpt

    # r17: ud feeds both the DAU aggregate and the 7-day contribution
    # explode; without the checkpoint each consumer re-runs the full
    # event scan + distinct shuffle (2x the query's dominant cost).
    ud = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct().transform(_ckpt)
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        F.explode(
            F.expr("transform(sequence(0, 6), i -> date_add(day, i))")
        ).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.expr("(dau * 1000000) div wau").cast("bigint").alias("stickiness_ppm"),
        )
    )


ORACLE_EVENTS_STICKINESS = """
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
contrib AS (
  SELECT day + CAST(i.i AS INTEGER) AS day, user_id
  FROM ud, (SELECT unnest(generate_series(0, 6)) AS i) i
),
wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY 1)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
       CAST((d.dau * 1000000) // w.wau AS BIGINT) AS stickiness_ppm
FROM dau d JOIN wau w ON d.day = w.day
"""


def _q_events_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust per-event-type value statistics
    (operators/stats.robust_group_stats): winsorized sum/mean with
    values clipped to the exact [p05, p95] group cuts, and MAD from
    the exact lower median — all on the cents-quantized value via the
    distinct-value histogram decomposition (no per-group row sort;
    every window PARTITIONED by group; floor division via pmod so
    negative sums floor identically on both engines)."""
    from omop_etl_spark.operators.stats import robust_group_stats

    ev = _source(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return robust_group_stats(vals, ["event_type"], "cents", 0.05, 0.95)


ORACLE_EVENTS_ROBUST_STATS = """
WITH v AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents FROM events
),
c AS (SELECT event_type, cents, COUNT(*) AS c FROM v GROUP BY 1, 2),
n AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
cum AS (
  SELECT event_type, cents, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c
),
cuts AS (
  SELECT cum.event_type, MAX(n.n) AS n,
         MIN(CASE WHEN cum >= floor((n.n - 1) * 0.05) + 1 THEN cents END) AS lo_cut,
         MIN(CASE WHEN cum >= floor((n.n - 1) * 0.5) + 1 THEN cents END) AS median,
         MIN(CASE WHEN cum >= floor((n.n - 1) * 0.95) + 1 THEN cents END) AS hi_cut
  FROM cum JOIN n ON cum.event_type = n.event_type
  GROUP BY 1
),
win AS (
  SELECT c.event_type,
         CAST(SUM(GREATEST(LEAST(c.cents, k.hi_cut), k.lo_cut) * c.c) AS BIGINT)
           AS winsorized_sum
  FROM c JOIN cuts k ON c.event_type = k.event_type
  GROUP BY 1
),
dev AS (
  SELECT c.event_type, ABS(c.cents - k.median) AS d, SUM(c.c) AS dc
  FROM c JOIN cuts k ON c.event_type = k.event_type
  GROUP BY 1, 2
),
devcum AS (
  SELECT event_type, d,
         SUM(dc) OVER (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dev
),
mad AS (
  SELECT devcum.event_type,
         CAST(MIN(CASE WHEN cum >= floor((n.n - 1) * 0.5) + 1 THEN d END) AS BIGINT)
           AS mad
  FROM devcum JOIN n ON devcum.event_type = n.event_type
  GROUP BY 1
)
SELECT k.event_type, k.n,
       CAST(k.lo_cut AS BIGINT) AS lo_cut,
       CAST(k.median AS BIGINT) AS median,
       CAST(k.hi_cut AS BIGINT) AS hi_cut,
       w.winsorized_sum,
       CAST((w.winsorized_sum -
             ((w.winsorized_sum % k.n + k.n) % k.n)) // k.n AS BIGINT)
         AS winsorized_mean,
       m.mad
FROM cuts k
JOIN win w ON k.event_type = w.event_type
JOIN mad m ON k.event_type = m.event_type
"""


def _q_parts_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over the order co-purchase
    baskets (operators/graph.cooccurrence_topk_similar): top-5 most
    similar parts per part by co-occurrence cosine, in deterministic
    ppm — IEEE sqrt is correctly rounded (bit-exact by the standard,
    unlike ln), so floor(c12 * 1e6 / sqrt(c1*c2)) replays identically
    in DuckDB. Pair fan-out is per-order-bounded (the triangle /
    community contract); totals join back on the part hash; the
    per-item top-k is a PARTITIONED window (WindowGroupLimit)."""
    from omop_etl_spark.operators.graph import cooccurrence_topk_similar

    li = _source(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    out = cooccurrence_topk_similar(li, "basket", "item", k=5, min_pairs=2)
    return out.select(
        F.col("item").cast("bigint").alias("item"),
        F.col("other").cast("bigint").alias("other"),
        "n_both",
        "cos_ppm",
        "rank",
    )


ORACLE_PARTS_ITEM_SIM = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
tot AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS c1 FROM b GROUP BY 1),
pairs AS (
  SELECT x.it AS a, y.it AS b2, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (
  SELECT a, b2, n_both FROM pairs
  UNION ALL
  SELECT b2 AS a, a AS b2, n_both FROM pairs
),
scored AS (
  SELECT s.a AS item, s.b2 AS other, s.n_both,
         CAST(floor(s.n_both * 1000000.0 /
                    sqrt(CAST(ta.c1 * tb.c1 AS DOUBLE))) AS BIGINT) AS cos_ppm
  FROM sym s JOIN tot ta ON s.a = ta.it JOIN tot tb ON s.b2 = tb.it
)
SELECT CAST(item AS BIGINT) AS item, CAST(other AS BIGINT) AS other,
       n_both, cos_ppm, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER
        (PARTITION BY item ORDER BY cos_ppm DESC, other) AS rn
      FROM scored)
WHERE rn <= 5
"""


def _q_events_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the fair-split companion to
    last-touch (`events_attribution`): every purchase's 1e6 ppm of
    credit divides equally across the same user's touches
    (click/view/signup) in the preceding 7 days, in EXACT integers —
    ``base = 1e6 div n`` per touch and the remainder ``1e6 mod n``
    goes to the most recent touch (tie order (ts, event_id), unique),
    so every purchase's credits sum to exactly 1e6 and both engines
    agree bit-for-bit (float 1/n splits would not).

    Scale: one hash equi-join on user_id with the time predicate as a
    join filter — per-user fan-out bounded by the 7-day activity
    window (the events_attribution contract); the per-purchase n and
    is-last flags ride ONE window PARTITIONED by purchase id."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _source(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    j = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    wn = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id"))
    cred = (
        j.withColumn("__n", F.count(F.lit(1)).over(wn))
        .withColumn("__rn", F.row_number().over(wr))
        .select(
            "channel",
            (
                F.expr("1000000 div __n")
                + F.when(F.col("__rn") == 1, F.expr("1000000 % __n")).otherwise(0)
            ).alias("__credit"),
        )
    )
    return cred.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_credits"),
        F.sum("__credit").cast("bigint").alias("credit_ppm_total"),
    )


ORACLE_EVENTS_MULTITOUCH = """
WITH p AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id AS t_id, user_id AS t_user, ts AS t_ts,
         event_type AS channel
  FROM events WHERE event_type IN ('click', 'view', 'signup')
),
j AS (
  SELECT p.p_id, t.channel, t.t_ts, t.t_id
  FROM p JOIN t ON p.p_user = t.t_user
   AND t.t_ts <= p.p_ts AND t.t_ts > p.p_ts - INTERVAL 7 DAY
),
cred AS (
  SELECT channel,
         1000000 // n + CASE WHEN rn = 1 THEN 1000000 % n ELSE 0 END AS credit
  FROM (SELECT channel,
               COUNT(*) OVER (PARTITION BY p_id) AS n,
               ROW_NUMBER() OVER (PARTITION BY p_id
                                  ORDER BY t_ts DESC, t_id DESC) AS rn
        FROM j)
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(credit) AS BIGINT) AS credit_ppm_total
FROM cred GROUP BY 1
"""


def _q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type — the step-function
    integral (TWAP) that plain AVG gets wrong when observations are
    irregularly spaced: each reading holds until the user's next
    event, so its weight is that holding duration. All arithmetic is
    exact int64: timestamps enter as ``unix_micros``, the holding
    duration is ``(next_us - us) div 1e6`` whole seconds (identical
    floor in both engines), the value as floor-cents, and the final
    TWAP is ONE integer division — no float ever touches the result.

    int64 headroom: the weighted sum is bounded by
    ``max_cents * total_holding_seconds`` per type; at 1e5 cents and
    ~3e13 aggregate cent-seconds headroom stays >1e5x above the sf1
    magnitude (documented, same contract as corpus_source_drift).

    Scale: one window (partitioned by user+type — never global) and
    one map-side-combinable hash aggregate; the last event of each
    key is the only row dropped (no next reading to bound it)."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _source(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    seg = (
        ev.withColumn("next_us", F.lead("us").over(w))
        .filter(F.col("next_us").isNotNull())
        .select(
            "event_type",
            "cents",
            F.expr("(next_us - us) div 1000000").alias("dur_s"),
        )
    )
    agg = seg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("dur_s").cast("bigint").alias("total_s"),
        F.sum(F.col("cents") * F.col("dur_s")).cast("bigint").alias("__w"),
    )
    return agg.select(
        "event_type",
        "n_segments",
        "total_s",
        F.when(F.col("total_s") > 0, F.expr("__w div total_s"))
        .otherwise(F.lit(None))
        .cast("bigint")
        .alias("twap_cents"),
    )


ORACLE_EVENTS_TWAP = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
seg AS (
  SELECT event_type, cents,
         (LEAD(us) OVER (PARTITION BY user_id, event_type
                         ORDER BY us, event_id) - us) // 1000000 AS dur_s
  FROM ev
  QUALIFY dur_s IS NOT NULL
),
agg AS (
  SELECT event_type,
         COUNT(*) AS n_segments,
         SUM(dur_s) AS total_s,
         SUM(cents * dur_s) AS w
  FROM seg GROUP BY 1
)
SELECT event_type,
       CAST(n_segments AS BIGINT) AS n_segments,
       CAST(total_s AS BIGINT) AS total_s,
       CAST(CASE WHEN total_s > 0 THEN w // total_s END AS BIGINT) AS twap_cents
FROM agg
"""


def _q_cust_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout on a DETERMINISTIC hash split: every
    user lands in variant A or B as a pure function of
    ``md5('ab|' || user_id)`` (append-stable, engine-portable — the
    hash_split contract of `split_assign`), conversion is "fired at
    least one purchase event", and the per-variant conversion rate is
    floor-scaled ppm so both engines agree exactly.

    Scale: ONE map-side-combinable aggregate collapses the event log
    to a per-user conversion bit (no distinct + semi-join second
    shuffle); the variant bucket is computed map-side from the hash,
    so the whole query is two hash aggregates, the second over 2
    rows."""
    ev = _source(spark, sf_dir, "events").select(
        "user_id", "event_type"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    tagged = per_user.select(
        F.when(bucket == 0, F.lit("A")).otherwise(F.lit("B")).alias("variant"),
        "converted",
    )
    return (
        tagged.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.expr("(n_converted * 1000000) div n_users").alias("conv_ppm"),
        )
    )


ORACLE_CUST_AB_LIFT = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
),
tagged AS (
  SELECT CASE WHEN CAST(concat('0x', substr(md5(concat('ab|', CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         converted
  FROM per_user
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST((SUM(converted) * 1000000) // COUNT(*) AS BIGINT) AS conv_ppm
FROM tagged GROUP BY 1
"""


def _q_parts_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (operators/graph.bfs_hops) on
    the part co-purchase graph: seeds are the graph's size-1 parts,
    and the result is how much of the basket neighborhood each hop
    ring reaches within 3 hops — the blast-radius question
    (recall expansion / substitution candidates) asked of co-purchase
    graphs. Level-synchronous frontier expansion: one equi-join + one
    anti-join per hop over a checkpointed bidirectional edge frame;
    the expensive basket self-join that builds the edges runs exactly
    ONCE. Output is hop-ring counts with an exact partkey-sum
    checksum pinning ring membership, not just size."""
    from omop_etl_spark.conf import checkpoint as _ckpt
    from omop_etl_spark.operators.graph import bfs_hops

    # the basket pair expansion is the expensive upstream shared by
    # BOTH the operator's edge frame and the seed node-set below —
    # pin it once (edge-bounded) so it executes exactly once
    pairs = _copurchase_pairs(spark, sf_dir).transform(_ckpt)
    part = _source(spark, sf_dir, "part").filter(
        F.col("p_size") == 1
    )
    nodes = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .distinct()
    )
    # NO broadcast hint: the p_size=1 part slice is SF-linear (a fixed
    # fraction of an SF-linear table), so the join side choice belongs
    # to AQE's runtime stats, not a construction-time promise
    seeds = nodes.join(
        part.select(F.col("p_partkey").alias("node")), "node", "left_semi"
    )
    reached = bfs_hops(pairs, seeds, src="u", dst="v", max_hops=3)
    return (
        reached.groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("node").cast("bigint").alias("partkey_sum"),
        )
        .select(F.col("hop").cast("int").alias("hop"), "n_parts", "partkey_sum")
    )


ORACLE_PARTS_BFS_HOPS = """
WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
pairs AS (
  SELECT a.p AS u, c.p AS v, COUNT(*) AS n
  FROM b a JOIN b c ON a.ok = c.ok AND a.p < c.p
  GROUP BY 1, 2
),
e AS (SELECT u, v FROM pairs WHERE n >= 2),
-- MATERIALIZED through the hop chain: each hN is referenced by every
-- later level's NOT IN, and DuckDB's CTE inlining would otherwise
-- re-expand the basket self-join once per reference — exponential
-- re-execution that spilled >50 GB at the sf1 tiling (r15; the same
-- trap _kmeans2_oracle_ctes documents for the Lloyd chain)
ed AS MATERIALIZED (SELECT u AS a, v AS bb FROM e UNION SELECT v, u FROM e),
nodes AS (SELECT DISTINCT a AS node FROM ed),
v0 AS MATERIALIZED (SELECT node FROM nodes
       WHERE node IN (SELECT p_partkey FROM part WHERE p_size = 1)),
h1 AS MATERIALIZED (SELECT DISTINCT ed.bb AS node FROM ed JOIN v0 ON ed.a = v0.node
       WHERE ed.bb NOT IN (SELECT node FROM v0)),
h2 AS MATERIALIZED (SELECT DISTINCT ed.bb AS node FROM ed JOIN h1 ON ed.a = h1.node
       WHERE ed.bb NOT IN (SELECT node FROM v0)
         AND ed.bb NOT IN (SELECT node FROM h1)),
h3 AS (SELECT DISTINCT ed.bb AS node FROM ed JOIN h2 ON ed.a = h2.node
       WHERE ed.bb NOT IN (SELECT node FROM v0)
         AND ed.bb NOT IN (SELECT node FROM h1)
         AND ed.bb NOT IN (SELECT node FROM h2)),
lv AS (
  SELECT node, 0 AS hop FROM v0
  UNION ALL SELECT node, 1 FROM h1
  UNION ALL SELECT node, 2 FROM h2
  UNION ALL SELECT node, 3 FROM h3
)
SELECT CAST(hop AS INT) AS hop,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(node) AS BIGINT) AS partkey_sum
FROM lv GROUP BY 1
"""


def _q_parts_sssp_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED shortest paths (operators/graph.sssp — bounded
    Bellman-Ford) on the part co-purchase graph: edge cost is inverse
    co-purchase frequency (``1e6 div n`` — frequently co-ordered
    parts are "close"), seeds are the size-1 parts, and the answer is
    the 50 nearest non-seed parts within 3 edges — the weighted
    refinement of `parts_bfs_hops`' hop rings (two parts one hop
    apart through a strong edge now rank closer than through a weak
    one). Integer weights make every path sum exact, so both engines
    agree bit-for-bit.

    Scale: the basket pair expansion (the expensive SF-linear stage)
    is pinned ONCE and shared by the edge frame and the seed
    node-set; each Bellman-Ford round is one equi-join of the
    node-bounded distance frame against the checkpointed edges plus a
    min-agg — no path materialization, no frontier explosion. The
    final top-50 is a TakeOrderedAndProject, not a global sort."""
    from omop_etl_spark.conf import checkpoint as _ckpt
    from omop_etl_spark.operators.graph import sssp

    pairs = _copurchase_pairs(spark, sf_dir, with_count=True).transform(_ckpt)
    weighted = pairs.select("u", "v", F.expr("1000000 div n").alias("w"))
    part = _source(spark, sf_dir, "part").filter(
        F.col("p_size") == 1
    )
    nodes = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .distinct()
    )
    seeds = nodes.join(
        part.select(F.col("p_partkey").alias("node")), "node", "left_semi"
    )
    dist = sssp(weighted, seeds, src="u", dst="v", weight="w", max_rounds=3)
    return (
        dist.filter(F.col("dist") > 0)
        .select(F.col("node").cast("bigint").alias("node"),
                F.col("dist").cast("bigint").alias("dist"))
        .orderBy("dist", "node")
        .limit(50)
    )


ORACLE_PARTS_SSSP_NEAREST = """
WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
pairs AS (
  SELECT a.p AS u, c.p AS v, COUNT(*) AS n
  FROM b a JOIN b c ON a.ok = c.ok AND a.p < c.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
ed AS (
  SELECT u AS s, v AS d, 1000000 // n AS w FROM pairs
  UNION ALL
  SELECT v AS s, u AS d, 1000000 // n AS w FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM ed),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
       WHERE node IN (SELECT p_partkey FROM part WHERE p_size = 1)),
d1 AS (SELECT node, MIN(dist) AS dist FROM (
         SELECT node, dist FROM d0
         UNION ALL
         SELECT ed.d AS node, d0.dist + ed.w AS dist
         FROM d0 JOIN ed ON ed.s = d0.node) GROUP BY 1),
d2 AS (SELECT node, MIN(dist) AS dist FROM (
         SELECT node, dist FROM d1
         UNION ALL
         SELECT ed.d AS node, d1.dist + ed.w AS dist
         FROM d1 JOIN ed ON ed.s = d1.node) GROUP BY 1),
d3 AS (SELECT node, MIN(dist) AS dist FROM (
         SELECT node, dist FROM d2
         UNION ALL
         SELECT ed.d AS node, d2.dist + ed.w AS dist
         FROM d2 JOIN ed ON ed.s = d2.node) GROUP BY 1)
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
FROM d3 WHERE dist > 0
ORDER BY dist, node LIMIT 50
"""


def _q_events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day median of event value per (type, day) —
    the robust rolling statistic (spike-immune baseline for anomaly
    thresholds) that a windowed ``median()`` would force into a
    per-row re-sort. Median is the lower-median over cents-quantized
    values (`events_value_quantiles`' rank rule: smallest value whose
    running count reaches ``(n-1) div 2 + 1``), so both engines agree
    exactly.

    Scale design — NO range self-join and NO per-row window re-scan:
    the fact collapses map-side to per-(type, day, value) counts
    (value-domain-bounded), each count row fans out to the <= 7
    target days it contributes to (``explode(sequence(day, day+6))``
    — the `events_stickiness` contribution-expansion pattern, a
    map-side constant fan-out), a semi-join against the observed
    (type, day) spine drops phantom tail days, and the median rank
    rides ONE window over the per-(type, day) value histogram —
    cumulative count ordered by value. Work is O(window_len * distinct
    values), independent of the row count per day."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _source(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    hist = ev.groupBy("event_type", "day", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    spine = hist.select("event_type", "day").distinct()
    contrib = hist.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "cents",
        "c",
    ).join(spine, ["event_type", "day"], "left_semi")
    win = contrib.groupBy("event_type", "day", "cents").agg(
        F.sum("c").alias("n")
    )
    w_cum = (
        Window.partitionBy("event_type", "day")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type", "day")
    x = win.select(
        "event_type",
        "day",
        "cents",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("tot"),
    )
    return x.groupBy("event_type", "day").agg(
        F.max("tot").cast("bigint").alias("n_win"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(tot - 1) div 2 + 1"), F.col("cents")
            )
        ).cast("bigint").alias("med_cents"),
    )


ORACLE_EVENTS_ROLLING_MEDIAN = """
WITH hist AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value * 100) AS BIGINT) AS cents, COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3
),
spine AS (SELECT DISTINCT event_type, day FROM hist),
contrib AS (
  SELECT h.event_type, h.day + CAST(i.i AS INTEGER) AS day, h.cents, h.c
  FROM hist h, (SELECT unnest(generate_series(0, 6)) AS i) i
),
win AS (
  SELECT c.event_type, c.day, c.cents, SUM(c.c) AS n
  FROM contrib c
  JOIN spine s ON s.event_type = c.event_type AND s.day = c.day
  GROUP BY 1, 2, 3
),
cum AS (
  SELECT event_type, day, cents,
         SUM(n) OVER (PARTITION BY event_type, day ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY event_type, day) AS tot
  FROM win
)
SELECT event_type, day,
       CAST(MAX(tot) AS BIGINT) AS n_win,
       CAST(MIN(CASE WHEN cum >= (tot - 1) // 2 + 1 THEN cents END)
            AS BIGINT) AS med_cents
FROM cum GROUP BY 1, 2
"""


def _q_orders_diff_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level CDC drill-down (operators/reconcile.
    diff_column_counts): after `orders_snapshot_diff` says WHICH rows
    changed, this says WHAT changed — per-column changed-row counts
    over the keys present in both snapshots, on the same
    deterministically perturbed rerun (reprices on %89 keys, a status
    migration on %131 keys, drops on %97, appends on %193 — both
    engines derive the identical 'new' snapshot by key arithmetic).

    Scale: one inner hash equi-join projecting ONLY the compared
    columns, one map-side-combinable aggregate holding a fixed vector
    of counters, and a 3-row unpivot of the single aggregate row —
    column count never widens the shuffle."""
    from omop_etl_spark.operators.reconcile import diff_column_counts

    base = _source(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    new = (
        base.withColumn(
            "price_cents",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("price_cents") + 100
            ).otherwise(F.col("price_cents")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 131 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .filter(F.col("o_orderkey") % 97 != 0)
    )
    return diff_column_counts(
        base, new, ["o_orderkey"], ["o_custkey", "o_orderstatus", "price_cents"]
    ).select(F.col("column").alias("col_name"), "n_changed", "n_common")


ORACLE_ORDERS_DIFF_COLUMNS = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
new AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 131 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 89 = 0 THEN price_cents + 100
              ELSE price_cents END AS price_cents
  FROM base WHERE o_orderkey % 97 <> 0
),
j AS (
  SELECT b.o_custkey AS oc, n.o_custkey AS nc,
         b.o_orderstatus AS os, n.o_orderstatus AS ns,
         b.price_cents AS op, n.price_cents AS np
  FROM base b JOIN new n ON b.o_orderkey = n.o_orderkey
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(CASE WHEN oc IS DISTINCT FROM nc THEN 1 ELSE 0 END)
              AS BIGINT) AS chg_cust,
         CAST(SUM(CASE WHEN os IS DISTINCT FROM ns THEN 1 ELSE 0 END)
              AS BIGINT) AS chg_status,
         CAST(SUM(CASE WHEN op IS DISTINCT FROM np THEN 1 ELSE 0 END)
              AS BIGINT) AS chg_price
  FROM j
)
SELECT 'o_custkey' AS col_name, chg_cust AS n_changed, n_common FROM agg
UNION ALL
SELECT 'o_orderstatus', chg_status, n_common FROM agg
UNION ALL
SELECT 'price_cents', chg_price, n_common FROM agg
"""


def _q_docs_greedy_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy bigram-LM decode — the smallest possible "generation"
    loop, run as relational algebra: per source, seed with the
    source's most frequent word, then 4 steps of argmax next-word
    under the corpus bigram model (count DESC, word ASC tiebreak).
    Deterministic end-to-end, so the decoded chains replay exactly in
    SQL — the sanity probe ("what does this corpus' LM babble?") a
    data-quality reviewer actually runs.

    Scale: the bigram model is built once (token-pair counts via the
    JVM zip_with idiom — bigram-TYPE-bounded, sub-linear by Zipf) and
    eagerly checkpointed because all 4 decode steps re-join it; each
    step joins the sources-bounded current frame and takes argmax via
    a per-source PARTITIONED window over that word's out-neighbors.
    Python never touches a row."""
    from omop_etl_spark.conf import checkpoint as _ckpt

    docs = _source(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"
        ).alias("tk"),
    )
    bg = (
        docs.select(
            F.explode(
                F.expr(
                    "zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)), "
                    "slice(tk, 2, greatest(size(tk) - 1, 0)), "
                    "(a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(_ckpt)
    )
    uni = (
        docs.select("source", F.explode("tk").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_seed = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("w")
    )
    cur = (
        uni.withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") == 1)
        .select("source", F.lit(0).alias("step"), F.col("w").alias("word"))
        .transform(_ckpt)
    )
    chain = cur
    w_next = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w2")
    )
    for step in range(1, 5):
        cur = (
            cur.join(bg, cur["word"] == bg["w1"])
            .withColumn("rn", F.row_number().over(w_next))
            .filter(F.col("rn") == 1)
            .select(
                "source", F.lit(step).alias("step"), F.col("w2").alias("word")
            )
            .transform(_ckpt)
        )
        chain = chain.unionAll(cur)
    return chain.select(
        "source", F.col("step").cast("int").alias("step"), "word"
    )


def _duck_greedy_chain() -> str:
    steps = []
    for s in range(1, 5):
        steps.append(f""",
s{s} AS (
  SELECT source, {s} AS step, w2 AS word
  FROM (SELECT p.source, bg.w2, bg.c,
               ROW_NUMBER() OVER (PARTITION BY p.source
                                  ORDER BY bg.c DESC, bg.w2 ASC) AS rn
        FROM s{s - 1} p JOIN bg ON bg.w1 = p.word)
  WHERE rn = 1
)""")
    finals = "\nUNION ALL ".join(
        f"SELECT source, step, word FROM s{s}" for s in range(5)
    )
    return f"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS tk
  FROM documents
),
pairs AS (
  SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
  FROM toks, LATERAL unnest(range(1, greatest(len(tk), 1))) AS r(i)
),
bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
uni AS (
  SELECT source, t.w AS w, COUNT(*) AS n
  FROM toks, LATERAL unnest(tk) AS t(w)
  GROUP BY 1, 2
),
s0 AS (
  SELECT source, 0 AS step, w AS word
  FROM (SELECT source, w,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n DESC, w ASC) AS rn
        FROM uni)
  WHERE rn = 1
){"".join(steps)}
SELECT source, CAST(step AS INT) AS step, word
FROM ({finals})
"""


def _q_docs_exact_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-ALLOCATION stratified sample
    (operators/sampling.exact_allocation_sample): exactly 100
    documents, sources sized by the largest-remainder (Hamilton)
    method — the evaluation-set builder where `sample_stratified`'s
    Bernoulli draw is only right in expectation. Seats are pure
    integer arithmetic (floor share + remainder ranking), membership
    is the md5 unit-hash rank within each source, so the exact id set
    replays in DuckDB.

    Scale: two fact shuffles total (per-source counts; per-source
    PARTITIONED hash-rank window) — the seat math runs on the
    source-bounded frame with the remainder ranking on the stats-gated
    distributed rank path, never a partition-less window over data."""
    from omop_etl_spark.operators.sampling import exact_allocation_sample

    docs = _source(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    out = exact_allocation_sample(docs, ["source"], "doc_id", 100)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "seats"
    )


ORACLE_DOCS_EXACT_ALLOC = """
WITH counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                FROM documents GROUP BY 1),
tot AS (SELECT SUM(n) AS tot_n FROM counts),
sized AS (
  SELECT source, n, (100 * n) // tot_n AS base, (100 * n) % tot_n AS rem
  FROM counts, tot
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rrank
  FROM sized
),
d AS (SELECT 100 - SUM(base) AS D FROM sized),
seats AS (
  SELECT source,
         CAST(base + CASE WHEN rrank <= D THEN 1 ELSE 0 END AS BIGINT)
           AS seats
  FROM rk, d
),
h AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(concat('alloc|',
              CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
),
r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY u ASC, doc_id ASC) AS rn
  FROM h
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.source, s.seats
FROM r JOIN seats s USING (source)
WHERE r.rn <= s.seats
"""


def _q_sketch_logq_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a LOG-LINEAR HISTOGRAM SKETCH
    (operators/sketches.logq_buckets/logq_quantiles — the DDSketch
    family in deterministic integers): per event type, p50/p99
    estimates read off an O(octaves * 32)-row mergeable sketch, with
    the EXACT p50/p99 (the `events_value_quantiles` rank rule)
    alongside as calibration — the sketch's <= 2^-5 relative-error
    contract is visible in the result row itself.

    This is the quantile twin of `sketch_hll_users`: at 100 TB the
    exact path's distinct-value spine is the cost, and the sketch
    bounds state to ~500 rows per group, merges by plain SUM (partial
    aggregation does the distribution), and — unlike
    ``percentile_approx`` or real DDSketch — replays bit-for-bit in
    any engine because the bucket index uses integer bit-length, not
    transcendental ``log``.

    Scale: sketch path = one map-side-combinable scan into the
    bucket-bounded frame, then windows over sketch rows only. The
    exact path is present ONLY as calibration — the first thing to
    drop at 100 TB."""
    from omop_etl_spark.operators.sketches import logq_buckets, logq_quantiles

    ev = _source(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    sk = logq_buckets(ev, ["event_type"], "cents", m=5)
    est = logq_quantiles(
        sk, ["event_type"], [(1, 2), (99, 100)], m=5
    ).select(
        "event_type",
        "n",
        F.col("q1_2").alias("p50_est_cents"),
        F.col("q99_100").alias("p99_est_cents"),
    )
    # exact calibration: the events_value_quantiles histogram rank
    hist = ev.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    x = hist.select(
        "event_type",
        "cents",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_tot).alias("tot"),
    )
    exact = x.groupBy("event_type").agg(
        F.min(
            F.when(F.expr("cum >= (tot - 1) div 2 + 1"), F.col("cents"))
        ).cast("bigint").alias("p50_exact_cents"),
        F.min(
            F.when(F.expr("cum >= (99 * (tot - 1)) div 100 + 1"), F.col("cents"))
        ).cast("bigint").alias("p99_exact_cents"),
    )
    return est.join(exact, "event_type")


ORACLE_SKETCH_LOGQ_VALUE = """
WITH v AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
pos AS (SELECT * FROM v WHERE cents >= 1),
b AS (
  SELECT event_type,
         length(bin(cents)) * 32
           + ((cents * 32) // (CAST(1 AS BIGINT) << (length(bin(cents)) - 1))
              - 32) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pos GROUP BY 1, 2
),
cumb AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM b
),
est AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         MIN(CASE WHEN cum >= (1 * (n - 1)) // 2 + 1 THEN bucket END) AS b50,
         MIN(CASE WHEN cum >= (99 * (n - 1)) // 100 + 1 THEN bucket END) AS b99
  FROM cumb GROUP BY 1
),
esty AS (
  SELECT event_type, n,
         CAST((CAST(1 AS BIGINT) << (CAST(b50 // 32 AS INT) - 1))
              * (32 + b50 % 32) // 32 AS BIGINT) AS p50_est_cents,
         CAST((CAST(1 AS BIGINT) << (CAST(b99 // 32 AS INT) - 1))
              * (32 + b99 % 32) // 32 AS BIGINT) AS p99_est_cents
  FROM est
),
hist AS (
  SELECT event_type, cents, COUNT(*) AS c FROM v GROUP BY 1, 2
),
cumx AS (
  SELECT event_type, cents,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS tot
  FROM hist
),
exact AS (
  SELECT event_type,
         CAST(MIN(CASE WHEN cum >= (tot - 1) // 2 + 1 THEN cents END)
              AS BIGINT) AS p50_exact_cents,
         CAST(MIN(CASE WHEN cum >= (99 * (tot - 1)) // 100 + 1 THEN cents END)
              AS BIGINT) AS p99_exact_cents
  FROM cumx GROUP BY 1
)
SELECT e.event_type, e.n, e.p50_est_cents, e.p99_est_cents,
       x.p50_exact_cents, x.p99_exact_cents
FROM esty e JOIN exact x ON e.event_type = x.event_type
"""


def _q_cust_recs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end item-based collaborative-filtering RECOMMENDATION —
    the consumer of `parts_item_sim`'s similarity model: for every
    customer, score every not-yet-purchased part reachable through
    the top-5-similar lists of the parts they did purchase
    (score = sum of cos_ppm contributions, exact integers), and keep
    the top 3 per customer. "Customers who bought X also bought" as
    one declarative plan.

    Scale: the similarity model is item-bounded (top-5 per part) and
    joins the SF-linear ownership frame on the item hash; candidate
    scoring is a per-(customer, candidate) sum with bounded fan-out
    (<= 5 per owned part); already-owned candidates drop via one
    anti-join; the final top-3 is a per-customer-PARTITIONED window
    (WindowGroupLimit), never a global sort."""
    from omop_etl_spark.conf import checkpoint as _ckpt
    from omop_etl_spark.operators.graph import cooccurrence_topk_similar

    li = _source(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    orders = _source(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("basket"), F.col("o_custkey").alias("cust")
    )
    # owned feeds BOTH the scoring join and the already-purchased
    # anti-join — pin it so the lineitem-orders join + distinct runs
    # once, not twice (A/B at sf0.1: ~15% whole-query, 2x on the
    # ownership stage itself; identical 44,746 rows)
    owned = (
        li.join(orders, "basket").select("cust", "item").distinct()
        .transform(_ckpt)
    )
    sim = cooccurrence_topk_similar(li, "basket", "item", k=5, min_pairs=2)
    cand = (
        owned.join(sim.select("item", "other", "cos_ppm"), "item")
        .groupBy("cust", F.col("other").alias("rec"))
        .agg(
            F.sum("cos_ppm").cast("bigint").alias("score_ppm"),
            F.count(F.lit(1)).cast("bigint").alias("n_contrib"),
        )
    )
    fresh = cand.join(
        owned.select("cust", F.col("item").alias("rec")),
        ["cust", "rec"],
        "left_anti",
    )
    w = Window.partitionBy("cust").orderBy(
        F.col("score_ppm").desc(), F.col("rec")
    )
    return (
        fresh.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("cust").cast("bigint").alias("cust"),
            F.col("rec").cast("bigint").alias("rec"),
            "score_ppm",
            "n_contrib",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


ORACLE_CUST_RECS_TOPK = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
tot AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS c1 FROM b GROUP BY 1),
pairs AS (
  SELECT x.it AS a, y.it AS b2, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (
  SELECT a, b2, n_both FROM pairs
  UNION ALL
  SELECT b2 AS a, a AS b2, n_both FROM pairs
),
scored AS (
  SELECT s.a AS item, s.b2 AS other,
         CAST(floor(s.n_both * 1000000.0 /
                    sqrt(CAST(ta.c1 * tb.c1 AS DOUBLE))) AS BIGINT) AS cos_ppm
  FROM sym s JOIN tot ta ON s.a = ta.it JOIN tot tb ON s.b2 = tb.it
),
sim AS (
  SELECT item, other, cos_ppm
  FROM (SELECT *, ROW_NUMBER() OVER
          (PARTITION BY item ORDER BY cos_ppm DESC, other) AS rn
        FROM scored)
  WHERE rn <= 5
),
owned AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cand AS (
  SELECT w.cust, s.other AS rec,
         CAST(SUM(s.cos_ppm) AS BIGINT) AS score_ppm,
         CAST(COUNT(*) AS BIGINT) AS n_contrib
  FROM owned w JOIN sim s ON w.item = s.item
  GROUP BY 1, 2
),
fresh AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM owned w
                    WHERE w.cust = c.cust AND w.item = c.rec)
)
SELECT CAST(cust AS BIGINT) AS cust, CAST(rec AS BIGINT) AS rec,
       score_ppm, n_contrib, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER
        (PARTITION BY cust ORDER BY score_ppm DESC, rec) AS rn
      FROM fresh)
WHERE rn <= 3
"""


def _q_sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA — the property that makes HyperLogLog the
    100 TB distinct-count workhorse: registers of a union are the
    element-wise MAX of the parts' registers, so |A∪B| needs no
    re-scan of the data, and |A∩B| follows by inclusion-exclusion —
    all from two already-built 4096-row sketches. Estimates ride
    operators/sketches.hll_estimate's exact-integer pipeline
    (est_micro, floor-scaled once), so both engines agree
    bit-for-bit; exact one-pass calibration columns sit alongside to
    pin the sketch against truth in the same row.

    Scale: the sketch path scans events once into O(2^b)-row
    register state (map-side MAX partials); the MAX-merge and the
    estimates run on register-bounded frames, checkpointed because
    the register frame fans out to the per-set and union consumers.
    The exact path is one map-side-combinable per-user aggregate —
    present only as calibration, and the first thing to drop at
    100 TB."""
    from omop_etl_spark.conf import checkpoint as _ckpt
    from omop_etl_spark.operators.sketches import hll_estimate, hll_registers

    ev = (
        _source(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
    )
    regs = hll_registers(ev, ["event_type"], "user_id").transform(_ckpt)
    named = regs.select(
        F.col("event_type").alias("set_name"), "bucket", "register"
    )
    union_regs = (
        regs.groupBy("bucket")
        .agg(F.max("register").alias("register"))
        .select(F.lit("union").alias("set_name"), "bucket", "register")
    )
    est = hll_estimate(named.unionAll(union_regs), ["set_name"])

    def pick(s: str, c: str):
        return F.max(F.when(F.col("set_name") == s, F.col(c))).cast("bigint")

    sk = (
        est.agg(
            pick("click", "reg_sum").alias("reg_sum_click"),
            pick("purchase", "reg_sum").alias("reg_sum_purchase"),
            pick("union", "reg_sum").alias("reg_sum_union"),
            pick("click", "est_micro").alias("est_click_micro"),
            pick("purchase", "est_micro").alias("est_purchase_micro"),
            pick("union", "est_micro").alias("est_union_micro"),
        )
        .withColumn(
            "est_intersect_micro",
            (
                F.col("est_click_micro")
                + F.col("est_purchase_micro")
                - F.col("est_union_micro")
            ).cast("bigint"),
        )
    )
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("c"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("p"),
    )
    exact = flags.agg(
        F.sum("c").cast("bigint").alias("exact_click"),
        F.sum("p").cast("bigint").alias("exact_purchase"),
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
        F.sum(F.col("c") * F.col("p")).cast("bigint").alias("exact_intersect"),
    )
    return sk.crossJoin(exact)


_HLL_EST_MICRO = """
CASE WHEN (4096 - n_present) > 0 AND est_raw * 2 <= 5 * 4096
     THEN 4096 * CAST(floor(ln(4096.0 / (4096 - n_present)) * 1000000) AS BIGINT)
     ELSE est_raw * 1000000 END"""

ORACLE_SKETCH_HLL_UNION = f"""
WITH h AS (
  SELECT event_type, md5(concat('hll|', CAST(user_id AS VARCHAR))) AS hx,
         user_id
  FROM events WHERE event_type IN ('click', 'purchase')
),
parts AS (
  SELECT event_type,
         CAST(concat('0x', substr(hx, 1, 3)) AS BIGINT) AS bucket,
         regexp_replace(substr(hx, 4, 15), '^0+', '') AS stripped
  FROM h
),
rho AS (
  SELECT event_type, bucket,
         CASE WHEN stripped = '' THEN 61
              ELSE (15 - length(stripped)) * 4
                   + CASE WHEN substr(stripped, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 0
                          WHEN substr(stripped, 1, 1) IN ('4','5','6','7') THEN 1
                          WHEN substr(stripped, 1, 1) IN ('2','3') THEN 2
                          ELSE 3 END + 1 END AS rho
  FROM parts
),
regs AS (SELECT event_type, bucket, MAX(rho) AS register FROM rho GROUP BY 1, 2),
allregs AS (
  SELECT event_type AS set_name, bucket, register FROM regs
  UNION ALL
  SELECT 'union', bucket, MAX(register) FROM regs GROUP BY 1, 2
),
agg AS (
  SELECT set_name,
         COUNT(*) AS n_present,
         SUM(register) AS reg_sum,
         SUM(CAST((CAST(1 AS BIGINT) << (61 - register)) AS HUGEINT)) AS ssum
  FROM allregs GROUP BY 1
),
est AS (
  SELECT set_name,
         n_present,
         CAST(reg_sum AS BIGINT) AS reg_sum,
         CAST(CAST('{_HLL_NUM}' AS HUGEINT) //
              ({_HLL_DEN_ALPHA} * (ssum + (4096 - n_present) * CAST('{1 << 61}' AS HUGEINT)))
              AS BIGINT) AS est_raw
  FROM agg
),
em AS (
  SELECT set_name, reg_sum, CAST({_HLL_EST_MICRO} AS BIGINT) AS est_micro
  FROM est
),
sk AS (
  SELECT
    CAST(MAX(CASE WHEN set_name = 'click' THEN reg_sum END) AS BIGINT) AS reg_sum_click,
    CAST(MAX(CASE WHEN set_name = 'purchase' THEN reg_sum END) AS BIGINT) AS reg_sum_purchase,
    CAST(MAX(CASE WHEN set_name = 'union' THEN reg_sum END) AS BIGINT) AS reg_sum_union,
    CAST(MAX(CASE WHEN set_name = 'click' THEN est_micro END) AS BIGINT) AS est_click_micro,
    CAST(MAX(CASE WHEN set_name = 'purchase' THEN est_micro END) AS BIGINT) AS est_purchase_micro,
    CAST(MAX(CASE WHEN set_name = 'union' THEN est_micro END) AS BIGINT) AS est_union_micro
  FROM em
),
flags AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
),
exact AS (
  SELECT CAST(SUM(c) AS BIGINT) AS exact_click,
         CAST(SUM(p) AS BIGINT) AS exact_purchase,
         CAST(COUNT(*) AS BIGINT) AS exact_union,
         CAST(SUM(c * p) AS BIGINT) AS exact_intersect
  FROM flags
)
SELECT sk.*,
       CAST(est_click_micro + est_purchase_micro - est_union_micro AS BIGINT)
         AS est_intersect_micro,
       exact.*
FROM sk, exact
"""


def _q_embed_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_topk,
    Jégou et al. 2011): 4 subspaces x 8 codes learned by one exact
    fixed-point Lloyd round, every vector encoded as 4 one-byte
    codes, and the smallest-id query answered by ASYMMETRIC DISTANCE
    — 4 broadcast-table lookups per corpus vector, never touching
    the vectors at search time (a ~99% scan reduction at dim 64; the
    memory-bandwidth trick behind billion-scale FAISS indexes). The
    exact re-ranked distance rides alongside so quantization error
    is observable. Fully integer arithmetic end-to-end — the oracle
    replays train, encode, and search bit-for-bit."""
    from omop_etl_spark.operators.similarity import pq_topk

    emb = _spread_read(spark, sf_dir, "embeddings")
    return pq_topk(emb, dim=64, m=4, k=8, train_iters=1, topk=10)


def _oracle_embed_pq_topk() -> str:
    m, w, k, topk = 4, 16, 8, 10
    dist = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " t -> (t[1] - t[2]) * (t[1] - t[2]))) AS BIGINT)"
    )
    subs = "\n  UNION ALL\n".join(
        f"  SELECT vid, {s} AS s, xq[{s * w + 1}:{s * w + w}] AS sxq FROM q"
        for s in range(m)
    )
    seed_subs = "\n  UNION ALL\n".join(
        f"  SELECT cid, {s} AS s, xq[{s * w + 1}:{s * w + w}] AS cq FROM seedrows"
        for s in range(m)
    )
    q_subs = "\n  UNION ALL\n".join(
        f"  SELECT qid, {s} AS s, xq[{s * w + 1}:{s * w + w}] AS qsq FROM qrow"
        for s in range(m)
    )
    assign = """
a{t} AS (
  SELECT vid, s, sxq, cid, dist,
         row_number() OVER (PARTITION BY vid, s ORDER BY dist, cid) AS rn
  FROM (SELECT sub.vid, sub.s, sub.sxq, c.cid, {d} AS dist
        FROM sub JOIN {c} c ON sub.s = c.s)
)"""
    return (
        f"""
WITH q AS (
  SELECT vec_id AS vid,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS xq
  FROM embeddings
),
sub AS (
{subs}
),
seedrows AS (
  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INT) AS cid, xq
  FROM q ORDER BY vid LIMIT {k}
),
cents0 AS (
{seed_subs}
),"""
        + assign.format(t=1, c="cents0", d=dist.format(a="sub.sxq", b="c.cq"))
        + """,
w1 AS (SELECT vid, s, sxq, cid FROM a1 WHERE rn = 1),
mm AS (SELECT s, cid, generate_subscripts(sxq, 1) AS pos, unnest(sxq) AS x FROM w1),
cm AS (SELECT s, cid, pos, CAST(floor(AVG(x)) AS BIGINT) AS mx FROM mm GROUP BY 1, 2, 3),
cents1 AS (SELECT s, cid, list(mx ORDER BY pos) AS cq FROM cm GROUP BY 1, 2),"""
        + assign.format(t=2, c="cents1", d=dist.format(a="sub.sxq", b="c.cq"))
        + f""",
codes AS (SELECT vid, s, cid AS code FROM a2 WHERE rn = 1),
qrow AS (SELECT vid AS qid, xq FROM q ORDER BY vid LIMIT 1),
qsub AS (
{q_subs}
),
lut AS (
  SELECT qsub.qid, c.s, c.cid,
         {dist.format(a="qsub.qsq", b="c.cq")} AS qdist
  FROM qsub JOIN cents1 c ON qsub.s = c.s
),
approx AS (
  SELECT codes.vid, lut.qid, SUM(lut.qdist) AS approx_dist_sq
  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.cid
  GROUP BY 1, 2
),
top AS (
  SELECT vid, qid, approx_dist_sq FROM approx
  WHERE vid <> qid ORDER BY approx_dist_sq, vid LIMIT {topk}
),
ex AS (
  SELECT t.vid, t.approx_dist_sq,
         {dist.format(a="q.xq", b="qrow.xq")} AS exact_dist_sq
  FROM top t JOIN q ON t.vid = q.vid CROSS JOIN qrow
)
SELECT CAST(row_number() OVER (ORDER BY approx_dist_sq, vid) AS INT) AS rank,
       CAST(vid AS BIGINT) AS vec_id,
       CAST(approx_dist_sq AS BIGINT) AS approx_dist_sq,
       CAST(exact_dist_sq AS BIGINT) AS exact_dist_sq
FROM ex
"""
    )


def _q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream PATH MINING: the top-10 most common session-opening
    event sequences (first 3 event types of each session, in order) —
    the product-analytics question "how do sessions start?". Sessions
    are the islands contract of `events_sessionize` (30-min gap,
    (ts, event_id) order); the path is an ordered in-group collect of
    the first 3 types joined with '>'; the final top-10 has a full
    deterministic tiebreak (count DESC, path ASC).

    Scale: all three windows and the path aggregate share ONE
    user-keyed hash shuffle (same-partitioning reuse); the path-count
    aggregate is map-side combinable over a bounded key domain
    (|event_types|^3) and the top-10 compiles to TakeOrdered — no
    global sort of paths."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _source(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
    )
    sess = ev.withColumn("__brk", brk).withColumn(
        "__sess",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wp = Window.partitionBy("user_id", "__sess").orderBy("ts", "event_id")
    first3 = sess.withColumn("__rn", F.row_number().over(wp)).filter(
        F.col("__rn") <= 3
    )
    paths = first3.groupBy("user_id", "__sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


def _q_embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means FIRST, exact cosine
    pruning only WITHIN each cluster — the move that turns semantic
    dedup's O(n^2) all-pairs scan into O(sum of cluster^2), the only
    way it runs at 100 TB. Clustering is the exact fixed-point
    TWO-LEVEL Lloyd of `embed_kmeans2` (same operator, same oracle
    CTEs); a vector is dropped when a smaller-id cluster-mate sits
    above the cosine threshold. The cell count SELF-SCALES (r12,
    VERDICT r11 #1): ``(k1, k2) = two_level_k(n)`` pins the expected
    cell size at ~150 rows so pair work is LINEAR in the corpus,
    while the coarse-sqrt-then-sub-cluster split keeps BOTH
    assignment stages at n*O(sqrt(K)) with sqrt(K)-row broadcasts —
    the r11 flat self-scaling k fixed the pair term but left an N*k
    assign with k ∝ N. At the oracle's sf0.01 (n=500) the derivation
    lands on exactly (8, 4) = 32 cells, replayed by the chained CTEs.
    The threshold test is EXACT integer cross-
    multiplication — ``(5*dot)^2 >= 4*na*nb`` for cos >= 0.4 on the
    quantized vectors (decimal(18,0) products, no sqrt, no float) —
    so both engines agree bit-for-bit. Output: per-cluster kept /
    dropped counts with a kept-id checksum.

    Scale: the quantized+assigned frame is checkpointed once (both
    self-join sides and the final aggregate consume it); the
    cluster-keyed self-join shuffles on cluster_id and its fan-out is
    the per-cluster square — the documented SemDeDup contract, tuned
    by k."""
    from omop_etl_spark.conf import checkpoint as _ckpt
    from omop_etl_spark.operators.kmeans import (
        kmeans_assign_two_level,
        two_level_k,
    )

    # count the RAW scan (Catalyst serves count(*) from parquet footer
    # metadata); counting after spread() would pay a read + shuffle
    k1, k2 = two_level_k(_source(spark, sf_dir, "embeddings").count())
    emb = _spread_read(spark, sf_dir, "embeddings")
    asn = kmeans_assign_two_level(emb, k1=k1, k2=k2, iters=2).select(
        "vec_id", "cluster_id"
    )
    q = emb.select(
        "vec_id",
        F.transform(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            lambda x: F.floor(x * F.lit(1000000.0)),
        ).alias("xq"),
    )
    nn = F.aggregate(
        F.zip_with("xq", "xq", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    withv = (
        asn.join(q, "vec_id")
        .select("vec_id", "cluster_id", "xq", nn.alias("nn"))
        .transform(_ckpt)
    )
    a = withv.alias("a")
    b = withv.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.xq"), F.col("b.xq"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            dot.alias("dot"),
            F.col("a.nn").alias("na"),
            F.col("b.nn").alias("nb"),
        )
    )
    near = pairs.filter(
        (F.col("dot") > 0)
        & (
            F.expr(
                "CAST(5 * dot AS DECIMAL(18,0)) * CAST(5 * dot AS DECIMAL(18,0))"
                " >= CAST(4 * na AS DECIMAL(18,0)) * CAST(nb AS DECIMAL(18,0))"
            )
        )
    ).select("vec_id").distinct()
    flagged = withv.join(
        near.withColumn("__dup", F.lit(1)), "vec_id", "left"
    ).select(
        "cluster_id",
        "vec_id",
        F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup"),
    )
    return flagged.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("is_dup").cast("bigint").alias("n_dropped"),
        F.sum(F.when(F.col("is_dup") == 0, F.col("vec_id")).otherwise(0))
        .cast("bigint")
        .alias("kept_id_sum"),
    ).select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_vectors",
        "n_dropped",
        "kept_id_sum",
    )


def _oracle_embed_semdedup(k1: int = 8, k2: int = 4) -> str:
    # (k1, k2) must equal the gate's two_level_k(n) at the comparison
    # SF — (8, 4) at the driver's sf0.01 (n=500); an off-SF check
    # passes the right pair explicitly (scripts/check_sf1_embed.py)
    return (
        "WITH "
        + _kmeans2_oracle_ctes(k1=k1, k2=k2)
        + f""",
sd AS (
  SELECT vec_id, c * {k2} + sub_id AS cluster_id, xq,
         CAST(list_sum(list_transform(xq, x -> x * x)) AS BIGINT) AS nn
  FROM fw2
),
pr AS (
  SELECT b.vec_id,
         CAST(list_sum(list_transform(list_zip(a.xq, b.xq),
                                      t -> t[1] * t[2])) AS BIGINT) AS dot,
         a.nn AS na, b.nn AS nb
  FROM sd a JOIN sd b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
),
near AS (
  SELECT DISTINCT vec_id FROM pr
  WHERE dot > 0
    AND CAST(5 * dot AS HUGEINT) * CAST(5 * dot AS HUGEINT)
        >= CAST(4 * na AS HUGEINT) * CAST(nb AS HUGEINT)
),
fl AS (
  SELECT sd.cluster_id, sd.vec_id,
         CASE WHEN near.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
  FROM sd LEFT JOIN near ON sd.vec_id = near.vec_id
)
SELECT CAST(cluster_id AS INT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(is_dup) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN is_dup = 0 THEN vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM fl GROUP BY 1
"""
    )


def _q_embed_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oversized-cell STAR-LINK branch of
    ``similarity.scoped_cosine_pairs`` (VERDICT r12 #2), driver-gated
    with a cap that BINDS at every test SF: flat ``k=8`` Lloyd (the
    ``embed_kmeans`` oracle chain) puts sf0.01's 500 vectors into
    cells of 52–74 members, so ``max_cell=62`` splits the corpus into
    all-pairs cells (≤62) AND star-linked cells (>62) — both join
    branches execute and are value-replayed. In a star-linked cell
    every member scores only against the min-id hub (linear per-cell
    work, the k-means-doesn't-balance-cells defense: a web-scale dup
    blob lands in ONE cell and would otherwise be quadratic again);
    connected components over the union then recover full groups —
    the CC step is the recovery contract the cap relies on, so the
    gate replays it too (``assign_clusters``, min-id label
    propagation). Threshold 0.2 keeps a non-trivial edge set on the
    synthetic corpus (max pairwise cosine ~0.5, no planted dups).
    Output: per-vector CC cluster id + survivor flag — all integers,
    hash-stable."""
    from omop_etl_spark.operators.cluster import assign_clusters
    from omop_etl_spark.operators.similarity import scoped_cosine_pairs

    emb = _spread_read(spark, sf_dir, "embeddings")
    pairs = scoped_cosine_pairs(emb, threshold=0.2, k=8, iters=2, max_cell=62)
    return assign_clusters(emb, pairs, id_col="vec_id").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "is_survivor",
    )


def _oracle_embed_semdedup_capped() -> str:
    return (
        "WITH RECURSIVE "
        + _kmeans_oracle_ctes(k=8)
        + """,
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT e.vec_id, w2.cluster_id, e.v
       FROM e JOIN w2 ON e.vec_id = w2.vec_id),
st AS (SELECT vec_id, cluster_id, v,
              COUNT(*) OVER (PARTITION BY cluster_id) AS csz,
              MIN(vec_id) OVER (PARTITION BY cluster_id) AS hub
       FROM sc),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM st a JOIN st b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE a.csz <= 62
  UNION ALL
  SELECT a.vec_id, b.vec_id, a.v, b.v
  FROM st a JOIN st b ON a.cluster_id = b.cluster_id
  WHERE a.csz > 62 AND a.vec_id = a.hub AND b.vec_id <> b.hub
),
pairs AS (
  SELECT id_a, id_b FROM cand
  WHERE list_dot_product(va, vb) /
        (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) >= 0.2
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.id = e2.v
)
SELECT CAST(id AS BIGINT) AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN MIN(r) = id THEN 1 ELSE 0 END AS INT) AS is_survivor
FROM reach GROUP BY id
"""
    )


ORACLE_EVENTS_TOP_PATHS = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
),
r AS (
  SELECT user_id, sess, event_type,
         row_number() OVER (PARTITION BY user_id, sess
                            ORDER BY ts, event_id) AS rn
  FROM s
),
p AS (
  SELECT user_id, sess, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 3 GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 10
"""


def _q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily spend series regularized onto each user's own
    day span with LINEAR interpolation across interior gaps in exact
    int64 (operators/temporal.resample_interp — the trend-preserving
    companion to resample_ffill): missing day t between observations
    (t0,v0),(t1,v1) gets floor((v0*(t1-t) + v1*(t-t0))/(t1-t0)) via
    pure integer floor-division (pmod construction — `/` on bigints
    is a double divide, `div` truncates on negatives), so both
    engines replay it bit-for-bit. Edge days carry the boundary value.
    One sequence-explode grid per user + two running windows on the
    user hash partitioning — no self-join, no global window."""
    from omop_etl_spark.operators.temporal import resample_interp

    ev = _source(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id"), F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    return resample_interp(daily, ["user_id"], "day", "cents", "interp_cents")


ORACLE_EVENTS_GAP_FILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
grid AS (
  SELECT s.user_id, CAST(g.d AS DATE) AS day
  FROM span s, (SELECT unnest(generate_series(s.lo, s.hi, INTERVAL 1 DAY)) AS d) g
),
j AS (
  SELECT g.user_id, g.day, d.cents
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
),
br AS (
  SELECT user_id, day, cents,
    LAST_VALUE(cents IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    FIRST_VALUE(cents IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
),
calc AS (
  SELECT user_id, day, cents, pv, nv,
         pv * (nd - day) + nv * (day - pd) AS num,
         nd - pd AS den
  FROM br
)
SELECT user_id, day, cents IS NOT NULL AS observed,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
                 WHEN pv IS NULL THEN nv
                 WHEN nv IS NULL THEN pv
                 ELSE (num - ((num % den + den) % den)) // den
            END AS BIGINT) AS interp_cents
FROM calc
"""


BM25_QUERY_TERMS = ("hash", "join", "spark", "vector")


def _q_docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the corpus
    (operators/chunking.bm25_topk): the lexical scorer a RAG /
    training-data search stack starts from. Per-(doc, term)
    contributions are floored to integer micro-units under a FIXED
    double expression tree (the bigram-surprisal determinism
    contract), per-doc totals are exact integer sums, and the global
    top-k rides orderBy+limit (TakeOrdered — per-partition top-k,
    k-row driver merge; no partition-less window touches the
    SF-linear frame). The token explode filters to the 4 query terms
    map-side, so the shuffled tf frame is query-bounded per doc."""
    from omop_etl_spark.operators.chunking import bm25_topk

    docs = _spread_read(spark, sf_dir, "documents")
    out = bm25_topk(docs, list(BM25_QUERY_TERMS), k=20)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_terms_matched",
        "score_micro",
        "rank",
    )


def _bm25_scored_ctes() -> str:
    """The shared BM25 scoring pipeline (words -> dl -> stats -> tf ->
    dfq -> contrib -> scored), used by both the plain top-k oracle and
    the hybrid-RRF oracle so the two replay IDENTICAL scoring."""
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""words AS (
  SELECT doc_id, t.w AS term
  FROM documents,
       (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w) t
  WHERE t.w <> ''
),
dl AS (
  SELECT d.doc_id, COALESCE(c.c, 0) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, COUNT(*) AS c FROM words GROUP BY 1) c
    ON d.doc_id = c.doc_id
),
stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM words
  WHERE term IN ({terms}) GROUP BY 1, 2
),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         CAST(floor((ln((s.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
           ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 *
             (CAST(dl.dl * s.n AS DOUBLE) / s.t))))) * 1000000.0) AS BIGINT) AS c
  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats s
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         CAST(SUM(c) AS BIGINT) AS score_micro
  FROM contrib GROUP BY 1
)"""


def _oracle_docs_bm25_topk() -> str:
    return f"""
WITH {_bm25_scored_ctes()}
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_terms_matched, score_micro,
       CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20
"""


HYBRID_RRF_K_EACH = 100
HYBRID_RRF_C = 60
HYBRID_RRF_K = 20


def _q_docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical) and embedding-cosine (dense)
    rankers fused with reciprocal-rank fusion
    (operators/similarity.rrf_fuse) — the standard two-tower search
    stack. Each ranker contributes its top-100; the fusion is PURE
    integer (1e9 div (60 + rank) summed per doc), so determinism
    needs nothing beyond the two rankers' own contracts (BM25's
    micro-unit floors; cosine's sequential-fold dot product + round-6
    ranking, the sim_topk contract). The dense query is the corpus
    vector vec_id=0 (embeddings and documents share the id space);
    the fused frame is 2*100 rows regardless of corpus size."""
    from omop_etl_spark.operators.chunking import bm25_topk
    from omop_etl_spark.operators.similarity import cosine_topk, rrf_fuse

    docs = _spread_read(spark, sf_dir, "documents")
    emb = _spread_read(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, list(BM25_QUERY_TERMS), k=HYBRID_RRF_K_EACH).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "rank"
    )
    # raw (unrounded) scores: the rank cut must agree bit-for-bit with
    # the oracle, and the raw sequential-fold dot products are IEEE-
    # identical across engines (the sim_topk contract); round-6 would
    # collapse near-ties differently at the k boundary.
    # limit(1) after the pk filter: exactly one row matches, and the
    # explicit Limit is the row-collapsing node that PROVES the
    # cosine_topk broadcast is bounded (the plan-walking hint guard
    # accepts it structurally instead of via the exemption list)
    cos = cosine_topk(
        emb.filter(F.col("vec_id") == 0).limit(1),
        emb,
        k=HYBRID_RRF_K_EACH,
        round_digits=None,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    cosr = (
        cos.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(F.col("neighbor_id").cast("bigint").alias("doc_id"), "rank")
    )
    return rrf_fuse(
        [bm, cosr], "doc_id", "rank", k=HYBRID_RRF_K, c=HYBRID_RRF_C
    )


def _oracle_docs_hybrid_rrf() -> str:
    return f"""
WITH {_bm25_scored_ctes()},
bmr AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS r
  FROM (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rn
        FROM scored)
  WHERE rn <= {HYBRID_RRF_K_EACH}
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cosx AS (
  SELECT c.vec_id AS doc_id,
         list_dot_product(q.qv, c.cv) /
         (sqrt(list_dot_product(q.qv, q.qv)) *
          sqrt(list_dot_product(c.cv, c.cv))) AS score
  FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c, q
),
cosr AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS r
  FROM (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM cosx)
  WHERE rn <= {HYBRID_RRF_K_EACH}
),
u AS (SELECT doc_id, r FROM bmr UNION ALL SELECT doc_id, r FROM cosr),
fused AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rankers,
         CAST(SUM(1000000000 // ({HYBRID_RRF_C} + r)) AS BIGINT) AS rrf_score
  FROM u GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_rankers, rrf_score,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_RRF_K}
"""


def _q_orders_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order 90-day trailing spend per customer — the rolling
    time-RANGE window (not row-count frame) every LTV / credit-risk
    feature pipeline needs: for each order, the exact-cents sum of
    the same customer's orders dated within the preceding 90 days
    inclusive. One window, PARTITIONED by customer and ordered by
    epoch-day with rangeBetween(-89, 0) — same-day peer orders fall
    in both frames identically on both engines, and the sum is exact
    int64, so the result is fully deterministic. Scale: hash
    partition on custkey, no global window, no self-join (the naive
    range self-join would shuffle orders x orders)."""
    orders = _spread_read(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    base = orders.select(
        F.col("o_orderkey").cast("bigint").alias("orderkey"),
        F.col("o_custkey").cast("bigint").alias("custkey"),
        od.alias("order_date"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.datediff(od, F.lit("1970-01-01")).alias("__day"),
    )
    w = (
        Window.partitionBy("custkey")
        .orderBy("__day")
        .rangeBetween(-89, 0)
    )
    return base.select(
        "orderkey",
        "custkey",
        "order_date",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("trailing_cents"),
    )


ORACLE_ORDERS_TRAILING_SPEND = """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
         CAST(o_custkey AS BIGINT) AS custkey,
         CAST(o_orderdate AS DATE) AS order_date,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day
  FROM orders
)
SELECT orderkey, custkey, order_date, cents,
       CAST(SUM(cents) OVER (
         PARTITION BY custkey ORDER BY day
         RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cents
FROM base
"""


LEARN_BPE_K = 32


def _q_docs_learn_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-table TRAINING over the corpus (VERDICT
    r8 #4 — the step the fixed-table encode path presupposed):
    k rounds of exact weighted pair-count argmax with lexicographic
    tie-break, applied left-to-right non-overlapping per round
    (operators/bpe.learn_merges; single-node semantics pinned to
    py_learn_merges by tests/test_bpe.py).

    Scale shape: the loop state is the DISTINCT-word symbol frame
    (dictionary encoding), checkpointed each round; per round one
    map-side-combined pair aggregate + a 1-row TakeOrdered collect +
    one JVM fold — no UDF. The oracle unrolls all k rounds in DuckDB
    over DOUBLE-delimited symbol strings ('||a||b||'), where a single
    replace('|a||b|' -> '|ab|') is exactly the symbol-level
    left-to-right non-overlapping pass (each boundary owns two bars,
    so back-to-back matches never share characters — unlike the
    single-bar encoding, which needs iterated replace)."""
    from omop_etl_spark.operators.bpe import learn_merges

    docs = _spread_read(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    learned = learn_merges(wc, "word", "n", k=LEARN_BPE_K)
    return spark.createDataFrame(
        [(r, a, b, c) for r, (a, b, c) in enumerate(learned)],
        "rank int, left_sym string, right_sym string, pair_count long",
    )


def _oracle_docs_learn_bpe(k: int = LEARN_BPE_K) -> str:
    """Unrolled k-round replay: same pair counting (every adjacent
    position, weighted by word count), same (count DESC, left, right)
    argmax, same one-replace-per-round apply via double delimiters."""
    rounds = []
    for r in range(k):
        rounds.append(f"""
p{r} AS (
  SELECT t.sy[u.i] AS a, t.sy[u.i + 1] AS b, CAST(SUM(t.n) AS BIGINT) AS cnt
  FROM (SELECT n, string_split(trim(s, '|'), '||') AS sy FROM w{r}) t,
       (SELECT unnest(generate_series(1, len(t.sy) - 1)) AS i) u
  GROUP BY 1, 2
),
m{r} AS MATERIALIZED (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
w{r + 1} AS MATERIALIZED (
  SELECT w.word, w.n,
         replace(w.s, '|' || m.a || '||' || m.b || '|', '|' || m.a || m.b || '|') AS s
  FROM w{r} w, m{r} m
)""")
    finals = "\nUNION ALL ".join(
        f"SELECT {r} AS rank, a AS left_sym, b AS right_sym, cnt AS pair_count FROM m{r}"
        for r in range(k)
    )
    return f"""
WITH
words AS (
  SELECT t.w AS word
  FROM documents,
       (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w) t
  WHERE t.w <> ''
),
wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM words GROUP BY word),
w0 AS MATERIALIZED (
  SELECT word, n,
         '||' || array_to_string(string_split(word, ''), '||') || '||' AS s
  FROM wc
),{",".join(rounds)}
SELECT CAST(rank AS INT) AS rank, left_sym, right_sym, pair_count
FROM ({finals})
"""


def _q_agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED quantiles (quantity-weighted price percentiles
    per return flag) through stats.exact_quantile_cuts' ``count_col``
    path: the rank threshold ``floor((n-1)*q)+1`` runs over cumulative
    WEIGHT, so this is the type-1 weighted quantile — "the price point
    below which a quarter of all shipped QUANTITY sits", the
    inventory-weighted statistic the unweighted row-percentile misses.
    Prices quantize to cents (near-continuous domain), so the
    cumulative sum runs TWO-LEVEL (``bucket_width=100_000`` — local
    cumsum per (flag, $1000-band) + tiny carry-in offsets): three
    return flags would otherwise each serialize a ~distinct-price-long
    sort on one task — the partitioned edition of the global-window
    cliff. All quantile fractions are dyadic (k/4), so the float rank
    multiply is exact in binary64 and both engines pick the identical
    cent value."""
    from omop_etl_spark.operators.stats import exact_quantile_cuts

    from omop_etl_spark.conf import checkpoint as _ckpt

    li = _source(spark, sf_dir, "lineitem")
    # r17: the bucketed quantile path reads its input three times
    # (local cumsum, carry offsets, totals) and each read re-ran the
    # full lineitem scan + aggregate (3 scans in the r17 audit). The
    # (flag, price-cent) weight spine is distinct-value-bounded — the
    # same count-spine checkpoint as events_winsorize.
    pre = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w")).transform(_ckpt)
    out = exact_quantile_cuts(
        pre, ["flag"], "price_c", [0.25, 0.5, 0.75],
        bucket_width=100_000, count_col="w",
    )
    return out.select(
        "flag",
        F.col("n").cast("bigint").alias("total_qty"),
        F.col("q_p25").cast("bigint").alias("wq25_cents"),
        F.col("q_p5").cast("bigint").alias("wq50_cents"),
        F.col("q_p75").cast("bigint").alias("wq75_cents"),
    )


ORACLE_AGG_WEIGHTED_QUANTILES = """
WITH pre AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT flag, price_c, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY price_c
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pre
),
tot AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS n FROM pre GROUP BY 1)
SELECT c.flag,
       CAST(t.n AS BIGINT) AS total_qty,
       CAST(MIN(CASE WHEN c.cum >= (1 * (t.n - 1)) // 4 + 1
                THEN c.price_c END) AS BIGINT) AS wq25_cents,
       CAST(MIN(CASE WHEN c.cum >= (1 * (t.n - 1)) // 2 + 1
                THEN c.price_c END) AS BIGINT) AS wq50_cents,
       CAST(MIN(CASE WHEN c.cum >= (3 * (t.n - 1)) // 4 + 1
                THEN c.price_c END) AS BIGINT) AS wq75_cents
FROM cum c JOIN tot t ON c.flag = t.flag
GROUP BY c.flag, t.n
"""


_WATERFILL_BUDGET = 25_000


def _q_docs_waterfill_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources
    (operators/sampling.waterfill_allocation): spend a fixed training
    budget over the corpora max-min fairly — every source gets the
    waterline L capped by its availability, small sources contribute
    everything, and the integer leftover goes to the first uncapped
    sources in (avail, source) order, so ``sum(alloc) = min(budget,
    total)`` EXACTLY. One map-side-combinable shuffle aggregates the
    corpus to (source, token-count); everything after runs on the
    20-row source frame (the partition-less windows are over that
    aggregate, never facts — the Pareto/KMV exemption). Pure integer
    arithmetic; the oracle replays rank → prefix-sum → breakpoint →
    remainder bit-for-bit."""
    from omop_etl_spark.operators.chunking import _term_tokens
    from omop_etl_spark.operators.sampling import waterfill_allocation

    from omop_etl_spark.conf import checkpoint as _ckpt

    docs = _spread_read(spark, sf_dir, "documents")
    # r17: the waterfill arithmetic references the avail frame several
    # times (rank, totals, breakpoint scan — 4 source scans in the r17
    # audit), and each reference re-ran the corpus tokenize + explode.
    # avail is one row per source — checkpoint it so the corpus pass
    # runs once and the seat math runs on the materialized 20-row frame.
    avail = (
        docs.select("source", F.explode(_term_tokens("text")).alias("t"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .transform(_ckpt)
    )
    return waterfill_allocation(
        avail, "source", "n_tokens", _WATERFILL_BUDGET
    ).orderBy("source")


ORACLE_DOCS_WATERFILL_MIX = f"""
WITH avail AS (
  SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS a
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n FROM avail),
rk AS (
  SELECT g, a,
         row_number() OVER (ORDER BY a, g) AS rk,
         SUM(a) OVER (ORDER BY a, g
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         lag(a) OVER (ORDER BY a, g) AS prev_a
  FROM avail
),
cand AS (
  SELECT r.rk AS brk,
         ({_WATERFILL_BUDGET} - (r.s - r.a)) // (t.n - r.rk + 1) AS wl,
         ({_WATERFILL_BUDGET} - (r.s - r.a))
           - (({_WATERFILL_BUDGET} - (r.s - r.a)) // (t.n - r.rk + 1))
             * (t.n - r.rk + 1) AS extra
  FROM rk r, tot t
  WHERE (r.s - r.a) <= {_WATERFILL_BUDGET}
    AND (r.prev_a IS NULL
         OR r.prev_a <= ({_WATERFILL_BUDGET} - (r.s - r.a)) // (t.n - r.rk + 1))
    AND ({_WATERFILL_BUDGET} - (r.s - r.a)) // (t.n - r.rk + 1) < r.a
  LIMIT 1
)
SELECT r.g AS source,
       CAST(r.a AS BIGINT) AS avail,
       CAST(CASE WHEN c.brk IS NULL THEN r.a
                 WHEN r.rk < c.brk THEN r.a
                 WHEN r.rk - c.brk < c.extra THEN c.wl + 1
                 ELSE c.wl END AS BIGINT) AS alloc
FROM rk r LEFT JOIN cand c ON TRUE
ORDER BY source
"""


def _q_sketch_vocab_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed vocabulary-difference estimate between sources from
    KMV/theta sketches (operators/sketches.kmv_difference — the
    Apache-DataSketches-style A-NOT-B set operation): "how many terms
    does source X use that source Y never does", at sketch cost. One
    linear scan builds the per-source sketches (map-side distinct
    combine); the pair algebra runs on O(sources² · k) rows
    regardless of corpus size — the incremental-crawl novelty
    estimator at 100 TB. All outputs integral (θ in exact 2^32-scaled
    form), so the DuckDB oracle replays the md5 sketch bit-for-bit."""
    from omop_etl_spark.operators.chunking import _term_tokens
    from omop_etl_spark.operators.sketches import kmv_difference

    docs = _spread_read(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(_term_tokens("text")).alias("term")
    )
    return kmv_difference(toks, "source", "term", k=128).orderBy(
        "source_a", "source_b"
    )


ORACLE_SKETCH_VOCAB_DIFF = """
WITH toks AS (
  SELECT DISTINCT source AS g,
         CAST(concat('0x', substr(md5(concat('kmv|', t)), 1, 8)) AS BIGINT) AS hq
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
sk AS (
  SELECT g, hq FROM (
    SELECT g, hq, row_number() OVER (PARTITION BY g ORDER BY hq) AS rn FROM toks
  ) WHERE rn <= 128
),
th AS (
  SELECT g, CASE WHEN COUNT(*) < 128 THEN 4294967296 ELSE MAX(hq) END AS theta_q
  FROM sk GROUP BY g
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb, least(a.theta_q, b.theta_q) AS theta_q
  FROM th a JOIN th b ON a.g <> b.g
),
diff AS (
  SELECT p.ga, p.gb, COUNT(*) AS diff_kept
  FROM pairs p
  JOIN sk sa ON sa.g = p.ga AND sa.hq < p.theta_q
  LEFT JOIN sk sb ON sb.g = p.gb AND sb.hq = sa.hq
  WHERE sb.g IS NULL
  GROUP BY 1, 2
)
SELECT p.ga AS source_a, p.gb AS source_b,
       CAST(coalesce(d.diff_kept, 0) AS BIGINT) AS diff_kept,
       CAST(p.theta_q AS BIGINT) AS theta_q,
       CAST((coalesce(d.diff_kept, 0) * 4294967296) // p.theta_q AS BIGINT)
         AS est_diff
FROM pairs p LEFT JOIN diff d ON d.ga = p.ga AND d.gb = p.gb
ORDER BY source_a, source_b
"""


def _q_events_busy_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage per user (operators/temporal.
    interval_union — the gaps-and-islands union): each event opens a
    half-open busy interval ``[ts, ts + 30 + event_id % 271 s)``
    (deterministic synthetic duration — the events table carries no
    end timestamp); overlapping/touching intervals fuse, and the gate
    reports island count, total covered micros, and the longest busy
    stretch — the uptime/SLA primitive. Exact integer micros
    end-to-end; one shuffle on user_id; windows partitioned per user
    (``bucket_width`` decomposes them for skewed keys — equivalence
    unit-tested)."""
    from omop_etl_spark.operators.temporal import interval_union

    ev = _source(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        us.alias("s"),
        (us + (F.lit(30) + F.col("event_id") % 271) * F.lit(1000000))
        .cast("bigint")
        .alias("e"),
    )
    return interval_union(iv, "user_id", "s", "e")


ORACLE_EVENTS_BUSY_TIME = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + (30 + event_id % 271) * 1000000 AS e
  FROM events
),
fl AS (
  SELECT user_id, s, e,
         CASE WHEN s > coalesce(MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM iv
),
isl AS (
  SELECT user_id, s, e,
         SUM(nf) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM fl
),
g AS (
  SELECT user_id, isl_id, MIN(s) AS i_s, MAX(e) AS i_e
  FROM isl GROUP BY user_id, isl_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(i_e - i_s) AS BIGINT) AS covered,
       CAST(MAX(i_e - i_s) AS BIGINT) AS max_island
FROM g GROUP BY user_id
"""


# One row per gate: (name, query builder, DuckDB oracle SQL). The row
# order is the order of queries() and is frozen: the external correctness
# check samples the first 50 rows, so adding, removing or moving a row
# changes the digests pinned in tests/test_registry.py and is a reviewed
# decision.
_GATES: tuple[tuple[str, Callable[[SparkSession, str], DataFrame], str], ...] = (
    ("orders_cdc_state_stream", _q_orders_cdc_state_stream,
     ORACLE_ORDERS_CDC_STATE_STREAM),
    ("events_latest_state_stream", _q_events_latest_state_stream,
     ORACLE_EVENTS_LATEST_STATE_STREAM),
    ("events_dedup_stream", _q_events_dedup_stream, ORACLE_EVENTS_DEDUP_STREAM),
    ("events_kmv_distinct_stream", _q_events_kmv_distinct_stream,
     ORACLE_EVENTS_KMV_DISTINCT_STREAM),
    ("events_logq_quantile_stream", _q_events_logq_quantile_stream,
     ORACLE_EVENTS_LOGQ_QUANTILE_STREAM),
    ("events_burst_dedup_stream", _q_events_burst_dedup_stream,
     ORACLE_EVENTS_BURST_DEDUP),
    ("events_sessionize_stream", _q_events_sessionize_stream,
     ORACLE_EVENTS_SESSIONIZE_STREAM),
    ("events_busy_time_stream", _q_events_busy_time_stream, ORACLE_EVENTS_BUSY_TIME),
    ("embed_neardup_pairs", _q_embed_neardup, ORACLE_EMBED_NEARDUP),
    ("agg_market_share", _q_market_share, ORACLE_MARKET_SHARE),
    ("orders_market_basket", _q_orders_market_basket, ORACLE_ORDERS_MARKET_BASKET),
    ("docs_cooccurrence", _q_docs_cooccurrence, ORACLE_DOCS_COOCCURRENCE),
    ("corpus_vocab_coverage", _q_corpus_vocab_coverage, ORACLE_CORPUS_VOCAB_COVERAGE),
    ("events_transitions", _q_events_transitions, ORACLE_EVENTS_TRANSITIONS),
    ("docs_char_classes", _q_docs_char_classes, ORACLE_DOCS_CHAR_CLASSES),
    ("docs_bpe_fertility", _q_docs_bpe_fertility, _oracle_docs_bpe_fertility()),
    ("docs_cdc_chunks", _q_docs_cdc_chunks, _oracle_docs_cdc_chunks()),
    ("docs_encode_unigram", _q_docs_encode_unigram, _oracle_docs_encode_unigram()),
    ("orders_benford", _q_orders_benford, _oracle_orders_benford()),
    ("embed_covariance", _q_embed_covariance, ORACLE_EMBED_COVARIANCE),
    ("embed_top_eigen", _q_embed_top_eigen, _oracle_embed_top_eigen()),
    ("events_multigrain", _q_events_multigrain, ORACLE_EVENTS_MULTIGRAIN),
    ("events_overlap_join", _q_events_overlap_join, ORACLE_EVENTS_OVERLAP_JOIN),
    ("events_partition_checksums", _q_events_partition_checksums,
     ORACLE_EVENTS_PARTITION_CHECKSUMS),
    ("events_salted_enrich", _q_events_salted_enrich, ORACLE_EVENTS_SALTED_ENRICH),
    ("events_scd2_lookup", _q_events_scd2_lookup, ORACLE_EVENTS_SCD2_LOOKUP),
    ("events_skew_agg", _q_events_skew_agg, ORACLE_EVENTS_SKEW_AGG),
    ("events_top_users", _q_events_top_users, ORACLE_EVENTS_TOP_USERS),
    ("events_trend", _q_events_trend, ORACLE_EVENTS_TREND),
    ("events_winsorize", _q_events_winsorize, ORACLE_EVENTS_WINSORIZE),
    ("events_zorder", _q_events_zorder, ORACLE_EVENTS_ZORDER),
    ("fuzzy_part_match", _q_fuzzy_parts, ORACLE_FUZZY_PARTS),
    ("orders_above_avg", _q_orders_above_avg, ORACLE_ORDERS_ABOVE_AVG),
    ("orders_checksum", _q_orders_checksum, ORACLE_ORDERS_CHECKSUM),
    ("orders_gaps", _q_orders_gaps, ORACLE_ORDERS_GAPS),
    ("orders_snapshot_diff", _q_orders_snapshot_diff, ORACLE_ORDERS_SNAPSHOT_DIFF),
    ("part_golden_records", _q_part_golden_records, ORACLE_PART_GOLDEN_RECORDS),
    ("regional_supplier_volume", _q_regional_supplier_volume,
     ORACLE_REGIONAL_SUPPLIER_VOLUME),
    ("sketch_distinct_users", _q_sketch_distinct_users, ORACLE_SKETCH_DISTINCT),
    ("agg_order_priority", _q_order_priority, ORACLE_ORDER_PRIORITY),
    ("agg_shipping_priority", _q_shipping_priority, ORACLE_SHIPPING_PRIORITY),
    ("cust_balance_upsert", _q_cust_balance_upsert, ORACLE_CUST_BALANCE_UPSERT),
    ("cust_dormant_rich", _q_cust_dormant_rich, ORACLE_CUST_DORMANT_RICH),
    ("docs_length_deciles", _q_docs_length_deciles, ORACLE_DOCS_LENGTH_DECILES),
    ("embed_semdedup_capped", _q_embed_semdedup_capped,
     _oracle_embed_semdedup_capped()),
    ("docs_mixture_sample", _q_docs_mixture_sample, _oracle_docs_mixture_sample()),
    ("docs_oov_rate", _q_docs_oov_rate, ORACLE_DOCS_OOV_RATE),
    ("docs_quality_calibrated", _q_docs_quality_calibrated,
     ORACLE_DOCS_QUALITY_CALIBRATED),
    ("docs_quality_gate", _q_docs_quality_gate, ORACLE_DOCS_QUALITY_GATE),
    ("docs_rare_tokens", _q_docs_rare_tokens, ORACLE_DOCS_RARE_TOKENS),
    ("docs_source_stats", _q_docs_source_stats, ORACLE_DOCS_SOURCE_STATS),
    ("docs_top_terms_per_source", _q_docs_top_terms_per_source,
     ORACLE_DOCS_TOP_TERMS_PER_SOURCE),
    ("docs_unigram_logprob", _q_docs_unigram_logprob, ORACLE_DOCS_UNIGRAM_LOGPROB),
    ("docs_weighted_per_source", _q_docs_weighted_per_source,
     ORACLE_DOCS_WEIGHTED_PER_SOURCE),
    ("embed_kmeans", _q_embed_kmeans, _oracle_embed_kmeans()),
    ("embed_project", _q_embed_project, _oracle_embed_project()),
    ("events_anomaly_zscore", _q_events_anomaly, ORACLE_EVENTS_ANOMALY),
    ("events_burst_dedup", _q_events_burst_dedup, ORACLE_EVENTS_BURST_DEDUP),
    ("events_retention", _q_events_retention, ORACLE_EVENTS_RETENTION),
    ("events_user_pagerank", _q_events_pagerank, _oracle_events_pagerank()),
    ("orders_cdc_apply", _q_orders_cdc_apply, ORACLE_ORDERS_CDC_APPLY),
    ("orders_large_volume", _q_orders_large_volume, ORACLE_ORDERS_LARGE_VOLUME),
    ("part_min_cost_supplier", _q_part_min_cost_supplier,
     ORACLE_PART_MIN_COST_SUPPLIER),
    ("part_value_concentration", _q_part_value_concentration,
     ORACLE_PART_VALUE_CONCENTRATION),
    ("parts_triangle_count", _q_parts_triangle_count, ORACLE_PARTS_TRIANGLE_COUNT),
    ("sketch_term_counts", _q_sketch_term_counts, ORACLE_SKETCH_TERM_COUNTS),
    ("supplier_dominant_parts", _q_supplier_dominant_parts,
     ORACLE_SUPPLIER_DOMINANT_PARTS),
    ("top_supplier_quarter", _q_top_supplier_quarter, ORACLE_TOP_SUPPLIER_QUARTER),
    ("agg_cust_distribution", _q_cust_distribution, ORACLE_CUST_DISTRIBUTION),
    ("agg_disjunctive_pred", _q_disjunctive_revenue, ORACLE_DISJUNCTIVE_REVENUE),
    ("agg_shipped_last", _q_shipped_last, ORACLE_SHIPPED_LAST),
    ("agg_small_qty_revenue", _q_small_qty_revenue, ORACLE_SMALL_QTY_REVENUE),
    ("agg_volume_shipping", _q_volume_shipping, ORACLE_VOLUME_SHIPPING),
    ("corpus_source_drift", _q_corpus_source_drift, ORACLE_CORPUS_SOURCE_DRIFT),
    ("corpus_source_overlap", _q_corpus_source_overlap, ORACLE_CORPUS_SOURCE_OVERLAP),
    ("docs_bigram_surprisal", _q_docs_bigram_surprisal, ORACLE_DOCS_BIGRAM_SURPRISAL),
    ("docs_dedup_lines", _q_docs_dedup_lines, ORACLE_DOCS_DEDUP_LINES),
    ("docs_distinctive_terms", _q_docs_distinctive_terms,
     ORACLE_DOCS_DISTINCTIVE_TERMS),
    ("docs_encode_bpe", _q_docs_encode_bpe, _oracle_docs_encode_bpe()),
    ("docs_pack_bpe", _q_docs_pack_bpe, _oracle_docs_pack_bpe()),
    ("events_attribution", _q_events_attribution, ORACLE_EVENTS_ATTRIBUTION),
    ("events_autocorr", _q_events_autocorr, ORACLE_EVENTS_AUTOCORR),
    ("events_changepoint", _q_events_changepoint, ORACLE_EVENTS_CHANGEPOINT),
    ("events_ema", _q_events_ema, ORACLE_EVENTS_EMA),
    ("events_kcore", _q_events_kcore, _oracle_events_kcore()),
    ("events_latest_k", _q_events_latest_k, ORACLE_EVENTS_LATEST_K),
    ("events_reset_cumsum", _q_events_reset_cumsum, ORACLE_EVENTS_RESET_CUMSUM),
    ("events_seasonality", _q_events_seasonality, ORACLE_EVENTS_SEASONALITY),
    ("events_sliding_distinct", _q_events_sliding_distinct,
     ORACLE_EVENTS_SLIDING_DISTINCT),
    ("events_stickiness", _q_events_stickiness, ORACLE_EVENTS_STICKINESS),
    ("events_value_quantiles", _q_events_value_quantiles,
     ORACLE_EVENTS_VALUE_QUANTILES),
    ("orders_bloom_probe", _q_orders_bloom_probe, ORACLE_ORDERS_BLOOM_PROBE),
    ("orders_except_all", _q_orders_except_all, ORACLE_ORDERS_EXCEPT_ALL),
    ("orders_fd_profile", _q_orders_fd_profile, _oracle_orders_fd_profile()),
    ("orders_gini", _q_orders_gini, ORACLE_ORDERS_GINI),
    ("orders_intersect_all", _q_orders_intersect_all, ORACLE_ORDERS_INTERSECT_ALL),
    ("part_skyline", _q_part_skyline, ORACLE_PART_SKYLINE),
    ("parts_communities", _q_parts_communities, _oracle_parts_communities()),
    ("sim_topk", _q_sim_topk, ORACLE_SIM_TOPK),
    ("sim_topk_ivf", _q_sim_topk_ivf, _oracle_sim_topk_ivf()),
    ("sim_topk_lsh", _q_sim_topk_lsh, _oracle_sim_topk_lsh()),
    ("sketch_hll_users", _q_sketch_hll_users, ORACLE_SKETCH_HLL_USERS),
    ("supplier_pareto", _q_supplier_pareto, ORACLE_SUPPLIER_PARETO),
    ("docs_learn_bpe", _q_docs_learn_bpe, _oracle_docs_learn_bpe()),
    ("docs_bm25_topk", _q_docs_bm25_topk, _oracle_docs_bm25_topk()),
    ("orders_trailing_spend", _q_orders_trailing_spend, ORACLE_ORDERS_TRAILING_SPEND),
    ("events_gap_fill", _q_events_gap_fill, ORACLE_EVENTS_GAP_FILL),
    ("parts_item_sim", _q_parts_item_sim, ORACLE_PARTS_ITEM_SIM),
    ("events_robust_stats", _q_events_robust_stats, ORACLE_EVENTS_ROBUST_STATS),
    ("docs_hybrid_rrf", _q_docs_hybrid_rrf, _oracle_docs_hybrid_rrf()),
    ("events_multitouch", _q_events_multitouch, ORACLE_EVENTS_MULTITOUCH),
    ("events_twap", _q_events_twap, ORACLE_EVENTS_TWAP),
    ("cust_ab_lift", _q_cust_ab_lift, ORACLE_CUST_AB_LIFT),
    ("sketch_hll_union", _q_sketch_hll_union, ORACLE_SKETCH_HLL_UNION),
    ("embed_pq_topk", _q_embed_pq_topk, _oracle_embed_pq_topk()),
    ("events_top_paths", _q_events_top_paths, ORACLE_EVENTS_TOP_PATHS),
    ("parts_sssp_nearest", _q_parts_sssp_nearest, ORACLE_PARTS_SSSP_NEAREST),
    ("events_rolling_median", _q_events_rolling_median, ORACLE_EVENTS_ROLLING_MEDIAN),
    ("cust_recs_topk", _q_cust_recs_topk, ORACLE_CUST_RECS_TOPK),
    ("sketch_logq_value", _q_sketch_logq_value, ORACLE_SKETCH_LOGQ_VALUE),
    ("docs_exact_alloc", _q_docs_exact_alloc, ORACLE_DOCS_EXACT_ALLOC),
    ("orders_diff_columns", _q_orders_diff_columns, ORACLE_ORDERS_DIFF_COLUMNS),
    ("docs_greedy_chain", _q_docs_greedy_chain, _duck_greedy_chain()),
    ("orders_rfm", _q_orders_rfm, ORACLE_ORDERS_RFM),
    ("cust_cohort_ltv", _q_cust_cohort_ltv, ORACLE_CUST_COHORT_LTV),
    ("events_stationary", _q_events_stationary, _oracle_events_stationary()),
    ("orders_profile", _q_orders_profile, _oracle_orders_profile()),
    ("agg_multi_distinct", _q_agg_multi_distinct, ORACLE_AGG_MULTI_DISTINCT),
    ("agg_percentiles", _q_agg_percentiles, ORACLE_AGG_PERCENTILES),
    ("agg_pricing_summary", _q_agg_pricing, ORACLE_AGG_PRICING),
    ("multimodal_real_resize", _q_multimodal_real_resize,
     ORACLE_MULTIMODAL_REAL_RESIZE),
    ("docs_containment_dup", _q_docs_containment_dup, ORACLE_DOCS_CONTAINMENT_DUP),
    ("ngram_jaccard_pairs", _q_jaccard_pairs, ORACLE_JACCARD_PAIRS),
    ("docs_cross_dup", _q_docs_cross_dup, ORACLE_DOCS_CROSS_DUP),
    ("docs_dup_spans", _q_docs_dup_spans, ORACLE_DOCS_DUP_SPANS),
    ("docs_incremental_dedup", _q_docs_incremental_dedup, _oracle_incremental_dedup()),
    ("dedup_minhash_lsh", _q_dedup_minhash, _oracle_minhash_lsh()),
    ("dedup_near_clusters", _q_dedup_near_clusters, _oracle_near_clusters()),
    ("docs_curate_full", _q_docs_curate_full, _oracle_docs_curate_full()),
    ("docs_curate_incremental", _q_docs_curate_incremental,
     _oracle_docs_curate_incremental()),
    ("agg_top_customers", _q_top_customers, ORACLE_TOP_CUSTOMERS),
    ("asof_join_events", _q_asof_join, ORACLE_ASOF_JOIN),
    ("dedup_clusters", _q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    ("dedup_exact", _q_dedup_exact, ORACLE_DEDUP_EXACT),
    ("dedup_simhash", _q_dedup_simhash, _oracle_simhash_pairs()),
    ("doc_fingerprint", _q_doc_fingerprint, ORACLE_DOC_FINGERPRINT),
    ("docs_chunk", _q_docs_chunk, ORACLE_DOCS_CHUNK),
    ("docs_tfidf", _q_docs_tfidf, ORACLE_DOCS_TFIDF),
    ("embed_centroids", _q_embed_centroids, ORACLE_EMBED_CENTROIDS),
    ("etl_constant", lambda s, d: _run_etl(s, d, [ETL_CONSTANT], "nation_dim"),
     ORACLE_ETL_CONSTANT),
    ("etl_copy", lambda s, d: _run_etl(s, d, [ETL_COPY], "person_copy"),
     ORACLE_ETL_COPY),
    ("etl_fk_remap",
     lambda s, d: _run_etl(s, d, [ETL_FK_PERSON, ETL_FK_ORDERS], "order_fact"),
     ORACLE_ETL_FK),
    ("etl_lww", lambda s, d: _run_etl(s, d, [ETL_LWW], "order_prio"), ORACLE_ETL_LWW),
    ("etl_merge_entities", lambda s, d: _run_etl(s, d, [ETL_MERGE], "entity_dim"),
     ORACLE_ETL_MERGE),
    ("sketch_vocab_diff", _q_sketch_vocab_diff, ORACLE_SKETCH_VOCAB_DIFF),
    ("events_busy_time", _q_events_busy_time, ORACLE_EVENTS_BUSY_TIME),
    ("agg_weighted_quantiles", _q_agg_weighted_quantiles,
     ORACLE_AGG_WEIGHTED_QUANTILES),
    ("docs_segment_pieces", _q_docs_segment_pieces, _oracle_docs_segment_pieces()),
    ("docs_learn_unigram", _q_docs_learn_unigram, _oracle_docs_learn_unigram()),
    ("docs_waterfill_mix", _q_docs_waterfill_mix, ORACLE_DOCS_WATERFILL_MIX),
    ("etl_query_table",
     lambda s, d: _run_etl(s, d, [ETL_QUERY_TABLE], "cust_first_order"),
     ORACLE_ETL_QUERY_TABLE),
    ("etl_required_filter",
     lambda s, d: _run_etl(s, d, [ETL_REQUIRED], "order_filtered",
                           required={"order_filtered": {"cust_segment"}}),
     ORACLE_ETL_REQUIRED),
    ("etl_temp_table", lambda s, d: _run_etl(s, d, [ETL_TEMP_TABLE], "nation_band"),
     ORACLE_ETL_TEMP_TABLE),
    ("events_hourly", _q_events_hourly, ORACLE_EVENTS_HOURLY),
    ("events_json_agg", _q_events_json, ORACLE_EVENTS_JSON),
    ("events_pivot", _q_events_pivot, ORACLE_EVENTS_PIVOT),
    ("events_resample", _q_events_resample, ORACLE_EVENTS_RESAMPLE),
    ("events_sessionize", _q_events_sessionize, ORACLE_EVENTS_SESSIONIZE),
    ("multimodal_features", _q_multimodal, ORACLE_MULTIMODAL),
    ("pack_bins", _q_pack_bins, ORACLE_PACK_BINS),
    ("range_join_events", _q_range_join, ORACLE_RANGE_JOIN),
    ("sample_stratified", _q_sample_stratified, ORACLE_SAMPLE_STRATIFIED),
    ("docs_leakage_safe_split", _q_docs_leakage_safe_split,
     _oracle_leakage_safe_split()),
    ("docs_soft_dedup_weights", _q_docs_soft_dedup_weights,
     _oracle_soft_dedup_weights()),
    ("events_rolling_3d", _q_events_rolling, ORACLE_EVENTS_ROLLING),
    ("parts_bfs_hops", _q_parts_bfs_hops, ORACLE_PARTS_BFS_HOPS),
    ("nation_revenue_share", _q_nation_revenue_share, ORACLE_NATION_REVENUE_SHARE),
    ("scd2_user_state", _q_scd2_user_state, ORACLE_SCD2_USER_STATE),
    ("set_ops_customers", _q_set_ops, ORACLE_SET_OPS),
    ("split_assign", _q_split_assign, ORACLE_SPLIT_ASSIGN),
    ("sql_distinct_on", _sql_query(SQL_DISTINCT_ON), ORACLE_SQL_DISTINCT_ON),
    ("sql_expr_surface", _sql_query(SQL_EXPR_SURFACE), ORACLE_SQL_EXPR_SURFACE),
    ("text_langid", _q_text_langid, _oracle_langid()),
    ("text_pii_scrub", _q_pii_scrub, ORACLE_PII_SCRUB),
    ("text_quality", _q_text_quality, ORACLE_TEXT_QUALITY),
    ("text_stats", _q_text_stats, ORACLE_TEXT_STATS),
    ("text_token_counts", _q_text_tokens, ORACLE_TEXT_TOKENS),
    ("window_rank", _q_window_rank, ORACLE_WINDOW_RANK),
    ("agg_cube", _q_agg_cube, ORACLE_AGG_CUBE),
    ("corpus_source_similarity", _q_corpus_source_similarity,
     ORACLE_CORPUS_SOURCE_SIMILARITY),
    ("corpus_vocab", _q_corpus_vocab, ORACLE_CORPUS_VOCAB),
    ("cust_no_orders", _q_cust_no_orders, ORACLE_CUST_NO_ORDERS),
    ("docs_decontaminate", _q_docs_decontaminate, ORACLE_DOCS_DECONTAMINATE),
    ("docs_encode", _q_docs_encode, ORACLE_DOCS_ENCODE),
    ("docs_length_hist", _q_docs_length_hist, ORACLE_DOCS_LENGTH_HIST),
    ("docs_novelty", _q_docs_novelty, ORACLE_DOCS_NOVELTY),
    ("docs_per_source_sample", _q_docs_per_source_sample,
     ORACLE_DOCS_PER_SOURCE_SAMPLE),
    ("docs_repetition", _q_docs_repetition, ORACLE_DOCS_REPETITION),
    ("docs_shuffle_order", _q_docs_shuffle_order, ORACLE_DOCS_SHUFFLE_ORDER),
    ("docs_strip_boilerplate", _q_docs_strip_boilerplate, ORACLE_DOCS_STRIP),
    ("docs_token_budget", _q_docs_token_budget, ORACLE_DOCS_TOKEN_BUDGET),
    ("embed_kmeans2", _q_embed_kmeans2, _oracle_embed_kmeans2()),
    ("docs_source_influence", _q_docs_source_influence, ORACLE_DOCS_SOURCE_INFLUENCE),
    ("docs_contamination_spans", _q_docs_contamination_spans,
     ORACLE_DOCS_CONTAMINATION_SPANS),
    ("embed_dedup_clusters", _q_embed_dedup_clusters, _oracle_embed_dedup_clusters()),
    ("embed_semdedup", _q_embed_semdedup, _oracle_embed_semdedup()),
    ("docs_training_export", _q_docs_training_export, ORACLE_DOCS_TRAINING_EXPORT),
    ("docs_weighted_sample", _q_docs_weighted_sample, ORACLE_DOCS_WEIGHTED_SAMPLE),
    ("dq_checks", _q_dq_checks, ORACLE_DQ_CHECKS),
    ("embed_norm_stats", _q_embed_norm_stats, ORACLE_EMBED_NORM_STATS),
    ("embed_quantize", _q_embed_quantize, ORACLE_EMBED_QUANTIZE),
    ("events_anomaly_mad", _q_events_anomaly_mad, ORACLE_EVENTS_ANOMALY_MAD),
    ("events_concurrency", _q_events_concurrency, ORACLE_EVENTS_CONCURRENCY),
    ("events_funnel", _q_events_funnel, ORACLE_EVENTS_FUNNEL),
    ("events_hourly_distinct", _q_events_hourly_distinct,
     ORACLE_EVENTS_HOURLY_DISTINCT),
    ("events_missing_hours", _q_events_missing_hours, ORACLE_EVENTS_MISSING_HOURS),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q for name, q, _ in _GATES}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _GATES}
