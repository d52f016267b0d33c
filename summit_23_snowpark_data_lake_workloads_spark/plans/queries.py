"""The declared query workload (SURVEY §2 inventory + §2.11 consume layer).

Each query is registered with ``@query(name, oracle=...)``:
- the callable takes ``(spark, sf_dir)`` and returns a lazy DataFrame built
  with the DataFrame / Spark SQL API (Catalyst owns the physical plan);
- ``oracle`` is the equivalent ANSI SQL that DuckDB runs on the same
  parquet tables for the differential-correctness gate.
Lifecycle audits over a throwaway table or index register with
``@audit`` instead, which owns their scratch directory.

Determinism rules (both engines must agree bit-for-bit after the driver's
order-insensitive hash):
- every floating-point aggregate is wrapped in ``round(x, n)`` on BOTH
  sides, so sub-ULP summation-order differences disappear;
- every LIMIT / top-k has a total deterministic ordering (unique tie-break
  key);
- column aliases are lowercase and identical on both sides (the driver
  sorts columns by name before hashing).

Scale notes are attached per query; the common ones: dimension joins are
broadcast (explicit ``F.broadcast`` on region/nation/supplier/part-master
sized inputs), aggregations rely on Spark's automatic partial (map-side)
aggregation, and no query collects to the driver.
"""

from __future__ import annotations

import functools
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: queries timed by bench.py (the headline set)
HEADLINE: list[str] = []


def query(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if headline:
            HEADLINE.append(name)
        return fn

    return deco


def audit(name: str, oracle: str | None = None):
    """``@query`` for a lifecycle audit: a query that builds a throwaway
    table, index or stream, runs its commits and time travel, and returns
    facts the oracle recomputes. The body takes ``(spark, sf_dir, tmp)``
    and may return a lazy plan over files under ``tmp``. The registered
    ``(spark, sf_dir)`` callable owns ``tmp``: it pins the body's result
    with ``localCheckpoint(eager=True)``, then deletes the directory, so
    the caller never holds lineage into files that are gone."""

    def deco(body: Callable[[SparkSession, str, str], DataFrame]):
        @functools.wraps(body)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tmp = tempfile.mkdtemp(prefix=f"{name}_")
            try:
                return body(spark, sf_dir, tmp).localCheckpoint(eager=True)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        return query(name, oracle)(run)

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.batch import read_table

    return read_table(spark, sf_dir, name)


def _money_sum(expr, scale: int = 4):
    """Order-independent money aggregate: cast each addend to DECIMAL
    (deterministic nearest-decimal rounding of the double in any engine),
    sum exactly in integer arithmetic, round, return double.

    Plain double sums differ across engines in summation ORDER; on a
    large group that occasionally lands a sum on a .005 rounding boundary
    and flips the 2-decimal output (hit ~0.06% of q7 groups). Decimal
    sums cannot: addition is exact, so order is irrelevant.
    """
    return F.round(F.sum(expr.cast(f"decimal(18,{scale})")), 2).cast("double")


# ---------------------------------------------------------------------------
# Aggregation family (SURVEY §2.5 A1-A4)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)::DOUBLE AS sum_base_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS sum_disc_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2)::DOUBLE AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE / count(*), 6) AS avg_price,
           round(sum(CAST(l_discount AS DECIMAL(18,2)))::DOUBLE / count(*), 6) AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan+agg: the canonical partial-agg benchmark.

    Scale: single scan, map-side partial aggregation into 6 groups — the
    shuffle moves only #groups x #partitions rows. Filter + 7-column
    projection push into the parquet scan (verified via explain:
    PushedFilters / ReadSchema).
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _money_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _money_sum(disc_price, 4).alias("sum_disc_price"),
            _money_sum(disc_price * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Join family (SURVEY §2.4 J1-J4)
# ---------------------------------------------------------------------------


@query(
    "q3_top_unshipped",
    oracle="""
    SELECT l_orderkey,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    headline=True,
)
def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two equi-joins + agg + deterministic top-k (J1, A1, O1/O2).

    Scale: customer (filtered on mktsegment) broadcasts against orders;
    the orders->lineitem join shuffles on orderkey only after both sides
    are filtered. Top-k is a TakeOrderedAndProject — no global sort
    materialization.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT r_name, n_name,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
    FROM customer
    JOIN orders   ON c_custkey   = o_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY r_name, n_name
    """,
    headline=True,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join tree (J1/J2 shape at depth) + agg.

    Scale: region/nation/supplier are broadcast dims; the only shuffles are
    customer⋈orders (custkey) and orders⋈lineitem (orderkey). Catalyst +
    AQE pick the join order; the explicit broadcasts pin the dims.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "cohort_semi_join",
    headline=True,
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    JOIN part     ON l_partkey  = p_partkey
        WHERE p_name LIKE 'b%'
        GROUP BY o_custkey
        HAVING count(*) >= 5
    )
    """,
)
def cohort_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q1 cohort (``1_recommendation_app.py:20-32``): customers
    with >=N purchases of products LIKE 'b%', via IN-subquery -> semi-join
    (SURVEY P6/P7/J4/A1).

    Scale: the HAVING-filtered aggregate is tiny relative to customer, so
    it broadcasts into a left-semi hash join; no customer-side shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("b%"))
    cust = _t(spark, sf_dir, "customer")
    buyers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )
    return cust.join(
        F.broadcast(buyers), cust.c_custkey == buyers.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "overdue_report",
    oracle="""
    SELECT o_orderkey,
           c_name || ', ' || c_mktsegment AS customer_label,
           round(o_totalprice, 2)          AS total
    FROM orders, customer
    WHERE o_custkey = c_custkey
      AND o_orderstatus = 'F'
    """,
)
def overdue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q3 unpaid-invoice report (``2_unpaid_invoice_analysis.py:11-15``):
    implicit-cross-join + WHERE equi (J3), literal filter (P5), string
    concat (F10). Global ORDER BY total DESC in the app is presentation-
    only — the hash compare is order-insensitive, so it is omitted here
    and exercised in ``window_rank_topk``.
    """
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cust = _t(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey",
        F.concat_ws(", ", "c_name", "c_mktsegment").alias("customer_label"),
        F.round("o_totalprice", 2).alias("total"),
    )


@query(
    "left_join_nulls",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) big
      ON c_custkey = o_custkey
    """,
)
def left_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a null-producing right side (J2, the
    ``04_sales_enrich_sp.sql:55`` product-master join shape)."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "anti_join_inactive",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
)
def anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — customers with no recent orders. Beyond-reference
    but required engine surface (NOT EXISTS rewrite)."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Window family (SURVEY §2.6 W1-W3)
# ---------------------------------------------------------------------------


@query(
    "window_dedup_rownum",
    oracle="""
    SELECT p_brand, p_partkey, p_name, p_retailprice
    FROM (
        SELECT p_brand, p_partkey, p_name, p_retailprice,
               row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS row_num
        FROM part
    ) t
    WHERE row_num = 1
    """,
)
def window_dedup_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 dedup-to-master: ``row_number() OVER (PARTITION BY ...) = 1``
    (``04_sales_enrich_sp.sql:43-47``). The reference orders by the
    partition key itself (non-deterministic tie-break); per SURVEY §7 we
    order by the unique key so both engines pick the same row.

    Scale: one hash shuffle on the partition key; no global sort.
    """
    part = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_partkey")
    return (
        part.withColumn("row_num", F.row_number().over(w))
        .filter(F.col("row_num") == 1)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


@query(
    "window_rank_topk",
    headline=True,
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) t
    WHERE rk <= 3
    """,
)
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 server-side top-k per group (the altair top-20 rank chart of
    ``2_unpaid_invoice_analysis.py:44-48``, pushed into the engine)."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rk"
        )
    )


@query(
    "window_first_value",
    oracle="""
    SELECT DISTINCT p_brand,
           first_value(p_name) OVER (PARTITION BY p_brand
                                     ORDER BY p_partkey) AS first_name
    FROM part
    """,
)
def window_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: the commented-out ``first_value(...) OVER w`` + distinct
    alternative dedup (``04_sales_enrich_sp.sql:48-51``)."""
    part = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_partkey")
    return part.select(
        "p_brand", F.first_value("p_name").over(w).alias("first_name")
    ).distinct()


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE AS running_spend
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame spec (rowsBetween) — beyond-reference window surface."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2).cast("double").alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# Projection / scalar-expression family (SURVEY §2.2-2.3)
# ---------------------------------------------------------------------------


@query(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0')      AS padded_id,
           split_part(c_name, '#', 1)                     AS name_prefix,
           split_part(c_name, '#', 5)                     AS oob_empty,
           trim(concat('  ', c_mktsegment, ' '))          AS trimmed,
           substring(c_name, 1, 8)                        AS first8,
           instr(c_name, '#')                             AS hash_pos,
           length(c_name)                                 AS name_len,
           regexp_replace(c_name, '[^0-9]', '', 'g')      AS digits_only,
           upper(c_mktsegment) || '-' || CAST(c_nationkey AS VARCHAR) AS seg_nation
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F7/F8/F9/F10 scalar-function parity in one projection:
    split_part (1-based, '' out-of-range), lpad, trim, substring, instr,
    length, concat — the exact functions behind the reference's invoice
    parse (``3BC_create_raw_pdf_text_view.sql:3-11``) and phone cleanup
    (``02_customer_sp.sql:24-31``). Pure narrow projection: stays in one
    whole-stage-codegen stage, no shuffle.
    """
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_id"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_prefix"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(5)).alias("oob_empty"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        F.substring("c_name", 1, 8).alias("first8"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.length("c_name").alias("name_len"),
        F.regexp_replace(F.col("c_name"), "[^0-9]", "").alias("digits_only"),
        F.concat_ws(
            "-", F.upper("c_mktsegment"), F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
    )


@query(
    "conditional_case",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS balance_band,
           round(c_acctbal, 2) AS acctbal
    FROM customer
    """,
)
def conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9 when/otherwise chain (the phone-prefix normalization shape of
    ``02_customer_sp.sql:24-26``)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("balance_band"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )


@query(
    "distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey)  AS distinct_parts,
           count(DISTINCT l_suppkey)  AS distinct_supps,
           count(*)                   AS rows_total
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) under group-by — Spark expands to a two-phase
    aggregate automatically (beyond-reference agg surface)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("rows_total"),
    )


@query(
    "union_counts",
    oracle="""
    SELECT 'customer' AS table_name, count(*) AS row_count FROM customer
    UNION ALL
    SELECT 'orders'   AS table_name, count(*) AS row_count FROM orders
    UNION ALL
    SELECT 'lineitem' AS table_name, count(*) AS row_count FROM lineitem
    """,
)
def union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O4/X5: the reference's load-validation report
    (``0_setup_env_and_ingest.py:101-105``) — scalar counts stacked with
    UNION ALL."""
    out = None
    for name in ["customer", "orders", "lineitem"]:
        one = (
            _t(spark, sf_dir, name)
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select(F.lit(name).alias("table_name"), "row_count")
        )
        out = one if out is None else out.unionAll(one)
    return out


@query(
    "full_row_distinct",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def full_row_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4 distinct as dedup (``04_sales_enrich_sp.sql:56``)."""
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# ---------------------------------------------------------------------------
# Events table — the streaming schema queried in batch (SURVEY §2.9 T3 analog)
# ---------------------------------------------------------------------------


@query(
    "events_hourly_rollup",
    headline=True,
    oracle="""
    SELECT date_trunc('hour', ts)       AS bucket,
           event_type,
           count(*)                     AS n_events,
           count(DISTINCT user_id)      AS n_users,
           round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup of the event stream, run in batch — the
    dynamic-table (T3) maintenance query; the streaming module runs the
    same plan incrementally."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        _money_sum(F.col("value"), 2).alias("total_value"),
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (the ``from_json`` path of the streaming
    ingest, SURVEY §2.9 S12): pull a typed field out of a JSON string."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS correlated semi-join + agg (late-shipping
    orders per priority). Catalyst rewrites EXISTS to a left-semi join on
    orderkey with the date predicate as join condition."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, yr,
           round(sum(CAST(volume AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS yr,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped cross-nation volume by year: five joins including
    the nation table used twice under different aliases."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("yr"))
        .agg(
            _money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item revenue: 4-way join, agg,
    deterministic top-20 (tie-break on the unique custkey)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "above_avg_customers",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT avg(c_acctbal) FROM customer c2
        WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H-Q2/Q17 shape): customers above
    their nation's average balance. Written as SQL text so Catalyst's
    decorrelation (RewriteCorrelatedScalarSubquery) owns the rewrite to
    an aggregate + join."""
    from ..sources.batch import load_tables

    load_tables(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus, c_mktsegment,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((o_orderstatus), (c_mktsegment), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): status-only,
    segment-only, and grand-total groups in one pass."""
    from ..sources.batch import load_tables

    load_tables(spark, sf_dir, ["orders", "customer"])
    return spark.sql(
        """
        SELECT o_orderstatus, c_mktsegment,
               round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((o_orderstatus), (c_mktsegment), ())
        """
    )


@query(
    "window_range_trailing",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
               RANGE BETWEEN 90 PRECEDING AND CURRENT ROW), 2)::DOUBLE AS trailing_90d
    FROM orders
    """,
)
def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame spec: trailing-90-day spend per customer — the
    value-based frame (vs the row-based ``window_running_sum``). Ordering
    key is CALENDAR day number (datediff from epoch), not unix seconds:
    epoch functions on timezone-naive timestamps depend on the session
    timezone and shift across DST boundaries; day arithmetic is pure
    calendar and engine/timezone independent."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-90, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2).cast("double").alias("trailing_90d"),
    )


# ---------------------------------------------------------------------------
# Sessionization / pivot / rollup / set ops (beyond-reference engine surface)
# ---------------------------------------------------------------------------


@query(
    "events_sessionize",
    oracle="""
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                    AS BIGINT) AS session_seq
        FROM gaps
    )
    SELECT user_id, session_seq,
           count(*)             AS n_events,
           min(ts)              AS session_start,
           max(ts)              AS session_end,
           round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS total_value
    FROM sess
    GROUP BY user_id, session_seq
    """,
    headline=True,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag -> flag ->
    running-sum session ids -> per-session aggregates. The batch twin of
    ``applyInPandasWithState`` sessionization; microsecond-exact gap
    arithmetic (unix_micros) so both engines cut sessions identically.

    Scale: two window passes + one agg, all partitioned by user_id —
    a single shuffle key end to end, no driver involvement.
    """
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = gaps.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_session").over(w).alias("session_seq"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        _money_sum(F.col("value"), 2).alias("total_value"),
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority x status via ``groupBy().pivot()``
    (explicit value list — no extra pass to discover keys)."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"O": "n_open", "F": "n_finished", "P": "n_pending"})
    )
    return out.fillna(0, subset=["n_open", "n_finished", "n_pending"])


@query(
    "rollup_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS revenue,
           count(*)                    AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status -> status+priority -> grand total)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        _money_sum(F.col("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "segments_intersect",
    oracle="""
    SELECT c_mktsegment FROM customer c JOIN orders o ON c_custkey = o_custkey
    WHERE o.o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT c_mktsegment FROM customer c JOIN orders o ON c_custkey = o_custkey
    WHERE o.o_orderpriority = '5-LOW'
    """,
)
def segments_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (beyond-reference: the reference only uses UNION ALL)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey)
    urgent = joined.filter(F.col("o_orderpriority") == "1-URGENT").select("c_mktsegment")
    low = joined.filter(F.col("o_orderpriority") == "5-LOW").select("c_mktsegment")
    return urgent.intersect(low)


@query(
    "sample_hash_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 100 < 5
    """,
)
def sample_hash_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% sample via content hash — the reproducible,
    engine-portable version of the reference's random 1,000-customer
    sample (Q4, ``1_recommendation_app.py:41``); at scale this is also
    how you carve stable eval splits."""
    from ..functions.scalar import portable_hash64

    cust = _t(spark, sf_dir, "customer")
    return cust.filter(
        portable_hash64(F.col("c_custkey").cast("string")) % 100 < 5
    ).select("c_custkey", "c_name")


@query(
    "adhoc_sql_top_suppliers",
    oracle="""
    SELECT s_name, n_name,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY s_name, n_name
    """,
)
def adhoc_sql_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL entry point (SURVEY §2.1 S7 ``session.sql``): same
    Catalyst pipeline as the DataFrame API, registered views shared."""
    from ..sources.batch import load_tables

    load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    return spark.sql(
        """
        SELECT s_name, n_name,
               round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY s_name, n_name
        """
    )


# ---------------------------------------------------------------------------
# Reference-pipeline semantics under the oracle gate (synthesized inputs)
# ---------------------------------------------------------------------------

_INVOICE_TEXT_SQL = """
    'Customer: ' || CAST(o_custkey AS VARCHAR)
    || ' Invoice #: INV-' || CAST(o_orderkey AS VARCHAR)
    || ' Generated On: ' || strftime(o_orderdate, '%Y-%m-%d') || 'T00:00:00Z'
    || ' Invoice Status: ' || CASE o_orderstatus WHEN 'F' THEN 'Overdue'
                                                 WHEN 'O' THEN 'Paid'
                                                 ELSE 'Pending' END
    || ' Payment Date: ' || strftime(o_orderdate, '%Y-%m-%d')
    || ' Item 1 $' || CAST(o_orderkey % 900 + 10 AS VARCHAR) || '.25'
    || ' Item 2 $' || CAST(o_orderkey % 90 + 1 AS VARCHAR) || '.50'
    || ' Item 3 $' || CAST(o_orderkey % 9 + 1 AS VARCHAR) || '.75'
    || ' Total ' || CAST(o_orderkey % 9999 + 100 AS VARCHAR) || '.99'
"""


@query(
    "invoice_parse_synthetic",
    oracle=f"""
    WITH pdf AS (
        SELECT 'inv_' || CAST(o_orderkey AS VARCHAR) AS relative_path,
               {_INVOICE_TEXT_SQL} AS t
        FROM orders
    )
    SELECT relative_path,
           lpad(split_part(split_part(t, 'Customer:', 2), ' ', 2), 10, '0') AS customer_id,
           split_part(split_part(t, 'Invoice #:', 2), ' ', 2)    AS invoice_num,
           split_part(split_part(t, 'Generated On:', 2), ' ', 2) AS inv_gen_dt,
           trim(split_part(split_part(t, 'Status:', 2), 'Payment', 1)) AS inv_status,
           split_part(split_part(t, 'Payment Date:', 2), ' ', 2) AS payment_dt,
           CAST(replace(replace(split_part(split_part(t, 'Item 1', 2), ' ', 2), '$', ''), ',', '') AS DOUBLE) AS item_1,
           CAST(replace(replace(split_part(split_part(t, 'Item 2', 2), ' ', 2), '$', ''), ',', '') AS DOUBLE) AS item_2,
           CAST(replace(replace(split_part(split_part(t, 'Item 3', 2), ' ', 2), '$', ''), ',', '') AS DOUBLE) AS item_3,
           CAST(split_part(split_part(t, 'Total', 2), ' ', 2) AS DOUBLE) AS total
    FROM pdf
    """,
)
def invoice_parse_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The invoice SPLIT_PART cascade (F1-F5, ``3BC:3-11``) under the
    oracle gate: invoice-layout text synthesized deterministically from
    ``orders``, parsed by the REAL curate step (``parse_invoice_text``).
    DuckDB lacks Snowflake's TO_NUMBER format grammar, so its side strips
    ``$``/``,`` before casting — numerically identical."""
    from .curate import parse_invoice_text

    orders = _t(spark, sf_dir, "orders")
    status = (
        F.when(F.col("o_orderstatus") == "F", "Overdue")
        .when(F.col("o_orderstatus") == "O", "Paid")
        .otherwise("Pending")
    )
    text = F.concat(
        F.lit("Customer: "), F.col("o_custkey").cast("string"),
        F.lit(" Invoice #: INV-"), F.col("o_orderkey").cast("string"),
        F.lit(" Generated On: "), F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("T00:00:00Z"),
        F.lit(" Invoice Status: "), status,
        F.lit(" Payment Date: "), F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit(" Item 1 $"), (F.col("o_orderkey") % 900 + 10).cast("string"), F.lit(".25"),
        F.lit(" Item 2 $"), (F.col("o_orderkey") % 90 + 1).cast("string"), F.lit(".50"),
        F.lit(" Item 3 $"), (F.col("o_orderkey") % 9 + 1).cast("string"), F.lit(".75"),
        F.lit(" Total "), (F.col("o_orderkey") % 9999 + 100).cast("string"), F.lit(".99"),
    )
    pdf = orders.select(
        F.concat(F.lit("inv_"), F.col("o_orderkey").cast("string")).alias(
            "RELATIVE_PATH"
        ),
        text.alias("PDF_TEXT"),
    )
    out = parse_invoice_text(pdf, strict=True)
    return out.select(
        F.col("RELATIVE_PATH").alias("relative_path"),
        F.col("CUSTOMER_ID").alias("customer_id"),
        F.col("INVOICE_NUM").alias("invoice_num"),
        F.col("INV_GEN_DT").alias("inv_gen_dt"),
        F.col("INV_STATUS").alias("inv_status"),
        F.col("PAYMENT_DT").alias("payment_dt"),
        F.col("ITEM_1").cast("double").alias("item_1"),
        F.col("ITEM_2").cast("double").alias("item_2"),
        F.col("ITEM_3").cast("double").alias("item_3"),
        F.col("TOTAL").cast("double").alias("total"),
    )


@query(
    "phone_standardize_synthetic",
    oracle="""
    WITH raw AS (
        SELECT c_custkey,
               lpad(CAST((c_custkey * 7919 + 123456) % 10000000000 AS VARCHAR), 10, '0') AS d,
               c_custkey % 3 AS style
        FROM customer
    ),
    phones AS (
        SELECT c_custkey,
               CASE style
                   WHEN 0 THEN '(' || substr(d, 1, 3) || ')' || substr(d, 4, 3) || '-' || substr(d, 7, 4)
                   WHEN 1 THEN '+1-' || substr(d, 1, 3) || '-' || substr(d, 4, 3) || '-' || substr(d, 7, 4)
                   ELSE substr(d, 1, 3) || '.' || substr(d, 4, 3) || '.' || substr(d, 7, 4) || 'x99'
               END AS phone_raw
        FROM raw
    )
    SELECT c_custkey, phone_raw,
           CASE WHEN starts_with(regexp_replace(phone_raw, '[^0-9_]', '', 'g'), '1')
                THEN substr(regexp_replace(phone_raw, '[^0-9_]', '', 'g'), 2, 10)
                ELSE substr(regexp_replace(phone_raw, '[^0-9_]', '', 'g'), 1, 10)
           END AS phone_norm
    FROM phones
    """,
)
def phone_standardize_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer phone standardization (P8/P9/F6/F7,
    ``02_customer_sp.sql:24-26``) under the oracle gate: free-format
    phones synthesized deterministically from c_custkey, normalized by the
    REAL ``normalize_phone`` helper (including the +1/leading-1 branch)."""
    from ..functions.scalar import normalize_phone

    cust = _t(spark, sf_dir, "customer")
    d = F.lpad(((F.col("c_custkey") * 7919 + 123456) % 10_000_000_000).cast("string"), 10, "0")
    style = F.col("c_custkey") % 3
    phone_raw = (
        F.when(
            style == 0,
            F.concat(
                F.lit("("), d.substr(1, 3), F.lit(")"), d.substr(4, 3), F.lit("-"), d.substr(7, 4)
            ),
        )
        .when(
            style == 1,
            F.concat(
                F.lit("+1-"), d.substr(1, 3), F.lit("-"), d.substr(4, 3), F.lit("-"), d.substr(7, 4)
            ),
        )
        .otherwise(
            F.concat(
                d.substr(1, 3), F.lit("."), d.substr(4, 3), F.lit("."), d.substr(7, 4), F.lit("x99")
            )
        )
    )
    return cust.select(
        "c_custkey",
        phone_raw.alias("phone_raw"),
        normalize_phone(phone_raw).alias("phone_norm"),
    )


@query(
    "events_session_window",
    oracle="""
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                      OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS session_seq
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS total_value
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's built-in ``session_window`` — one
    groupBy, no window-function passes (the aggregate merges sessions
    internally). Boundary semantics are half-open: an event exactly
    ``gap`` after the previous one STARTS a new session, hence the
    ``>=`` in the oracle's island test (vs ``>`` in the lag-based
    ``events_sessionize``). ``session_window.end`` is last-event + gap,
    so the emitted session_end subtracts the gap back off.

    Scale: single shuffle on (user_id) with map-side partial session
    merge — strictly fewer passes than the two-window lag formulation.
    """
    ev = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            (F.col("sw.end") - F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_attribution_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           round(p.value, 6) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (click-to-purchase attribution within 1
    hour) — the batch twin of
    ``streaming.incremental.attribution_join_streams``; the streaming
    version adds watermarks for state eviction, this version puts the
    identical semantics under the DuckDB oracle gate.

    Scale: equi-key (user_id) + time-range predicate — Spark executes a
    shuffled hash/sort-merge join on user_id with the range as a
    post-join filter; per-user event counts bound the pair blowup.
    """
    ev = _t(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            "click_ts",
            "purchase_ts",
            F.round("purchase_value", 6).alias("purchase_value"),
        )
    )


@query(
    "events_value_stats",
    oracle="""
    SELECT event_type,
           round(avg(value), 4) AS avg_value,
           round(stddev_samp(value), 4) AS sd_value,
           round(corr(value, user_id::DOUBLE), 4) AS corr_value_user
    FROM events
    GROUP BY event_type
    """,
)
def events_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev, Pearson correlation) per
    event type — the profiling pass run before anomaly thresholds.
    Both engines compute these via streaming co-moments whose merge
    order differs only at the last ulp; rounding to 4 decimals leaves
    ~8 orders of magnitude of margin.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.corr("value", F.col("user_id").cast("double")), 4).alias(
            "corr_value_user"
        ),
    )


@query(
    "events_approx_stats",
    oracle="""
    SELECT DISTINCT event_type,
           1 AS hll_ok, 1 AS p50_ok, 1 AS p95_ok
    FROM events
    """,
)
def events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the sketch tier every 100 TB engine
    needs (exact distinct counts / percentiles shuffle every value;
    sketches shuffle kilobytes): HyperLogLog++ distinct users and
    Greenwald-Khanna value percentiles per event_type.

    Raw sketch outputs are algorithm- and merge-order-specific — not
    portable across engines — so the cross-engine invariant the oracle
    pins is the ACCURACY CONTRACT instead: per event_type, a 1/0 flag
    that each sketch lands within its declared tolerance of the exact
    aggregate, computed entirely in-Spark (HLL++ rsd=1% checked at 5
    sigma; GK percentile accuracy=10k checked against the exact
    quantile envelope +/-0.05 — both orders of magnitude wider than the
    guarantee, so a correct sketch can never flake the gate). The
    oracle is the all-ok constant table; a broken sketch (or a broken
    exact aggregate) flips a flag and hash-mismatches.
    """
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        # exact quantile envelope [q-0.05, q+0.05] for each target q;
        # GK with accuracy=10000 guarantees rank error <= n/10000,
        # ~500x tighter than this check
        F.expr("percentile(value, array(0.45, 0.55, 0.90, 0.99))").alias("pb"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_approx"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("p50a"),
        F.percentile_approx("value", F.lit(0.95), F.lit(10000)).alias("p95a"),
    )

    def ok(cond) -> F.Column:
        return F.when(cond, F.lit(1)).otherwise(F.lit(0))

    return agg.select(
        "event_type",
        ok(
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("hll_ok"),
        ok(
            (F.col("p50a") >= F.col("pb")[0]) & (F.col("p50a") <= F.col("pb")[1])
        ).alias("p50_ok"),
        ok(
            (F.col("p95a") >= F.col("pb")[2]) & (F.col("p95a") <= F.col("pb")[3])
        ).alias("p95_ok"),
    )


@query(
    "events_asof_lasttouch",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, p.purchase_ts,
           c.ts AS click_ts, c.click_id,
           epoch_us(p.purchase_ts) - epoch_us(c.ts) AS gap_us
    FROM p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.purchase_ts >= c.ts
    """,
)
def events_asof_lasttouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution as an AS-OF JOIN: each purchase matched to
    the user's latest click at-or-before it (null when no prior click).
    The oracle is DuckDB's native ``ASOF LEFT JOIN``; the Spark side is
    :func:`operators.joins.asof_join` — union + single window pass, one
    shuffle on user_id, never a nested-loop inequality join. Clicks
    pre-aggregate to one row per (user_id, ts) (max event_id) so the
    as-of pick is deterministic in both engines.
    """
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="purchase_ts", right_ts="ts"
    )
    return out.select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        F.col("ts_r").alias("click_ts"),
        F.col("click_id_r").alias("click_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros(F.col("ts_r"))).alias("gap_us"),
    )


@query(
    "events_range_join_windows",
    oracle="""
    WITH iv AS (
        SELECT user_id AS owner_id,
               min(ts) AS w_start,
               min(ts) + INTERVAL 6 HOUR AS w_end
        FROM events WHERE user_id % 10 = 0 GROUP BY user_id
    )
    SELECT owner_id, w_start, count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS total_value
    FROM events e JOIN iv ON e.ts BETWEEN iv.w_start AND iv.w_end
    GROUP BY owner_id, w_start
    """,
)
def events_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval RANGE JOIN: activity windows (each sampled
    user's first 6 hours) x ALL users' events falling inside them —
    no equi-key between the sides, the classic range-join shape.

    Spark would plan the raw BETWEEN join as BroadcastNestedLoopJoin
    (O(points x intervals)); :func:`range_join_point_in_interval`
    rewrites it as an hour-chunk equi-join + exact refine, so the
    shuffle key is bounded and only same-chunk pairs are compared —
    the formulation that survives intervals tables too big to broadcast.
    """
    from ..operators.joins import range_join_point_in_interval

    ev = _t(spark, sf_dir, "events")
    iv = (
        ev.filter(F.col("user_id") % 10 == 0)
        .groupBy(F.col("user_id").alias("owner_id"))
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 6 HOURS"))
    )
    pts = ev.select("ts", "value")
    joined = range_join_point_in_interval(
        pts, iv, point_ts="ts", start_ts="w_start", end_ts="w_end", chunk_seconds=3600
    )
    return joined.groupBy("owner_id", "w_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        _money_sum(F.col("value"), 2).alias("total_value"),
    )


@query(
    "events_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS c_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts >= s.s_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        GROUP BY e.user_id
    )
    SELECT count(s_ts) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after,
           (SELECT count(*) FROM p) AS n_purchase_after
    FROM s
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup -> first click at-or-after it ->
    first purchase at-or-after that click, counted per stage. The
    sequential constraint (each stage strictly downstream of the
    previous user-level timestamp) is what a bare GROUP BY can't say.

    Scale: three passes over events, every one shuffling on user_id
    only — the stage joins are user-level aggregates (one row per
    funnel survivor), so each pass is fact ⋈ shrinking-agg; the final
    three 1-row counts cross-join as broadcasts.
    """
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts")
    )
    c = (
        ev.join(s, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") >= F.col("s_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.join(c, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("c_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count("s_ts").alias("n_signup"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click_after"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase_after"))))
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_diff('day', f.cohort_week, date_trunc('week', e.ts)) / 7
                    AS BIGINT) AS week_n
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_n, count(*) AS n_users
    FROM active GROUP BY cohort_week, week_n
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users grouped by first-activity week
    (cohort), counted in each subsequent week they were active — the
    standard growth-analytics triangle.

    Scale: first-week agg shuffles on user_id; the activity join is
    fact ⋈ per-user-agg on the same key (co-partitioned under AQE); the
    distinct + final agg shuffle on (cohort_week, week_n) — tiny
    cardinality. Week arithmetic stays on date_trunc boundaries so both
    engines bucket identically (day-diff is always a multiple of 7 —
    the division is exact).
    """
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            )
            .cast("bigint")
            .alias("week_n"),
        )
        .distinct()
    )
    return active.groupBy("cohort_week", "week_n").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# registration side-effect: the ML/training-data extension queries
from . import queries_ml  # noqa: E402,F401  (import at end avoids circularity)
from . import queries_tpch  # noqa: E402,F401
from . import queries_index  # noqa: E402,F401  (stateful-surface audits)
from . import queries_stream_audit  # noqa: E402,F401  (streaming ingest audits)


@query(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6)  AS p50,
           round(quantile_cont(value, 0.9), 6)  AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark
    ``percentile`` == DuckDB ``quantile_cont``, both linear-interpolated
    type-7 quantiles).

    Scale note: EXACT percentiles sort each group's values — fine for
    bounded group counts; at 100 TB swap to ``percentile_approx``
    (t-digest sketch, mergeable map-side, kB of state) and accept the
    documented error bound — the declared approx twin is
    ``events_approx_stats``."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@query(
    "events_value_histogram",
    oracle="""
    SELECT CAST(least(floor(value / 5), 19) AS BIGINT) AS bucket,
           count(*) AS n_events,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM events
    GROUP BY CAST(least(floor(value / 5), 19) AS BIGINT)
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (width 5, top-clamped at bucket 19) —
    the distribution profile every monitoring layer draws. One codegen
    projection + one 20-group aggregate; partial aggregation makes the
    shuffle 20 rows per task regardless of input size."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 5), F.lit(19)).cast("bigint")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@query(
    "events_type_correlation",
    oracle="""
    SELECT event_type,
           round(corr(value, CAST(extract(hour FROM ts) AS DOUBLE)), 6)
               AS corr_value_hour,
           round(covar_samp(value, CAST(extract(hour FROM ts) AS DOUBLE)), 6)
               AS covar_value_hour,
           round(stddev_samp(value), 6) AS sd_value
    FROM events GROUP BY event_type
    """,
)
def events_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Pearson correlation / sample covariance between event
    value and hour-of-day (the "is value seasonal by hour" screen), plus
    the value stddev. All three are single-pass streaming moments —
    partial-aggregatable, constant state per group."""
    ev = _t(spark, sf_dir, "events")
    hour = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.corr(F.col("value"), hour), 6).alias("corr_value_hour"),
        F.round(F.covar_samp(F.col("value"), hour), 6).alias("covar_value_hour"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
    )


@query(
    "heavy_hitters_value",
    oracle="""
    SELECT CAST(floor(value) AS BIGINT) AS k,
           count(*) AS freq
    FROM events
    GROUP BY CAST(floor(value) AS BIGINT)
    HAVING count(*) > 0.02 * (SELECT count(*) FROM events)
    """,
)
def heavy_hitters_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items over the floored event value (theta = 2%): the
    two-pass candidate-prune plan from
    :func:`operators.frequency.heavy_hitters` — EXACT output (the
    pass-1 union over-admits, never drops, so a plain GROUP BY oracle
    checks it) with the shuffle bounded to candidate keys instead of
    every distinct key."""
    from ..operators.frequency import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(
        ev, F.floor(F.col("value")).cast("bigint"), theta=0.02
    )


@query(
    "cube_revenue",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (all four grouping-set combinations of status x
    priority) — the OLAP cross-tab sibling of the ROLLUP/GROUPING SETS
    queries. Spark expands the cube map-side into the same single
    shuffle as a plain groupBy (4x partial rows, tiny group count).
    DECIMAL-cast money sums keep the total order-independent across
    engines (round-1 float-sum lesson)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "customer_spend_distribution",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           total,
           round(percent_rank() OVER (ORDER BY total, o_custkey), 6) AS pr,
           round(cume_dist()    OVER (ORDER BY total, o_custkey), 6) AS cd
    FROM spend
    """,
)
def customer_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spend with percent_rank / cume_dist over the whole
    distribution — the percentile-position view behind "top-x%% customer"
    segmentation. The customer key breaks rank ties so both engines see
    one total order.

    Scale caveat (declared): a global ORDER BY window is a single-task
    sort at the limit; at 100 TB compute distribution position against
    percentile-bucket boundaries (one small agg + broadcast join)
    instead — the NTILE variant (``acctbal_ntile_quartiles``) shows the
    bucketed form."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total")
    )
    w = W.orderBy("total", "o_custkey")
    return spend.select(
        "o_custkey",
        "total",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "spend_distribution_bucketed",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total
        FROM orders GROUP BY o_custkey
    ),
    bounds AS (
        SELECT quantile_cont(total, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
        FROM spend
    ),
    bucketed AS (
        SELECT 1 + len(list_filter(b.bs, x -> s.total > x)) AS decile, s.total
        FROM spend s CROSS JOIN bounds b
    )
    SELECT decile,
           count(*) AS n_customers,
           round(min(total), 2) AS spend_min,
           round(max(total), 2) AS spend_max,
           round(sum(total), 2) AS spend_sum
    FROM bucketed GROUP BY decile
    """,
)
def spend_distribution_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile view of customer spend — the scale-shaped twin of
    ``customer_spend_distribution``. Instead of ranking every customer
    through one global ORDER BY window (a single-task sort at 100 TB),
    compute the 9 exact decile boundaries with one tiny ``percentile``
    aggregation (9 doubles), broadcast them back over the spend table,
    and assign each row its decile with an array filter — then roll up
    per decile. Two shuffles total (custkey agg, decile agg), no Window,
    no single-partition sort; the boundary join is a broadcast of one
    row.

    Both engines interpolate boundaries the same way (``(n-1)*p`` linear
    interpolation: Spark exact ``percentile`` == DuckDB
    ``quantile_cont``), and bucket assignment uses strict ``>`` against
    the shared boundaries, so the gate is exact, not tolerance-based."""
    from ..cache import registered_persist

    o = _t(spark, sf_dir, "orders")
    spend = registered_persist(
        o.groupBy("o_custkey").agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total")
        )
    )
    bounds = spend.agg(
        F.expr(
            "percentile(total, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("bs")
    )
    bucketed = spend.crossJoin(F.broadcast(bounds)).select(
        (1 + F.size(F.filter("bs", lambda x: F.col("total") > x))).alias("decile"),
        "total",
    )
    return bucketed.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.round(F.min("total"), 2).alias("spend_min"),
        F.round(F.max("total"), 2).alias("spend_max"),
        F.round(F.sum("total"), 2).alias("spend_sum"),
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    wau AS (
        SELECT d.day, count(DISTINCT du.user_id) AS wau
        FROM days d
        JOIN du ON du.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        GROUP BY d.day
    ),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day)
    SELECT dau.day, dau.dau, wau.wau,
           round(dau.dau / wau.wau, 6) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / trailing-7-day WAU / stickiness per day. Rolling
    COUNT DISTINCT has no window form (distinct state isn't mergeable
    across frames), so the scale-correct exact plan dedups to day-user
    grain FIRST (the big shrink: |days| x |users| upper bound), then
    fans each day-user row into the <= 7 window days it serves and
    counts distinct per day — joins and aggs all on day-grain keys.
    At 100 TB swap the distinct for a per-day HLL sketch union
    (``events_approx_stats`` shows the sketch tier)."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = du.select("day").distinct()
    # Fan each day-user row into the <= 7 serving days it contributes to
    # (explode of a 7-element sequence), then BROADCAST-equi-join against
    # the tiny observed-days set to drop serving days with no events.
    # Cost is |du| x 7, not |du| x |days|: the BETWEEN formulation would
    # plan as a BroadcastNestedLoopJoin whose work grows with the day
    # count — exactly what range_join_point_in_interval exists to avoid.
    served = du.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    )
    wau = (
        served.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
    )


@query(
    "events_type_trend",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, epoch(ts) - 1704067200), 6)     AS slope_per_sec,
           round(regr_intercept(value, epoch(ts) - 1704067200), 6) AS intercept,
           round(regr_r2(value, epoch(ts) - 1704067200), 6)        AS r2,
           CAST(regr_count(value, epoch(ts) - 1704067200) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def events_type_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of event value over time (slope / intercept /
    R^2) via the SQL regression aggregate family — "is this metric
    drifting" in one pass, no ML library. Streaming moments like
    corr/covar: constant per-group state, fully partial-aggregatable,
    so the shuffle is 5 rows however large the fact table is."""
    ev = _t(spark, sf_dir, "events")
    # fractional epoch seconds (matches DuckDB epoch()), centered on the
    # corpus start so the OLS normal equations stay well-conditioned —
    # raw 1.7e9-magnitude x makes the intercept's cancellation visible
    # at the 4th decimal across engines
    x = F.col("ts").cast("double") - F.lit(1704067200.0)
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope(v, x), 6).alias("slope_per_sec"),
        F.round(F.regr_intercept(v, x), 6).alias("intercept"),
        F.round(F.regr_r2(v, x), 6).alias("r2"),
        F.regr_count(v, x).cast("bigint").alias("n"),
    )


@query(
    "events_variant_agg",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           round(sum(CAST(value AS DECIMAL(18,6))), 4)::DOUBLE AS total_value
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY k_bucket
    """,
)
def events_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through Spark 4's VARIANT type:
    ``parse_json`` ingests the raw JSON props into the binary variant
    encoding once, ``variant_get`` extracts a typed field, and the
    grouped aggregate runs on the extracted column. The modern
    replacement for per-access ``get_json_object`` string re-parsing —
    on a wide events table the variant decode happens once per row
    however many fields the query touches.

    Scale: variant parse + extraction are JVM-side codegen expressions
    (no UDF); the groupBy shuffles 10 buckets of partial sums. Decimal
    addends keep the sums order-independent across engines.
    """
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select(
            (k % 10).alias("k_bucket"),
            F.col("value").cast("decimal(18,6)").alias("val"),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 4).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality constraint suite (SURVEY §8 pipeline-validation tier)
# ---------------------------------------------------------------------------

from ..operators import validate as _V  # noqa: E402

#: The shipped demo suite over ``orders`` (+ customer referential
#: integrity). Mixes exact keys (metric 1.0), partial compliance with a
#: loose threshold (passes), and partial compliance against an exact
#: threshold (fails) so the gate pins BOTH branches of ``passed``.
_DQ_SUITE = [
    _V.not_null("o_custkey"),
    _V.unique("o_orderkey"),
    _V.in_set("o_orderstatus", ["O", "F", "P"]),
    _V.in_set("o_orderstatus", ["O", "F"], threshold=0.6),
    _V.in_range("o_totalprice", 0, 400000, threshold=0.99),
    _V.matches("o_orderpriority", "^[1-5]-", threshold=1.0),
    _V.matches("o_orderpriority", "^[12]-", threshold=0.3),
    _V.foreign_key("o_custkey", "customer", "c_custkey"),
]


@query(
    "data_quality_audit",
    oracle=_V.constraint_oracle_sql("orders", _DQ_SUITE),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint report over ``orders`` — completeness,
    key uniqueness, enum membership, range, regex, and referential
    integrity against ``customer`` — one row per constraint.

    Scale: all seven row-local constraints fold into ONE wide aggregate
    (single scan, map-side partials, one counter row shuffled); the FK
    check is one broadcast anti-ish join (distinct customer keys are
    dimension-sized). ``passed`` is computed from exact integer
    counters, not the rounded ratio, so a single bad row in 10^7 still
    fails an exact threshold. Reference analog: the row-count
    validation step of the reference's ingest DAG
    (code/elt_pipeline/procedures, X5) generalized to a declarative
    suite.
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return _V.check(orders, _DQ_SUITE, refs={"customer": customer})
