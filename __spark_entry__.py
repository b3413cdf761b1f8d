"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2 via
the ``data_pipeline_ine_spark`` package; ``oracle_sql()`` holds the DuckDB
equivalent. Column names are aliased identically on both sides.

Determinism notes (the driver hash-compares values):
- Money sums go through ``decimal(18,2)`` (exact, order-insensitive) and are
  cast back to double — Spark's partial-aggregation order can't perturb them.
- Averages are computed as exact decimal sum / count, rounded.
- Every ORDER BY ... LIMIT has a unique tiebreaker column.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_ine_spark.operators.aggregates import group_count
from data_pipeline_ine_spark.operators.filters import sparse_entity_filter
from data_pipeline_ine_spark.operators.joins import attach_label
from data_pipeline_ine_spark.operators.setops import union_distinct
from data_pipeline_ine_spark.operators.windows import sequential_id, top_k
from data_pipeline_ine_spark.plans.builder import ViewDefinition, consolidate
from data_pipeline_ine_spark.sources.registry import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

SF_SMOKE = "/root/testdata/sf0.001"


def _dec_sum(col, alias):
    """Deterministic money sum: exact decimal accumulation → double."""
    return F.sum(col.cast("decimal(18,2)")).cast("double").alias(alias)


def _event_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        F.to_date("ts").alias("event_date"),
        "user_id",
        "event_type",
        "value",
    )


# ---------------------------------------------------------------------------
# Flagship: the reference's consolidated-view semantics (step5) over events —
# sparse-entity filter (step4) + scaffold/pivot consolidation (step5 J4/U1).
# ---------------------------------------------------------------------------
def q_v_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.filters import non_null_non_empty

    facts = non_null_non_empty(_event_facts(spark, sf_dir), "event_date", "user_id")
    view = ViewDefinition(
        name="v_user_day",
        members=tuple(EVENT_TYPES),
        period_out="event_date",
        station_out="user_id",
    )
    # min_records fuses the step-4 sparse-entity filter into the pivot's own
    # groupBy (HAVING on the same shuffle): one scan + one shuffle total,
    # versus two of each with a separate filter pass.
    wide = consolidate(
        facts,
        view,
        agg_expr="sum",
        period_col="event_date",
        station_col="user_id",
        dataset_col="event_type",
        value_col="value",
        min_records=3,
    )
    return wide.select(
        "event_date",
        "user_id",
        *[F.round(F.col(t), 2).alias(t) for t in EVENT_TYPES],
    )


ORACLE_V_CONSOLIDATION = """
WITH facts AS (
  SELECT CAST(ts AS DATE) AS event_date, user_id, event_type, value
  FROM events
), keep AS (
  SELECT event_date, user_id FROM facts
  WHERE event_date IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2 HAVING COUNT(value) >= 3
)
SELECT f.event_date, f.user_id,
  ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2)    AS click,
  ROUND(SUM(value) FILTER (WHERE event_type = 'error'), 2)    AS error,
  ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
  ROUND(SUM(value) FILTER (WHERE event_type = 'signup'), 2)   AS signup,
  ROUND(SUM(value) FILTER (WHERE event_type = 'view'), 2)     AS view
FROM facts f JOIN keep k USING (event_date, user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# TPC-H-ish Q1: pricing summary (A1/A6/A7 + O1)
# ---------------------------------------------------------------------------
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # NTZ literal: wall-clock comparison, session-timezone-invariant
    cutoff = F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            # disc_price is exactly a 4-dp decimal (2dp price × 2dp factor);
            # cast at natural scale so double→decimal rounding is unambiguous
            F.round(F.sum(disc_price.cast("decimal(22,4)")).cast("double"), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.sum(charge.cast("decimal(24,6)")).cast("double"), 2).alias(
                "sum_charge"
            ),
            F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
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
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
  SUM(l_quantity) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE), 2) AS sum_disc_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE), 2) AS sum_charge,
  ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Sparse-entity filter (step4: A1+A2+P5+P6 as anti-join)
# ---------------------------------------------------------------------------
def q_sparse_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = _event_facts(spark, sf_dir)
    dense = sparse_entity_filter(
        facts, ["user_id", "event_type"], value_col="value", min_records=5
    )
    return group_count(dense, ["user_id", "event_type"], value_col="value")


ORACLE_SPARSE = """
WITH clean AS (
  SELECT user_id, event_type, value FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND event_type <> ''
)
SELECT user_id, event_type, COUNT(value) AS n
FROM clean
GROUP BY user_id, event_type
HAVING COUNT(value) >= 5
"""


# ---------------------------------------------------------------------------
# Label-attachment joins (J1/J2): orders → customer → nation → region
# ---------------------------------------------------------------------------
def q_label_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    nation = load_table(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    region = load_table(spark, sf_dir, "region").withColumnRenamed(
        "r_regionkey", "n_regionkey"
    )
    out = attach_label(orders, customer, on="o_custkey")
    out = attach_label(out, nation, on="c_nationkey")
    out = attach_label(out, region, on="n_regionkey")
    return out.select("o_orderkey", "c_name", "n_name", "r_name")


ORACLE_LABEL_JOIN = """
SELECT o_orderkey, c_name, n_name, r_name
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


# ---------------------------------------------------------------------------
# Distincts / dedup / catalogs (A3-A5, U3, W1)
# ---------------------------------------------------------------------------
def q_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.aggregates import distinct_values

    return distinct_values(load_table(spark, sf_dir, "events"), ["event_type"])


ORACLE_DISTINCT_TYPES = "SELECT DISTINCT event_type FROM events"


def q_users_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


ORACLE_USERS_PER_TYPE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q_dedup_catalog_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic-survivor variant of A5 (see operators.aggregates.dedup_on)
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n_docs")
    )


ORACLE_DEDUP_CATALOG = """
SELECT lang, source, MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
FROM documents GROUP BY lang, source
"""


def q_entity_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    # v_entidades_agua semantics (step5_create_views.py:550-633): union of
    # per-type distinct entities → sequential id over (tipo, nombre).
    docs = load_table(spark, sf_dir, "documents")
    langs = docs.select(
        F.lit("lang").alias("tipo"), F.col("lang").alias("nombre")
    )
    sources = docs.select(
        F.lit("source").alias("tipo"), F.col("source").alias("nombre")
    )
    catalog = union_distinct([langs, sources])
    return sequential_id(catalog, ["tipo", "nombre"]).select("id", "nombre", "tipo")


ORACLE_ENTITY_CATALOG = """
WITH ents AS (
  SELECT DISTINCT 'lang' AS tipo, lang AS nombre FROM documents
  UNION
  SELECT DISTINCT 'source' AS tipo, source AS nombre FROM documents
)
SELECT ROW_NUMBER() OVER (ORDER BY tipo, nombre) AS id, nombre, tipo
FROM ents
"""


# ---------------------------------------------------------------------------
# Top-k (O2) / scaffold union (U1)
# ---------------------------------------------------------------------------
def q_top5_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = group_count(events, ["user_id"])
    return top_k(counts, [F.desc("n"), F.asc("user_id")], 5)


ORACLE_TOP5_USERS = """
SELECT user_id, COUNT(*) AS n FROM events
GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5
"""


def q_union_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = _event_facts(spark, sf_dir)
    views = facts.filter(F.col("event_type") == "view").select("event_date", "user_id")
    clicks = facts.filter(F.col("event_type") == "click").select(
        "event_date", "user_id"
    )
    return union_distinct([views, clicks])


ORACLE_UNION_SCAFFOLD = """
SELECT CAST(ts AS DATE) AS event_date, user_id FROM events WHERE event_type = 'view'
UNION
SELECT CAST(ts AS DATE) AS event_date, user_id FROM events WHERE event_type = 'click'
"""


# ---------------------------------------------------------------------------
# Percentiles (A8) — exact, per group
# ---------------------------------------------------------------------------
def q_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.aggregates import percentile_summary

    events = load_table(spark, sf_dir, "events")
    out = percentile_summary(events, ["event_type"], "value")
    return out.select(
        "event_type",
        *[F.round(F.col(c), 6).alias(c) for c in ("p50", "p90", "p95", "p98", "p99")],
    )


ORACLE_PERCENTILES = """
SELECT event_type,
  ROUND(quantile_cont(value, 0.50), 6) AS p50,
  ROUND(quantile_cont(value, 0.90), 6) AS p90,
  ROUND(quantile_cont(value, 0.95), 6) AS p95,
  ROUND(quantile_cont(value, 0.98), 6) AS p98,
  ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Numeric-coercion heuristic (F4) as a ratio query
# ---------------------------------------------------------------------------
def q_numeric_coercion_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_chars_str", F.col("n_chars").cast("string")
    )

    def ratio(c: str):
        return F.round(
            F.sum(F.col(c).try_cast("double").isNotNull().cast("int"))
            / F.greatest(F.sum(F.col(c).isNotNull().cast("int")), F.lit(1)),
            3,
        )

    return docs.agg(
        ratio("text").alias("ratio_text"),
        ratio("n_chars_str").alias("ratio_n_chars"),
    )


ORACLE_COERCION = """
SELECT
  ROUND(SUM(CASE WHEN TRY_CAST(text AS DOUBLE) IS NOT NULL THEN 1 ELSE 0 END)
        / GREATEST(SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END), 1), 3) AS ratio_text,
  ROUND(SUM(CASE WHEN TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL THEN 1 ELSE 0 END)
        / GREATEST(SUM(CASE WHEN CAST(n_chars AS VARCHAR) IS NOT NULL THEN 1 ELSE 0 END), 1), 3) AS ratio_n_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# Filter + projection pushdown (P1-P5)
# ---------------------------------------------------------------------------
def q_filtered_net_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # disc product is exactly a 4-dp decimal; recover it at natural scale
    # before rounding so Spark and any SQL engine round the same half-cases
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return l.filter(F.col("l_quantity") < 5).select(
        "l_orderkey",
        "l_linenumber",
        F.round(net, 2).cast("double").alias("net_price"),
    )


ORACLE_FILTERED_NET = """
SELECT l_orderkey, l_linenumber,
  CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)), 2) AS DOUBLE) AS net_price
FROM lineitem WHERE l_quantity < 5
"""


# ---------------------------------------------------------------------------
# Scalar stats (A7) + JSON extraction (props column)
# ---------------------------------------------------------------------------
def q_orders_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORACLE_ORDERS_STATS = """
SELECT MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  COUNT(*) AS n_orders
FROM orders
"""


def q_json_props_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("bigint")
    return events.groupBy("event_type").agg(F.sum(k).alias("sum_k"))


ORACLE_JSON_PROPS = """
SELECT event_type,
  CAST(SUM(TRY_CAST(NULLIF(regexp_extract(props, '"k":\\s*(-?\\d+)', 1), '') AS BIGINT))
       AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing through Spark 4's VARIANT type:
    ``parse_json`` once into a binary variant, ``variant_get`` typed
    paths out of it — the columnar-shredding-friendly path that replaces
    per-access JSON string re-parsing (get_json_object re-parses the
    string for every extraction; a variant parses once and serves every
    path). Per-type stats over the extracted field plus a parse-health
    count; decimal-double stats recipe as everywhere."""
    events = load_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_parsed"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_VARIANT = """
SELECT event_type, COUNT(*) AS n,
  COUNT(TRY_CAST(props AS JSON)) AS n_parsed,
  CAST(SUM(CAST(CAST(props AS JSON) ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
  MIN(CAST(CAST(props AS JSON) ->> 'k' AS BIGINT)) AS min_k,
  MAX(CAST(CAST(props AS JSON) ->> 'k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# TPC-H-ish join/agg suite (J1-J3 at fact scale + A1/A7): Q3, Q5, Q6
# Dates adapted to the synthetic data's 1995-2001 range.
# ---------------------------------------------------------------------------
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )
    return (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                customer.filter(F.col("c_mktsegment") == "BUILDING").select(
                    "c_custkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(disc_price).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_Q3 = """
SELECT l_orderkey, o_orderdate,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Local-supplier semantics: customer and supplier in the same nation.
    # Dimension chain (nation⋈region) broadcasts; the lineitem⋈orders join is
    # the only shuffle of fact-scale data.
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )
    dims = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    return (
        lineitem.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(dims), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(disc_price).cast("double"), 2).alias("revenue"))
    )


ORACLE_Q5 = """
SELECT n_name,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure scan+filter+agg: every predicate pushes to the parquet reader.
    lineitem = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(22,4)")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


ORACLE_Q6 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,4))) AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Partitioned ranking window (extension beyond the reference's W1)
# ---------------------------------------------------------------------------
def q_window_top_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each user's highest-spend day via row_number over a partitioned window.
    facts = _event_facts(spark, sf_dir)
    daily = facts.groupBy("user_id", "event_date").agg(
        F.round(F.sum("value"), 2).alias("day_total")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("day_total"), F.asc("event_date")
    )
    return (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_date", "day_total")
    )


ORACLE_WINDOW_TOP_DAY = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS event_date, ROUND(SUM(value), 2) AS day_total
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, event_date, day_total,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_total DESC, event_date) AS rn
  FROM daily
)
SELECT user_id, event_date, day_total FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Text analysis (beyond-reference: training-data pipeline ops)
# ---------------------------------------------------------------------------
def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table spread across all cores.

    The synthetic parquet is a single row group → one input split → the
    CPU-heavy per-row fingerprint ops would run on ONE task. A round-robin
    repartition costs one tiny shuffle of the raw text and buys full-core
    parallelism; on a real 100 TB corpus the scan has thousands of natural
    splits and this is a no-op to remove."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.repartition(spark.sparkContext.defaultParallelism)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.text import text_stats

    docs = _docs_parallel(spark, sf_dir)
    return text_stats(docs).select(
        "doc_id", "n_tokens", "n_alpha_words", "n_punct", "avg_token_len"
    )


ORACLE_TEXT_STATS = r"""
SELECT doc_id,
  length(regexp_extract_all(text, '\S+')) AS n_tokens,
  length(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_words,
  length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
  ROUND(length(regexp_replace(text, '\s+', '', 'g'))
        / GREATEST(length(regexp_extract_all(text, '\S+')), 1), 6) AS avg_token_len
FROM documents
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.text import quality_score

    docs = _docs_parallel(spark, sf_dir)
    return docs.select("doc_id", quality_score("text").alias("quality"))


ORACLE_QUALITY = r"""
WITH s AS (
  SELECT doc_id,
    length(regexp_extract_all(text, '\S+')) AS n_tokens,
    length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS n_stop
  FROM documents
)
SELECT doc_id,
  ROUND(0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
      + 0.3 * (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n_tokens, 1), 1.0))
      + 0.3 * LEAST(CAST(n_stop AS DOUBLE) * 3.0 / GREATEST(n_tokens, 1), 1.0),
      6) AS quality
FROM s
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-stage text normalization (operators/text.py::
    normalize_text): control-char strip, zero-width/BOM removal,
    typographic-to-ASCII folds, whitespace collapse — the cleanup pass
    that runs before fingerprinting/dedup so near-identical bytes hash
    identically. Contract surface is the md5 + length of the
    normalized text (the array/blob-free form both engines hash the
    same); the rewrite chain is pure string ops, no floats."""
    from data_pipeline_ine_spark.operators.text import normalize_text

    docs = _docs_parallel(spark, sf_dir)
    norm = normalize_text("text")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
    )


ORACLE_TEXT_NORMALIZE = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(
    regexp_replace(
      regexp_replace(
        translate(regexp_replace(text, '…', '...', 'g'),
                  '‘’“”–—' || chr(160), '''''""--' || ' '),
        '[​‌‍﻿]', '', 'g'),
      '[\x00-\x08\x0b-\x1f\x7f-\x9f]', '', 'g'),
    '\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS norm_md5,
  CAST(length(norm) AS BIGINT) AS n_chars_norm
FROM n
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (operators/sampling.py::
    curriculum_order): documents ranked easiest-first by the
    fixed-point quality score, cut into 4 equal-count difficulty tiers
    (two-pass distributed rank — never a one-task window), and given
    the interleaved round-robin curriculum key a schedule reads in
    order. Integer arithmetic end-to-end, so tier boundaries and the
    interleave agree bit-for-bit across engines."""
    from data_pipeline_ine_spark.operators.sampling import curriculum_order
    from data_pipeline_ine_spark.operators.text import quality_score

    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id",
        F.floor(quality_score("text") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("quality_e6"),
    )
    return curriculum_order(docs, "quality_e6", n_tiers=4)


ORACLE_CURRICULUM = (
    "WITH qsc AS (" + ORACLE_QUALITY + r"""
), s AS (
  SELECT doc_id, CAST(FLOOR(quality * 1e6 + 0.5) AS BIGINT) AS quality_e6
  FROM qsc
), n AS (SELECT COUNT(*) AS _n FROM s),
r AS (
  SELECT doc_id, quality_e6,
    ROW_NUMBER() OVER (ORDER BY quality_e6 DESC, doc_id) AS rk
  FROM s
),
t AS (
  SELECT doc_id, quality_e6, rk, ((rk - 1) * 4) // _n AS tier, _n
  FROM r, n
),
p AS (
  SELECT doc_id, quality_e6, tier,
    rk - (tier * _n + 3) // 4 AS tier_pos
  FROM t
)
SELECT doc_id, quality_e6, CAST(tier AS INT) AS tier,
  CAST(tier_pos AS BIGINT) AS tier_pos,
  CAST((tier_pos - 1) * 4 + tier AS BIGINT) AS curriculum_key
FROM p
"""
)


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.text import language_id

    docs = _docs_parallel(spark, sf_dir)
    return (
        docs.select("lang", language_id("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_LANGUAGE_ID = r"""
WITH s AS (
  SELECT lang,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS s_en,
    length(regexp_extract_all(lower(text), '\b(el|la|los|las|que|y|en|un|una)\b')) AS s_es,
    length(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht|ist|ein|zu)\b')) AS s_de,
    length(regexp_extract_all(lower(text), '\b(le|les|des|et|un|une|est|dans)\b')) AS s_fr,
    length(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
  FROM documents
), g AS (
  SELECT lang,
    CASE
      WHEN s_en > 0 AND s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
      WHEN s_es > 0 AND s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
      WHEN s_de > 0 AND s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
      WHEN s_fr > 0 AND s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
      WHEN s_zh > 0 AND s_zh = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
      ELSE 'und'
    END AS lang_guess
  FROM s
)
SELECT lang, lang_guess, COUNT(*) AS n FROM g GROUP BY lang, lang_guess
"""


def q_bpe_token_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(bpe_token_count("text")).alias("total_bpe_tokens")
    )


ORACLE_BPE = r"""
SELECT source,
  CAST(SUM(length(regexp_extract_all(text,
      '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')))
       AS BIGINT) AS total_bpe_tokens
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# Dedup: exact, MinHash signatures, LSH buckets, Jaccard verify
# ---------------------------------------------------------------------------
def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.dedup import exact_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs)


ORACLE_EXACT_DUP = r"""
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
  COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents
GROUP BY fp HAVING COUNT(*) > 1
"""


# Shared CTE for MinHash oracles: word 3-shingles, 8 seeded-md5 minhashes,
# 4 bands of 2. DuckDB range(a, b) is exclusive of b; Spark sequence(a, b)
# is inclusive — hence the +1s.
# hex→bigint fold for the Carter-Wegman base hashes (first 12 md5 hex chars)
_HEX12 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(12), _i -> CAST(strpos('0123456789abcdef', "
    "substr({h}, CAST(_i AS INT) + 1, 1)) - 1 AS BIGINT))), "
    "(_a, _c) -> _a * 16 + _c)"
)

_MINHASH_CTE = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS tokens FROM documents
), s AS (
  SELECT doc_id,
    list_transform(range(1, GREATEST(len(tokens) - 2, 1) + 1),
                   i -> array_to_string(list_slice(tokens, i, i + 2), ' ')) AS shingles
  FROM t
), hashed AS (
  SELECT doc_id, shingles,
    list_transform(shingles, sh -> struct_pack(
      ha := HA_FOLD,
      hb := HB_FOLD)) AS hs
  FROM s
), sig AS (
  SELECT doc_id, shingles,
    list_transform(range(0, 8),
      j -> list_min(list_transform(hs,
           h -> (h.ha + j * h.hb) % 2305843009213693951))) AS signature
  FROM hashed
), banded AS (
  SELECT doc_id, shingles, signature,
    list_transform(range(0, 4),
      b -> md5(array_to_string(list_transform(
             list_slice(signature, b * 2 + 1, b * 2 + 2),
             x -> CAST(x AS VARCHAR)), '|'))) AS bands
  FROM sig
)
""".replace("HA_FOLD", _HEX12.format(h="md5('a:' || sh)")).replace(
    "HB_FOLD", _HEX12.format(h="md5('b:' || sh)")
)


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.dedup import minhash_docs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    out = minhash_docs(docs)
    return out.select(
        "doc_id",
        F.element_at("signature", 1).alias("h0"),
        F.element_at("signature", 8).alias("h7"),
        F.element_at("bands", 1).alias("band0"),
    )


ORACLE_MINHASH_SIG = _MINHASH_CTE + r"""
SELECT doc_id, signature[1] AS h0, signature[8] AS h7, bands[1] AS band0
FROM banded WHERE doc_id < 50
"""


def q_near_dup_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.dedup import near_dup_buckets

    docs = _docs_parallel(spark, sf_dir)
    return near_dup_buckets(docs)


ORACLE_NEAR_DUP = _MINHASH_CTE + r"""
, exploded AS (
  SELECT doc_id, g.band_idx, bands[g.band_idx + 1] AS band_hash
  FROM banded, generate_series(0, 3) AS g(band_idx)
)
SELECT band_idx, band_hash, COUNT(*) AS n_docs,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM exploded
GROUP BY band_idx, band_hash HAVING COUNT(*) > 1
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.dedup import jaccard_candidate_pairs

    docs = _docs_parallel(spark, sf_dir)
    return jaccard_candidate_pairs(docs)


ORACLE_JACCARD = _MINHASH_CTE + r"""
, d AS (
  SELECT doc_id, list_distinct(shingles) AS sh, bands FROM banded
), e AS (
  SELECT doc_id, sh, UNNEST(bands) AS band_hash FROM d
), pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM e a JOIN e b ON a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT p.a_id, p.b_id,
  ROUND(len(list_intersect(da.sh, db.sh))
        / GREATEST(len(list_distinct(list_concat(da.sh, db.sh))), 1), 6) AS jaccard
FROM pairs p
JOIN d da ON da.doc_id = p.a_id
JOIN d db ON db.doc_id = p.b_id
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus incremental dedup: docs with ``doc_id % 5 = 0`` are
    the incoming batch, the rest the standing corpus; batch docs that are
    near-dups (Jaccard >= 1/2) of any corpus doc are dropped
    (operators/dedup.py::incremental_near_dup_filter). Band-join cost is
    batch-driven; ids-only through every shuffle until the anti-join."""
    from data_pipeline_ine_spark.operators.dedup import incremental_near_dup_filter

    docs = _docs_parallel(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return incremental_near_dup_filter(new, corpus).select("doc_id")


ORACLE_INCREMENTAL_DEDUP = _MINHASH_CTE + r"""
, d AS (
  SELECT doc_id, list_distinct(shingles) AS sh, bands FROM banded
), n AS (
  SELECT * FROM d WHERE doc_id % 5 = 0
), c AS (
  SELECT * FROM d WHERE doc_id % 5 <> 0
), ne AS (
  SELECT doc_id, UNNEST(bands) AS band_hash FROM n
), ce AS (
  SELECT doc_id, UNNEST(bands) AS band_hash FROM c
), cand AS (
  SELECT DISTINCT ne.doc_id AS new_id, ce.doc_id AS corp_id
  FROM ne JOIN ce USING (band_hash)
), dup AS (
  SELECT DISTINCT p.new_id
  FROM cand p
  JOIN n ON n.doc_id = p.new_id
  JOIN c ON c.doc_id = p.corp_id
  WHERE len(list_intersect(n.sh, c.sh)) * 2
        >= len(list_distinct(list_concat(n.sh, c.sh)))
)
SELECT doc_id FROM n WHERE doc_id NOT IN (SELECT new_id FROM dup)
"""


def q_ppjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (prefix filtering + length filter,
    3-shingle Jaccard >= 3/5).

    The oracle is the ground-truth ALL-PAIRS join — so a green hash match
    doesn't just check the scores, it PROVES the prefix filter's 100%
    recall claim on this corpus: any pair the filter pruned incorrectly
    would be a missing row. Shingle elements (not word tokens): the
    synthetic corpus has a 31-word vocabulary, on which word-set Jaccard
    is inherently quadratic — in output, not just in work.
    """
    from data_pipeline_ine_spark.operators.dedup import prefix_filter_jaccard_join

    return prefix_filter_jaccard_join(_docs_parallel(spark, sf_dir), shingle_k=3)


# The ON clause's length inequality is NOT the algorithm under test: it
# is a theorem of J >= 3/5 (|∩| >= t·|∪| forces t·|x| <= |y| <= |x|/t),
# so the join is still the exact ground-truth pair set — it just spares
# the oracle the list_intersect on provably-impossible pairs (12.5M at
# sf0.1, ~16 min of DuckDB time otherwise).
ORACLE_PPJOIN = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS tokens FROM documents
), d AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, GREATEST(len(tokens) - 2, 1) + 1),
        i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS ts
  FROM t WHERE len(tokens) > 0
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
    len(list_intersect(a.ts, b.ts)) AS inter,
    len(list_distinct(list_concat(a.ts, b.ts))) AS uni
  FROM d a JOIN d b ON a.doc_id < b.doc_id
   AND len(a.ts) * 3 <= len(b.ts) * 5 AND len(b.ts) * 3 <= len(a.ts) * 5
)
SELECT a_id, b_id, ROUND(inter / uni, 6) AS jaccard
FROM pairs WHERE inter * 5 >= uni * 3
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: LSH candidate pairs (jaccard >= 0.5)
    → connected components via min-label propagation."""
    from data_pipeline_ine_spark.operators.dedup import (
        dedup_components,
        jaccard_candidate_pairs,
    )

    docs = _docs_parallel(spark, sf_dir)
    pairs = jaccard_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    return dedup_components(pairs)


ORACLE_COMPONENTS_TEMPLATE = """
WITH RECURSIVE pairs AS (
  SELECT a_id, b_id FROM ( {jaccard_sql} ) j WHERE jaccard >= 0.5
), edges AS (
  SELECT a_id AS s, b_id AS d FROM pairs
  UNION
  SELECT b_id AS s, a_id AS d FROM pairs
), nodes AS (
  SELECT DISTINCT s AS node FROM edges
), reach AS (
  SELECT node, node AS lab FROM nodes
  UNION
  SELECT r.node, e.d AS lab FROM reach r JOIN edges e ON e.s = r.lab
)
SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY 1
"""

ORACLE_COMPONENTS = ORACLE_COMPONENTS_TEMPLATE.format(jaccard_sql=ORACLE_JACCARD)


# ---------------------------------------------------------------------------
# Embedding similarity: norms, pairwise cosine, brute-force ANN top-k
# ---------------------------------------------------------------------------
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.similarity import embedding_norms

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_norms(emb)


ORACLE_EMB_NORMS = """
SELECT vec_id,
  ROUND(sqrt(list_sum(list_transform(embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
"""


def q_cosine_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"))
    b = emb.select(
        (F.col("vec_id") - 1).alias("a_id"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
    )
    return a.join(b, "a_id").select(
        "a_id",
        "b_id",
        F.round(cosine("`a_vec`", "`b_vec`"), 4).alias("cosine_sim"),
    )


ORACLE_COSINE_PAIRS = """
WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
  ROUND(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
        4) AS cosine_sim
FROM d a JOIN d b ON b.vec_id = a.vec_id + 1
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return brute_force_topk(emb, qvec, k=10, exclude_id=0)


ORACLE_ANN_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id <> 0)
SELECT e.vec_id,
  ROUND(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
        6) AS cosine_sim
FROM e, q
ORDER BY cosine_sim DESC, e.vec_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Time bucketing (batch shape of the streaming tumbling window) +
# multimodal Pandas-UDF plumbing
# ---------------------------------------------------------------------------
def q_tumbling_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = F.window("ts", "6 hours")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


ORACLE_TUMBLING = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type,
  COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY 1, 2
"""


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch form: lag window marks session breaks
    (>30 min gap), a running sum over the same partitioning numbers the
    sessions — two window passes on ONE shuffle of (user_id)-partitioned
    data. The exact batch twin of streaming/events.py::sessionize."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    is_new = prev.isNull() | (
        F.col("ts") > prev + F.expr("INTERVAL 1800 SECONDS")
    )
    with_breaks = ev.withColumn("is_new", F.when(is_new, 1).otherwise(0))
    with_ids = with_breaks.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_ids.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "session_value"),
        )
    )


ORACLE_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
              <= INTERVAL 1800 SECOND THEN 0 ELSE 1 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
  MIN(ts) AS session_start, MAX(ts) AS session_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY 1, 2
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: gap-sessionized event-type sequences
    rendered as ordered path strings and counted corpus-wide
    (operators/timeseries.py::session_paths). Total (ts, event_id) order
    + array_sort re-render keep the strings engine-exact."""
    from data_pipeline_ine_spark.operators.timeseries import session_paths

    return session_paths(load_table(spark, sf_dir, "events"))


ORACLE_SESSION_PATHS = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              <= INTERVAL 1800 SECOND THEN 0 ELSE 1 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered GROUP BY user_id, sid
)
SELECT path, COUNT(*) AS n FROM paths
GROUP BY path HAVING COUNT(*) >= 2
"""


def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day via the explode
    rewrite (operators/timeseries.py::sliding_distinct_count). The oracle
    is the DIRECT inequality-join formulation (grid BETWEEN join), so a
    green match proves the scalable rewrite's equivalence."""
    from data_pipeline_ine_spark.operators.timeseries import (
        sliding_distinct_count,
    )

    return sliding_distinct_count(load_table(spark, sf_dir, "events"))


ORACLE_WAU = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grid AS (
  SELECT DISTINCT day + k * INTERVAL 1 DAY AS obs_day
  FROM ud, UNNEST(range(0, 7)) AS t(k)
)
SELECT CAST(g.obs_day AS DATE) AS obs_day,
  COUNT(DISTINCT a.user_id) AS n_active
FROM grid g JOIN ud a
  ON a.day BETWEEN g.obs_day - 6 * INTERVAL 1 DAY AND g.obs_day
GROUP BY 1
"""


def q_daily_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per ship month (VWAP): decimal-
    accumulated Σ(price·qty) / Σ(qty) — partial-aggregation-order
    invariant, one fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    month = F.date_trunc("month", "l_shipdate").cast("date")
    pq = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("decimal(38,4)")
    return (
        li.groupBy(month.alias("ship_month"))
        .agg(
            F.sum(pq).alias("_spq"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
        )
        .select(
            "ship_month",
            F.round(
                (F.col("_spq") / F.col("_sq")).cast("double"), 6
            ).alias("vwap"),
        )
    )


ORACLE_VWAP = """
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
  ROUND(CAST(
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
    / SUM(CAST(l_quantity AS DECIMAL(18,2)))
  AS DOUBLE), 6) AS vwap
FROM lineitem GROUP BY 1
"""


def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (dynamic-gap session TVF) in
    batch: per user, windows merge while events arrive within 30 min;
    the window END is last-event + gap (vs. the manual sessionize's
    max(ts)) — both sessionizations ship, this one exercises the native
    operator (UpdatingSessionsExec) on one user-keyed shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


ORACLE_SESSION_WINDOW = """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
              < INTERVAL 1800 SECOND THEN 0 ELSE 1 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 1800 SECOND AS session_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM numbered GROUP BY user_id, sid
"""


def q_sliding_6h_3h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (width 6h, slide 3h): every event lands in width/slide
    overlapping windows. Spark materializes the window memberships at the
    scan (a 2× row explode inside the aggregation), still one shuffle."""
    events = load_table(spark, sf_dir, "events")
    w = F.window("ts", "6 hours", "3 hours")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum(F.col("value"), "total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


# each event belongs to the two 3h-grid starts within (ts-6h, ts]; both
# engines align the grid to the epoch, so the starts enumerate identically
ORACLE_SLIDING = """
SELECT time_bucket(INTERVAL '3 hours', ts) - k.k * INTERVAL '3 hours' AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events, generate_series(0, 1) AS k(k)
GROUP BY 1, 2
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.multimodal import (
        extract_features,
        with_fake_media,
    )

    docs = with_fake_media(load_table(spark, sf_dir, "documents"))
    return extract_features(docs).select("doc_id", "n_bytes", "decode_ok")


ORACLE_MULTIMODAL = """
SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
  strlen(text) > 0 AS decode_ok
FROM documents
"""


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL encode→decode round-trip over binary media columns.

    Spark-side: synthesize genuine PNG/GIF/WAV/MP4 container bytes per document
    (``with_synthetic_media``, deterministic in doc_id/n_chars), then parse
    them back with the stdlib decoder (``decode_media``) — actual byte-level
    container parsing, CRC checks, and 16-bit PCM sample decoding, all
    inside Arrow-batched ``mapInPandas``. The oracle never sees the bytes:
    it predicts every decoded field in closed form from the generator's
    parameters, so any header-math or sample-decode bug breaks the match.
    All outputs are exact integers — no float crosses the hash surface.

    Reference parity: the reference treats downloads as opaque CSV bytes
    (steps/step1_scraper.py:222-236 size accounting); this is the
    training-data-pipeline generalization to media blobs.
    """
    from data_pipeline_ine_spark.operators.multimodal import (
        decode_media,
        with_synthetic_media,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("n_chars", F.lit(0)).alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return decode_media(with_synthetic_media(docs)).select(
        "doc_id", "modality", "decode_ok", "width", "height", "n_channels",
        "sample_rate", "n_frames", "duration_us", "rms",
    )


ORACLE_MEDIA_DECODE = """
SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
       WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS modality,
  TRUE AS decode_ok,
  CAST(CASE doc_id % 4 WHEN 0 THEN 16 + doc_id % 32
       WHEN 1 THEN 4 + doc_id % 64
       WHEN 3 THEN 160 + (doc_id % 8) * 40 END AS INT) AS width,
  CAST(CASE doc_id % 4 WHEN 0 THEN 8 + doc_id % 16
       WHEN 1 THEN 4 + doc_id % 32
       WHEN 3 THEN 120 + (doc_id % 6) * 40 END AS INT) AS height,
  CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1
       END AS INT) AS n_channels,
  CAST(CASE doc_id % 4 WHEN 2 THEN 8000 + ((doc_id // 4) % 4) * 4000
       END AS INT) AS sample_rate,
  CAST(CASE doc_id % 4 WHEN 2 THEN 400 + COALESCE(n_chars, 0) % 600
       END AS INT) AS n_frames,
  CAST(CASE doc_id % 4
    WHEN 2 THEN ((400 + COALESCE(n_chars, 0) % 600) * 1000000)
      // (8000 + ((doc_id // 4) % 4) * 4000)
    WHEN 3 THEN ((1000 + COALESCE(n_chars, 0) % 9000) * 1000000)
      // (600 * (1 + doc_id % 5)) END AS BIGINT) AS duration_us,
  CAST(CASE doc_id % 4 WHEN 2 THEN 1000 + doc_id % 5000 END AS INT) AS rms
FROM documents
"""


# ---------------------------------------------------------------------------
# TPC-H-ish Q7 / Q10 / Q18: multi-dim join trees, date-window fact filters,
# and fact-side HAVING subqueries
# ---------------------------------------------------------------------------
def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume: revenue between two nations by ship year.
    Fact table shuffles only for the lineitem⋈orders join; supplier,
    customer, and both nation role-dims broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(22,4)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), "s_nationkey")
        .join(F.broadcast(n2), "c_nationkey")
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(vol), 2).cast("double").alias("revenue"))
    )


ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  EXTRACT(year FROM l_shipdate) AS l_year,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))), 2) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q_q2_min_price_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated subquery — parts at the minimum retail
    price within their brand — decorrelated into a window min: one shuffle
    on brand, no self-join, no per-row subquery execution."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


ORACLE_Q2_MIN = """
SELECT p_brand, p_partkey, p_name, p_retailprice
FROM part p
WHERE p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                       WHERE p2.p_brand = p.p_brand)
"""


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns in one quarter."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp_ntz")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(22,4)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), "c_nationkey")
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))), 2) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per return flag, how many lines belong to urgent vs
    non-urgent orders in one ship-year — CASE classification aggregated on
    the single fact⋈orders join (orders side broadcast-eligible; one real
    shuffle for the groupBy)."""
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", "l_returnflag")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_Q12 = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
       AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
       AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 300 (fact-side HAVING subquery
    → semi-join back), with customer attribution. The HAVING aggregate and
    the probe share the l_orderkey partitioning."""
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


ORACLE_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Semi/anti join + rollup coverage (physical join strategies the reference
# never needed — free in Spark, exercised here for completeness)
# ---------------------------------------------------------------------------
def q_q4_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: orders with at least one high-quantity line,
    counted by priority. LEFT SEMI join — lineitem is only probed, never
    widened into the output, so no fan-out and no dedup pass."""
    o = load_table(spark, sf_dir, "orders")
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
    )
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_Q4_SEMI = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY 1
"""


def q_customers_no_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via LEFT ANTI join — the scalable form of the reference's
    NOT-IN sparse-station filter (P6, ``step4:142``) applied to a fact-sized
    probe side."""
    c = load_table(spark, sf_dir, "customer")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    return (
        c.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("min_custkey"),
        )
    )


ORACLE_ANTI = """
SELECT c_mktsegment, COUNT(*) AS n_customers, MIN(c_custkey) AS min_custkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
GROUP BY 1
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotals + grand total
    (SURVEY.md §2.4's grouping-sets capability).

    Two-level plan: exact groupBy first (fact-sized shuffle ONCE), then the
    rollup's Expand runs over the handful of group rows instead of
    multiplying every fact row by the number of grouping sets — decimal
    sums re-aggregate associatively, so results are identical."""
    l = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )
    base = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(rev).alias("rev"), F.count(F.lit(1)).alias("n")
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("rev").cast("double"), 2).alias("revenue"),
        F.sum("n").alias("n_rows"),
    )


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE), 2)
    AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (status), (priority), and grand total in
    one pass, with GROUPING_ID disambiguating the all-NULL rows (the
    grouping-sets completion of the ROLLUP/CUBE family). Same two-level
    plan as rollup_revenue: exact decimal groupBy once, Expand over group
    rows only."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("t"),
        F.count(F.lit(1)).alias("n"),
    )
    base.createOrReplaceTempView("_gs_base")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          grouping_id() AS grouping_id,
          ROUND(CAST(SUM(t) AS DOUBLE), 2) AS revenue,
          SUM(n) AS n_orders
        FROM _gs_base
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
  GROUPING(o_orderstatus, o_orderpriority) AS grouping_id,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
    AS revenue,
  COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_centered_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-row moving average over each user's daily value series —
    a ROWS frame with both PRECEDING and FOLLOWING bounds (the smoothing
    shape trend charts use). Decimal-summed numerator and an exact row
    count make the single final divide engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    return daily.select(
        "user_id",
        "day",
        # numerator to double BEFORE the divide: decimal-division scale
        # rules differ between engines, one IEEE divide does not
        F.round(
            F.sum("v").over(w).cast("double") / F.count("v").over(w), 6
        ).alias("centered_ma"),
    )


ORACLE_CENTERED_MA = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS v
  FROM events GROUP BY 1, 2
)
SELECT user_id, day,
  ROUND(CAST(SUM(v) OVER w AS DOUBLE) / COUNT(v) OVER w, 6) AS centered_ma
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
"""


def q_order_value_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over each customer's order
    history (deterministic total order: date then key) — the value-
    navigation window family. One customer-keyed shuffle; the unbounded
    frame makes last/nth see the whole partition."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.to_date("o_orderdate"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    price = F.col("o_totalprice")
    out = o.select(
        "o_custkey",
        "o_orderkey",
        F.first(price).over(w).alias("first_price"),
        F.last(price).over(w).alias("last_price"),
        F.nth_value(price, 2).over(w).alias("second_price"),
    )
    return out.dropDuplicates(["o_custkey"]).select(
        "o_custkey", "first_price", "last_price", "second_price"
    )


ORACLE_VALUE_EXTREMES = """
SELECT DISTINCT o_custkey,
  FIRST_VALUE(o_totalprice) OVER w AS first_price,
  LAST_VALUE(o_totalprice) OVER w AS last_price,
  NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# Set difference, lag windows, conditional-aggregate ratio (Q14 shape)
# ---------------------------------------------------------------------------
def q_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set difference): users who click but never purchase.
    Compiles to a left-anti join over pre-aggregated distinct sides."""
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.subtract(buyers)  # EXCEPT DISTINCT semantics


ORACLE_EXCEPT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
"""


def q_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: users present in both the error and signup streams —
    compiles to a left-semi join over distinct sides."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id")
    return a.intersect(b)


ORACLE_INTERSECT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
"""


def q_lag_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue delta: lag window over an aggregated daily
    series. The window runs on the already-aggregated frame (one row per
    day) — a single-partition sort of a tiny series, after the heavy
    groupBy reduced the fact table."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        _dec_sum(F.col("value"), "total")
    )
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "total",
        F.round(F.col("total") - F.lag("total").over(w), 2).alias("delta"),
    )


ORACLE_LAG_DELTA = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1
)
SELECT day, total, ROUND(total - LAG(total) OVER (ORDER BY day), 2) AS delta
FROM daily
"""


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline over parts (operators/features.py::skyline_2d):
    the parts no alternative beats on BOTH price and size — the
    multi-criteria shortlist query. One data-sized hash aggregate
    (per-price min size) + a distinct-price-grain prefix-min sweep +
    one join back; raw-value comparisons only, so engines agree
    trivially."""
    from data_pipeline_ine_spark.operators.features import skyline_2d

    part = load_table(spark, sf_dir, "part")
    return skyline_2d(
        part, "p_retailprice", "p_size", keep_cols=("p_partkey",)
    )


ORACLE_SKYLINE = """
WITH g AS (
  SELECT p_retailprice AS x, MIN(p_size) AS ymin FROM part GROUP BY 1
),
m AS (
  SELECT x, ymin,
    MIN(ymin) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmin
  FROM g
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN m ON p.p_retailprice = m.x
WHERE p.p_size = m.ymin
  AND (m.prevmin IS NULL OR p.p_size < m.prevmin)
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly additive decomposition of daily order revenue
    (operators/timeseries.py::seasonal_decompose_weekly):
    y = trend + seasonal + resid with the statsmodels moving-average
    recipe — centered 7-consecutive-day trend (gaps void the window),
    per-day-of-week detrended means centered to sum to zero, residual
    last. Integer units end-to-end; the only floats are per-dow single
    divides of exact integers and a fixed-order 7-term fold, so both
    engines produce the bit-identical doubles under the 6-dp round."""
    from data_pipeline_ine_spark.operators.timeseries import (
        seasonal_decompose_weekly,
    )

    orders = load_table(spark, sf_dir, "orders")
    return seasonal_decompose_weekly(orders, "o_orderdate", "o_totalprice")


ORACLE_SEASONAL_DECOMPOSE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS revenue_e2
  FROM orders GROUP BY 1
),
w AS (
  SELECT day, revenue_e2,
    CAST(datediff('day', DATE '1970-01-01', day) % 7 AS INT) AS dow,
    COUNT(revenue_e2) OVER win AS _n7,
    datediff('day', MIN(day) OVER win, MAX(day) OVER win) AS _span,
    SUM(revenue_e2) OVER win AS _sum7
  FROM daily
  WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
based AS (
  SELECT day, revenue_e2, dow,
    CASE WHEN _n7 = 7 AND _span = 6 THEN _sum7 END AS trend7_e2,
    CASE WHEN _n7 = 7 AND _span = 6
         THEN 7 * revenue_e2 - _sum7 END AS detr7_e2
  FROM w
),
dowstats AS (
  SELECT dow, SUM(detr7_e2) AS _snum, COUNT(detr7_e2) AS _sden,
    CAST(SUM(detr7_e2) AS DOUBLE) / (700.0 * COUNT(detr7_e2)) AS _s
  FROM based GROUP BY 1 HAVING COUNT(detr7_e2) > 0
),
m AS (
  -- fixed-order fold over the <=7 dow means: both engines replay the
  -- identical left-to-right double accumulation
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(_s ORDER BY dow)), (_a, _b) -> _a + _b)
         / CAST(COUNT(*) AS DOUBLE) AS _smean
  FROM dowstats
)
SELECT b.day, b.revenue_e2, CAST(b.trend7_e2 AS BIGINT) AS trend7_e2,
  ROUND(d._s - m._smean, 6) AS seasonal,
  ROUND(CAST(b.revenue_e2 AS DOUBLE) / 100.0
        - CAST(b.trend7_e2 AS DOUBLE) / 700.0
        - (d._s - m._smean), 6) AS resid
FROM based b LEFT JOIN dowstats d USING (dow), m
"""


def q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share — conditional aggregate over one scan,
    part dimension broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(22,4)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(22,4)"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            # divide as doubles: decimal-division scale rules differ across
            # engines, IEEE double division doesn't
            F.round(
                F.sum(promo).cast("double") * 100 / F.sum(rev).cast("double"), 6
            ).alias("promo_share_pct"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
        )
    )


ORACLE_Q14 = """
SELECT
  ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))
                 ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE) * 100
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE),
        6) AS promo_share_pct,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))), 2)
       AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
"""


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing via ``operators/packing.py::pack_sequences``:
    B=4 deterministic hash shards per source, each packing independently
    under its own token budget — the running-sum window partitions on
    (source, shard), never on the low-cardinality source alone, so one
    giant source can't become a single sorting task at scale."""
    from data_pipeline_ine_spark.operators.packing import pack_sequences
    from data_pipeline_ine_spark.operators.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return pack_sequences(
        docs, bpe_token_count("text"), budget=2048, n_shards=4
    ).select("doc_id", "source", "shard", "n_tokens", "pack_id")


ORACLE_PACKING = r"""
WITH t AS (
  SELECT doc_id, source,
    length(regexp_extract_all(text,
      '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS n_tokens,
    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         % 4 AS INTEGER) AS shard
  FROM documents
)
SELECT doc_id, source, shard, n_tokens,
  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - 1) / 2048.0)
       AS BIGINT) AS pack_id
FROM t
"""


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metric a training run tunes the pack budget with
    (operators/packing.py::packing_efficiency): per (source, shard),
    docs, packs, token mass, capacity, waste, and the fill ratio in
    integer basis points (``tokens*10000 div capacity`` — both engines'
    non-negative integer division agrees). ONE aggregate over the
    already-packed frame, reusing the (source, shard) partitioning the
    packing window created — the report is free at any scale."""
    from data_pipeline_ine_spark.operators.packing import (
        pack_sequences,
        packing_efficiency,
    )
    from data_pipeline_ine_spark.operators.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    packed = pack_sequences(
        docs, bpe_token_count("text"), budget=2048, n_shards=4
    )
    return packing_efficiency(packed, 2048).orderBy("source", "shard")


ORACLE_PACKING_EFFICIENCY = r"""
WITH t AS (
  SELECT doc_id, source,
    length(regexp_extract_all(text,
      '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS n_tokens,
    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         % 4 AS INTEGER) AS shard
  FROM documents
), p AS (
  SELECT source, shard, n_tokens,
    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - 1) / 2048.0)
         AS BIGINT) AS pack_id
  FROM t
)
SELECT source, shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MAX(pack_id) + 1 AS BIGINT) AS n_packs,
  CAST(SUM(n_tokens) AS BIGINT) AS tokens_sum,
  CAST((MAX(pack_id) + 1) * 2048 AS BIGINT) AS capacity,
  CAST((MAX(pack_id) + 1) * 2048 - SUM(n_tokens) AS BIGINT) AS waste,
  CAST((SUM(n_tokens) * 10000) // ((MAX(pack_id) + 1) * 2048) AS BIGINT)
    AS fill_bp
FROM p GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Composite training-data pipeline: exact dedup keeping the best-quality doc
# ---------------------------------------------------------------------------
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup with quality-aware survivor selection — the composed shape of a
    real corpus-cleaning stage: fingerprint (exact dedup key) + quality
    score (survivor ranking) + one window shuffle to pick the winner per
    group. Survivors carry their group size for downstream weighting."""
    from data_pipeline_ine_spark.operators.text import fingerprint, quality_score

    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id",
        fingerprint("text").alias("fp"),
        quality_score("text").alias("quality"),
    )
    w = Window.partitionBy("fp").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp", "quality", "group_size")
    )


ORACLE_DEDUP_SURVIVORS = r"""
WITH s AS (
  SELECT doc_id,
    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
    length(regexp_extract_all(text, '\S+')) AS n_tokens,
    length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS n_stop
  FROM documents
), d AS (
  SELECT doc_id, fp,
    ROUND(0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
        + 0.3 * (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n_tokens, 1), 1.0))
        + 0.3 * LEAST(CAST(n_stop AS DOUBLE) * 3.0 / GREATEST(n_tokens, 1), 1.0),
        6) AS quality
  FROM s
), r AS (
  SELECT doc_id, fp, quality,
    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY fp) AS group_size
  FROM d
)
SELECT doc_id, fp, quality, group_size FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# As-of join (backward inclusive) + binned range join over the events stream
# ---------------------------------------------------------------------------
def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases, clicks, on="user_id", payload_cols=("ts", "value")
    ).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_asof").alias("last_click_ts"),
        F.col("value_asof").alias("last_click_value"),
    )


ORACLE_ASOF = """
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
       c.ts AS last_click_ts, c.value AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: first click at-or-after each purchase (post-purchase
    engagement). Same single-shuffle union-tag plan as the backward form,
    mirrored — sort order flips and first-non-null looks ahead."""
    from data_pipeline_ine_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        payload_cols=("ts", "value"),
        direction="forward",
    ).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_asof").alias("next_click_ts"),
        F.col("value_asof").alias("next_click_value"),
    )


ORACLE_ASOF_FWD = """
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
       c.ts AS next_click_ts, c.value AS next_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts
"""


def q_range_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.joins import windowed_range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    joined = windowed_range_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts",
        window_seconds=3600,
    )
    per_purchase = joined.groupBy("event_id", "user_id", "ts").agg(
        F.count("click_ts").alias("n"),
        _dec_sum(F.col("click_value"), "s"),
    )
    return purchases.join(per_purchase, ["event_id", "user_id", "ts"], "left").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.coalesce("n", F.lit(0)).alias("n_clicks_1h"),
        F.coalesce("s", F.lit(0.0)).alias("click_value_1h"),
    )


ORACLE_RANGE_JOIN = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts AS click_ts, value FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
  COUNT(c.click_ts) AS n_clicks_1h,
  CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(18,2))), 0) AS DOUBLE) AS click_value_1h
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.click_ts >= p.ts - INTERVAL 1 HOUR AND c.click_ts < p.ts
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# SimHash + rolling-hash document fingerprints
# ---------------------------------------------------------------------------
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.dedup import simhash_docs

    return simhash_docs(_docs_parallel(spark, sf_dir))


_SIMHASH_CTE = """
WITH toks AS (
  SELECT doc_id, list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                t -> substr(md5(t), 1, 16)) AS hs
  FROM documents
), b AS (
  SELECT doc_id, list_transform(range(64), b ->
    CASE WHEN list_sum(list_transform(hs, h ->
      CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
                 & ([8,4,2,1][CAST(b % 4 AS INT) + 1])) <> 0
           THEN 1 ELSE -1 END)) > 0
    THEN 1 ELSE 0 END) AS bits
  FROM toks
), sim AS (
  SELECT doc_id, array_to_string(list_transform(range(16), i ->
    substr('0123456789abcdef',
           CAST(bits[CAST(4*i AS INT) + 1] * 8 + bits[CAST(4*i AS INT) + 2] * 4
              + bits[CAST(4*i AS INT) + 3] * 2 + bits[CAST(4*i AS INT) + 4] AS INT) + 1,
           1)), '') AS simhash
  FROM b
)
"""

ORACLE_SIMHASH = _SIMHASH_CTE + """
SELECT doc_id, simhash FROM sim
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.text import rolling_fingerprint

    docs = _docs_parallel(spark, sf_dir)
    return docs.select("doc_id", rolling_fingerprint("text").alias("rolling_fp"))


ORACLE_ROLLING_FP = """
WITH n AS (
  SELECT doc_id,
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents
), s AS (
  SELECT doc_id,
    CASE WHEN length(t) < 8 THEN rpad(t, 8, ' ') ELSE t END AS s
  FROM n
)
SELECT doc_id, list_min(list_transform(range(1, length(s) - 6), i ->
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(range(8), j -> CAST(ascii(substr(s, CAST(i + j AS INT), 1)) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % 1000000007))) AS rolling_fp
FROM s
"""


# ---------------------------------------------------------------------------
# Hyperplane-LSH embedding ops: cosine near-dup pairs, banded ANN, IVF ANN
# ---------------------------------------------------------------------------
def _sql_seq_fold_dot(a: str, b: str) -> str:
    """Sequential left-fold dot product — operand order identical to Spark's
    zip_with+aggregate, so doubles match bit-for-bit across engines."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"_i -> {a}[CAST(_i AS INT)] * {b}[CAST(_i AS INT)])), (_acc, _x) -> _acc + _x)"
    )


def _sql_hyperplane_sig(v: str, n_planes: int = 8) -> str:
    """DuckDB expression mirroring ``hyperplane_signature`` exactly."""
    bits = []
    for p in range(n_planes):
        proj = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform({v}, (_x, _i) -> _x * CAST(({p * 2654435761 + 1} "
            f"+ (_i - 1) * 40503) % 65536 - 32768 AS DOUBLE))), (_a, _b) -> _a + _b)"
        )
        bits.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
    return "(" + " || ".join(bits) + ")"


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-sized LSH (``planes_for``): resolves to the floor of 8 planes at
    oracle scales (≤~16k rows), which is exactly what the static oracle SQL
    encodes — at corpus scale the same call grows the signature instead of
    degenerating to a quadratic bucket self-join."""
    from data_pipeline_ine_spark.operators.similarity import cosine_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.4)


_COS_AB = (
    f"{_sql_seq_fold_dot('a.v', 'b.v')} / "
    f"(sqrt({_sql_seq_fold_dot('a.v', 'a.v')}) * sqrt({_sql_seq_fold_dot('b.v', 'b.v')}))"
)

ORACLE_EMB_NEAR_DUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, {_sql_hyperplane_sig('v')} AS sig FROM e)
SELECT * FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, ROUND({_COS_AB}, 6) AS cosine_sim
  FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
) WHERE cosine_sim >= 0.4
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return lsh_bucketed_topk(emb, qvec, k=10, exclude_id=0)


_COS_EQ = (
    f"{_sql_seq_fold_dot('s.v', 'q.qv')} / "
    f"(sqrt({_sql_seq_fold_dot('s.v', 's.v')}) * sqrt({_sql_seq_fold_dot('q.qv', 'q.qv')}))"
)

ORACLE_ANN_LSH = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, {_sql_hyperplane_sig('v')} AS sig FROM e),
q AS (SELECT v AS qv, sig AS qsig FROM s WHERE vec_id = 0)
SELECT s.vec_id, ROUND({_COS_EQ}, 6) AS cosine_sim
FROM s, q
WHERE s.vec_id <> 0
  AND (substr(s.sig, 1, 2) = substr(q.qsig, 1, 2)
    OR substr(s.sig, 3, 2) = substr(q.qsig, 3, 2)
    OR substr(s.sig, 5, 2) = substr(q.qsig, 5, 2)
    OR substr(s.sig, 7, 2) = substr(q.qsig, 7, 2))
ORDER BY cosine_sim DESC, s.vec_id
LIMIT 10
"""


def _sql_sq_dist(a: str, b: str) -> str:
    """Sequential-fold squared euclidean distance over 64-dim DOUBLE[]."""
    t = f"({a}[CAST(_i AS INT)] - {b}[CAST(_i AS INT)])"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, 65), _i -> {t} * {t})), (_x, _y) -> _x + _y)"
    )


def q_ann_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.similarity import kmeans_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return kmeans_ivf_topk(
        emb, qvec, k=10, n_clusters=8, n_probe=2, iters=2,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )


# two unrolled Lloyd's iterations, centroids rounded to 6dp per step —
# exactly the recipe kmeans_fit runs, so both engines converge identically
_KM_ASSIGN = (
    "SELECT vec_id, v, cid, ROW_NUMBER() OVER "
    "(PARTITION BY vec_id ORDER BY {d}, cid) AS rn FROM e, {c}"
)

# the unrolled two-iteration Lloyd chain every k-means oracle shares
# (seed rule, 6-dp centroid rounding, assignment tiebreak) — ONE copy;
# the oracles interpolate it, so a recipe change cannot silently
# diverge one of them (review r9). Parameterized over k (the seed
# count, kmeans_fit's `vec_id < k` rule) and a CTE-name suffix so
# several chains — e.g. semdedup_recall's k ∈ {4, 8, 16} — can
# coexist in ONE WITH clause.
def _lloyd_chain_cte(k: int, sfx: str = "") -> str:
    return f'''c0{sfx} AS (SELECT vec_id AS cid, list_transform(v, x -> round(x, 6)) AS cv
       FROM e WHERE vec_id < {k}),
a1{sfx} AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c=f'c0{sfx}')}),
m1{sfx} AS (SELECT cid, g.d, ROUND(AVG(v[g.d]), 6) AS c
       FROM a1{sfx}, generate_series(1, 64) AS g(d) WHERE rn = 1 GROUP BY 1, 2),
c1{sfx} AS (SELECT cid, list(c ORDER BY d) AS cv FROM m1{sfx} GROUP BY cid),
a2{sfx} AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c=f'c1{sfx}')}),
m2{sfx} AS (SELECT cid, g.d, ROUND(AVG(v[g.d]), 6) AS c
       FROM a2{sfx}, generate_series(1, 64) AS g(d) WHERE rn = 1 GROUP BY 1, 2),
c2{sfx} AS (SELECT cid, list(c ORDER BY d) AS cv FROM m2{sfx} GROUP BY cid),
'''


_LLOYD_CHAIN_CTE = _lloyd_chain_cte(8)

def q_embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer health report (operators/similarity.py::
    kmeans_cluster_profile): per trained k-means cluster, the member
    count and the EXACT inertia — balanced buckets and cell lossiness,
    the two pre-ship checks for any IVF coarse quantizer. Squared
    distances are the bit-identical sequential fold, snapped to e6
    fixed-point and DECIMAL-accumulated (order-invariant)."""
    from data_pipeline_ine_spark.operators.similarity import (
        kmeans_cluster_profile,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(
        emb, n_clusters=8, iters=2,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )


ORACLE_ANN_KMEANS = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')}),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probes AS (SELECT cid FROM c2, q ORDER BY {_sql_sq_dist('qv', 'cv')}, cid LIMIT 2)
SELECT a3.vec_id,
  ROUND({_sql_seq_fold_dot('a3.v', 'q.qv')}
        / (sqrt({_sql_seq_fold_dot('a3.v', 'a3.v')})
           * sqrt({_sql_seq_fold_dot('q.qv', 'q.qv')})), 6) AS cosine_sim
FROM a3 JOIN probes USING (cid), q
WHERE a3.rn = 1
ORDER BY cosine_sim DESC, a3.vec_id
LIMIT 10
"""

# same unrolled two-iteration Lloyd chain, profiled instead of probed:
# count + e6-snapped DECIMAL-accumulated inertia per assigned cluster
ORACLE_CLUSTER_PROFILE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')}),
prof AS (
  SELECT a3.cid AS cluster,
    CAST(COUNT(*) AS BIGINT) AS n_vectors,
    CAST(SUM(CAST(floor({_sql_sq_dist('a3.v', 'c2.cv')} * 1e6 + 0.5)
             AS DECIMAL(38,0))) AS BIGINT) AS inertia_e6
  FROM a3 JOIN c2 USING (cid)
  WHERE a3.rn = 1
  GROUP BY 1
)
SELECT cluster, n_vectors, inertia_e6,
  CAST(inertia_e6 // n_vectors AS BIGINT) AS mean_sq_dist_e6
FROM prof ORDER BY cluster
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_ine_spark.operators.similarity import partitioned_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return partitioned_topk(emb, qvec, k=10, part_col="label", n_probe=2)


ORACLE_ANN_IVF = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims GROUP BY label),
probes AS (
  SELECT label FROM cent, q
  ORDER BY ROUND(list_dot_product(centroid, qv)
        / (sqrt(list_dot_product(centroid, centroid)) * sqrt(list_dot_product(qv, qv))), 6)
        DESC, label
  LIMIT 2
)
SELECT e.vec_id,
  ROUND(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        AS cosine_sim
FROM e JOIN probes USING (label), q
ORDER BY cosine_sim DESC, e.vec_id
LIMIT 10
"""


# Bump when sources/ivf_index.py changes the on-disk layout: the contract
# queries cache the built index per sf_dir (build = write path, amortized
# over probes in any real deployment; a stale layout would red the oracle,
# so the version tag invalidates mechanically).
_IVF_LAYOUT_V = "v2"  # v2: centroid sidecars 6dp-snapped (ADVICE r11)


def _table_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of a source parquet table for cache keying:
    md5 over every data file's (relative path, size, mtime) — zero
    Spark jobs, and REGENERATED testdata at the same path changes it,
    so a cached index built from old data can never serve a probe
    against new data (ADVICE r7: sf_dir basename alone was stale-prone).
    """
    import hashlib
    import os

    root = os.path.join(sf_dir, f"{table}.parquet")
    parts = []
    if os.path.isdir(root):
        for dirpath, _, files in os.walk(root):
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(root):
        st = os.stat(root)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    digest = hashlib.md5("|".join(sorted(parts)).encode()).hexdigest()
    return digest[:12]


def _ivf_index_ready(path: str, *sidecars: str) -> bool:
    # the build-complete marker commits LAST (after data + sidecars) —
    # a root _SUCCESS is absent under dynamic partition-overwrite
    # sessions, so it cannot be the readiness signal; the sidecar
    # checks are belt-and-braces against a manually mutilated cache
    import os

    from data_pipeline_ine_spark.sources.ivf_index import index_ready

    return index_ready(path) and all(
        os.path.exists(os.path.join(path, s)) for s in sidecars
    )


def q_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF SERVING path (sources/ivf_index.py): the corpus written
    once as a parquet table partitioned by the coarse bucket
    (write_ivf_index), then probed via read_ivf_probe — the n_probe
    nearest buckets chosen driver-side from the centroid sidecar and
    applied as a literal isin, which Catalyst compiles to a static
    PartitionFilters entry: unprobed buckets are never read. Same
    probe arithmetic and exact in-bucket ranking as ann_ivf_topk, so
    the same oracle checks it end-to-end THROUGH the storage layout.
    """
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivf_probe,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    path = os.path.join(
        "/tmp", f"spark_graft_ivf_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids"):
        write_ivf_index(emb, path, part_col="label")
    return read_ivf_probe(spark, path, qvec, k=10, n_probe=2)


def q_ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS IVF-PQ serving layout (sources/ivf_index.py::
    write_ivfpq_index/read_ivfpq_probe): the corpus stored as PQ CODES
    ONLY, partitioned by the coarse bucket, with centroid and codebook
    sidecars. The probe prunes to n_probe buckets at the parquet scan
    (static PartitionFilters) and the ADC lookup table ranks only the
    probed codes — every distance an exact BIGINT, so the oracle
    reproduces probe choice AND ranking bit-for-bit."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivfpq_probe,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy(F.desc("vec_id")).select("embedding").head()
    path = os.path.join(
        "/tmp", f"spark_graft_ivfpq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_codebook"):
        write_ivfpq_index(emb, path, part_col="label")
    return read_ivfpq_probe(spark, path, qrow[0], k=10, n_probe=2)


def q_ann_sq8_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS IVF-SQ8 serving layout (sources/ivf_index.py::
    write_sq8_index/read_sq8_probe) — the third member of the standard
    quantization ladder (flat=ann_index_probe / SQ8=this / PQ=
    ann_ivfpq_probe): the corpus stored as per-dim affine int8 codes
    ONLY, partitioned by the coarse bucket, with centroid and
    affine-param sidecars. The probe prunes to n_probe buckets at the
    parquet scan (static PartitionFilters) and ranks by the exact
    BIGINT code-space squared distance — the query quantized onto the
    SAME grid driver-side, so the oracle reproduces codes AND ranking
    bit-for-bit (per-dim MIN/MAX are order-invariant, unlike sums)."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_sq8_probe,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    path = os.path.join(
        "/tmp", f"spark_graft_sq8_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_sqparams"):
        write_sq8_index(emb, path, part_col="label")
    return read_sq8_probe(spark, path, qvec, k=10, n_probe=2)


# Shared SQ8 oracle pieces: the corpus encode (per-dim order-invariant
# MIN/MAX grid + the IEEE floor chain of ivf_index._sq8_code_expr, so
# codes are bit-identical across engines) and the single-query /
# batched distance CTEs the probe, rerank, filtered, and recall-curve
# oracles all compose. (Defined BEFORE every oracle constant that
# concatenates them — driver import is file-order, r9 lesson.)
_SQ8_CORPUS_CTE = """
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims
         GROUP BY label),
mm AS MATERIALIZED (
  SELECT g.d, MIN(v[g.d]) AS mn, MAX(v[g.d]) AS mx
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
codes AS MATERIALIZED (
  -- the same IEEE subtract/multiply/divide/add/floor chain as
  -- ivf_index._sq8_code_expr: codes are bit-identical across engines
  SELECT e.vec_id, e.label, mm.d,
    LEAST(255, GREATEST(0, CASE WHEN mm.mx = mm.mn THEN 0
      ELSE CAST(FLOOR((v[mm.d] - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                AS INT)
    END)) AS code
  FROM e, mm
)"""

# {qsel}: the query-vector predicate; {np}: n_probe; {flt}: optional
# WHERE over the candidate rows (filtered ANN), '' otherwise.
_SQ8_SINGLE_DIST_FMT = """
, q AS (SELECT v AS qv FROM e WHERE {qsel}),
probes AS (
  SELECT label FROM cent, q
  ORDER BY ROUND(list_dot_product(centroid, qv)
        / (sqrt(list_dot_product(centroid, centroid))
           * sqrt(list_dot_product(qv, qv))), 6)
        DESC, label
  LIMIT {np}
),
qc AS (
  SELECT mm.d,
    LEAST(255, GREATEST(0, CASE WHEN mm.mx = mm.mn THEN 0
      ELSE CAST(FLOOR((qv[mm.d] - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                AS INT)
    END)) AS qcode
  FROM mm, q
),
dist AS (
  SELECT c.vec_id,
    CAST(SUM(CAST((c.code - qc.qcode) AS BIGINT) * (c.code - qc.qcode))
         AS BIGINT) AS sq8_dist
  FROM codes c JOIN qc USING (d) JOIN probes p ON c.label = p.label
  {flt}
  GROUP BY 1
)"""

ORACLE_ANN_SQ8_PROBE = (
    _SQ8_CORPUS_CTE
    + _SQ8_SINGLE_DIST_FMT.format(qsel="vec_id = 1", np=2, flt="")
    + """
SELECT vec_id, sq8_dist FROM dist ORDER BY sq8_dist, vec_id LIMIT 10
"""
)


def q_ann_sq8_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched SQ8 serving over the SAME persisted index as
    ann_sq8_probe (sources/ivf_index.py::read_sq8_probe_batch): three
    queries share ONE partition-pruned codes scan (union of probes as
    a single literal isin), each query's int8 code vector rides the
    broadcast (query_id, bucket, qcodes) frame, and ranking is a
    query-keyed window WindowGroupLimit pre-reduces. Exact BIGINT
    distances end-to-end — completes the batch story across the
    quantization ladder (flat/PQ/SQ8)."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_sq8_probe_batch,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    path = os.path.join(
        "/tmp", f"spark_graft_sq8_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_sqparams"):
        write_sq8_index(emb, path, part_col="label")
    return read_sq8_probe_batch(spark, path, queries, k=10, n_probe=2)


_SQ8_BATCH_RANKED_CTE = """
, q AS (SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e
        WHERE vec_id < 3),
pr AS (
  SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY ROUND(list_dot_product(centroid, qv)
      / (sqrt(list_dot_product(centroid, centroid))
         * sqrt(list_dot_product(qv, qv))), 6) DESC, label) AS rn
  FROM cent, q
),
probes AS (SELECT query_id, label FROM pr WHERE rn <= 2),
qc AS (
  SELECT q.query_id, mm.d,
    LEAST(255, GREATEST(0, CASE WHEN mm.mx = mm.mn THEN 0
      ELSE CAST(FLOOR((qv[mm.d] - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                AS INT)
    END)) AS qcode
  FROM mm, q
),
cand AS (
  SELECT p.query_id, c.vec_id,
    CAST(SUM(CAST((c.code - qc.qcode) AS BIGINT) * (c.code - qc.qcode))
         AS BIGINT) AS sq8_dist
  FROM codes c
  JOIN probes p ON c.label = p.label
  JOIN qc ON qc.query_id = p.query_id AND qc.d = c.d
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sq8_dist, vec_id) AS rank
  FROM cand
)"""

ORACLE_ANN_SQ8_BATCH = (
    _SQ8_CORPUS_CTE
    + _SQ8_BATCH_RANKED_CTE
    + """
SELECT query_id, vec_id, sq8_dist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""
)


def q_ann_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval at the SQ8 tier (sources/ivf_index.py::
    read_sq8_rerank): stage 1 shortlists 50 candidates from the
    codes-only SQ8 index (pruned scan + exact BIGINT code-space
    distance), stage 2 re-ranks ONLY the shortlist with exact cosine
    against the raw vectors — a pushed-down id point-lookup set, never
    a bucket read. ann_ivfpq_rerank's serving shape one rung up the
    accuracy ladder; same max-id query vector, so the two tiers'
    results are directly comparable."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_sq8_rerank,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy(F.desc("vec_id")).select("embedding").head()
    path = os.path.join(
        "/tmp", f"spark_graft_sq8_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_sqparams"):
        write_sq8_index(emb, path, part_col="label")
    return read_sq8_rerank(
        spark, path, emb, qrow[0], k=10, shortlist=50, n_probe=2
    )


ORACLE_ANN_SQ8_RERANK = (
    _SQ8_CORPUS_CTE
    + _SQ8_SINGLE_DIST_FMT.format(
        qsel="vec_id = (SELECT max(vec_id) FROM embeddings)", np=2, flt=""
    )
    + """
, short AS (
  SELECT vec_id FROM dist ORDER BY sq8_dist, vec_id LIMIT 50
)
SELECT s.vec_id,
  ROUND(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM short s JOIN e ON e.vec_id = s.vec_id, q
ORDER BY cosine_sim DESC, s.vec_id
LIMIT 10
"""
)


def q_ann_sq8_rerank_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched two-stage SQ8 retrieval (sources/ivf_index.py::
    read_sq8_rerank_batch): three queries shortlist through ONE pruned
    codes scan (read_sq8_probe_batch), then ALL shortlists re-rank
    exact from ONE pushed-down id-set lookup (union of shortlists) with
    a broadcast (query_id, id) membership join — one codes scan + one
    raw point-lookup set for Q queries instead of 2Q scans, the
    ann_ivfpq_rerank_batch discipline at the SQ8 tier."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_sq8_rerank_batch,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    path = os.path.join(
        "/tmp", f"spark_graft_sq8_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_sqparams"):
        write_sq8_index(emb, path, part_col="label")
    return read_sq8_rerank_batch(
        spark, path, emb, queries, k=10, shortlist=50, n_probe=2
    )


ORACLE_ANN_SQ8_RERANK_BATCH = (
    _SQ8_CORPUS_CTE
    + _SQ8_BATCH_RANKED_CTE
    + """
, short AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 50),
rr AS (
  SELECT s.query_id, s.vec_id,
    ROUND(list_dot_product(e.v, q.qv)
          / (sqrt(list_dot_product(e.v, e.v))
             * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM short s
  JOIN e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
), rr2 AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM rr
)
SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM rr2 WHERE rank <= 10
"""
)


def q_ann_ivf_filtered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN over the flat IVF index (sources/ivf_index.py::
    read_ivf_probe ``where=``): a payload predicate — here "only the
    newer half of the corpus", vec_id >= max/2, the recency constraint
    of a real retrieval tier — applied AT THE SCAN, so Catalyst pushes
    it into the parquet read (PushedFilters) NEXT TO the bucket
    partition pruning and only matching rows are ever ranked.
    Post-filter semantics: top-k among probed-AND-matching rows
    (recall caveat: a selective predicate can empty a probed bucket —
    see tests/test_plan_quality.py selectivity sweep and SCALING.md
    for the n_probe escalation rule)."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivf_probe,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_ivf_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids"):
        write_ivf_index(emb, path, part_col="label")
    return read_ivf_probe(
        spark, path, qvec, k=10, n_probe=2,
        where=F.col("vec_id") >= cut,
    )


ORACLE_ANN_IVF_FILTERED = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims GROUP BY label),
probes AS (
  SELECT label FROM cent, q
  ORDER BY ROUND(list_dot_product(centroid, qv)
        / (sqrt(list_dot_product(centroid, centroid)) * sqrt(list_dot_product(qv, qv))), 6)
        DESC, label
  LIMIT 2
)
SELECT e.vec_id,
  ROUND(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        AS cosine_sim
FROM e JOIN probes USING (label), q
WHERE e.vec_id >= (SELECT max(vec_id) // 2 FROM e)
ORDER BY cosine_sim DESC, e.vec_id
LIMIT 10
"""


def q_ann_sq8_filtered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN at the SQ8 tier (sources/ivf_index.py::
    read_sq8_probe ``where=``): the same newer-half payload predicate
    as ann_ivf_filtered_probe, pushed into the CODES scan alongside the
    bucket pruning — the constrained-query serving path on the 4x
    cheaper int8 layout, ranking only probed-AND-matching codes by the
    exact BIGINT code-space distance."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_sq8_probe,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_sq8_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_sqparams"):
        write_sq8_index(emb, path, part_col="label")
    return read_sq8_probe(
        spark, path, qvec, k=10, n_probe=2,
        where=F.col("vec_id") >= cut,
    )


ORACLE_ANN_SQ8_FILTERED = (
    _SQ8_CORPUS_CTE
    + _SQ8_SINGLE_DIST_FMT.format(
        qsel="vec_id = 0",
        np=2,
        flt="WHERE c.vec_id >= (SELECT max(vec_id) // 2 FROM e)",
    )
    + """
SELECT vec_id, sq8_dist FROM dist ORDER BY sq8_dist, vec_id LIMIT 10
"""
)


def q_sq8_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of SQ8 code-space ranking vs exact cosine at n_probe
    ∈ {1,2,4} (operators/similarity.py::sq8_recall_curve) — the third
    rung of the quantization ladder's accuracy evidence:
    ivf_recall_curve prices the probe budget at full precision,
    pq_recall_curve prices PQ's loss, this one prices the int8 affine
    grid. Integer code distances + the shared rounded-cosine total
    order keep the whole curve engine-exact."""
    from data_pipeline_ine_spark.operators.similarity import (
        sq8_recall_curve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return sq8_recall_curve(emb, qvec, n_probes=(1, 2, 4), k=10)


def _sq8_recall_oracle(n_probes=(1, 2, 4), k=10) -> str:
    head = (
        _SQ8_CORPUS_CTE
        + """
, q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qc AS MATERIALIZED (
  SELECT mm.d,
    LEAST(255, GREATEST(0, CASE WHEN mm.mx = mm.mn THEN 0
      ELSE CAST(FLOOR((qv[mm.d] - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                AS INT)
    END)) AS qcode
  FROM mm, q
),
exact AS MATERIALIZED (
  SELECT e.vec_id FROM e, q
  ORDER BY ROUND(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, e.vec_id
  LIMIT {k}
)""".format(k=k)
    )
    blocks, selects = [], []
    for p in n_probes:
        blocks.append(
            """
, pr{p} AS (
  SELECT label FROM cent, q
  ORDER BY ROUND(list_dot_product(centroid, qv)
        / (sqrt(list_dot_product(centroid, centroid))
           * sqrt(list_dot_product(qv, qv))), 6) DESC, label
  LIMIT {p}
), d{p} AS (
  SELECT c.vec_id,
    CAST(SUM(CAST((c.code - qc.qcode) AS BIGINT) * (c.code - qc.qcode))
         AS BIGINT) AS dist
  FROM codes c JOIN qc USING (d) JOIN pr{p} USING (label)
  GROUP BY 1
), top{p} AS (SELECT vec_id FROM d{p} ORDER BY dist, vec_id LIMIT {k}),
h{p} AS (
  SELECT CAST({p} AS BIGINT) AS n_probe, CAST({k} AS BIGINT) AS k,
    CAST(COUNT(*) AS BIGINT) AS hits
  FROM top{p} JOIN exact USING (vec_id)
)""".format(p=p, k=k)
        )
        selects.append(f"SELECT * FROM h{p}")
    tail = (
        "\nSELECT n_probe, k, hits, "
        f"ROUND(CAST(hits AS DOUBLE) / {float(k)}, 6) AS recall\n"
        "FROM (" + " UNION ALL ".join(selects) + ") ORDER BY n_probe"
    )
    return head + "".join(blocks) + tail


ORACLE_SQ8_RECALL = _sq8_recall_oracle()


def q_ann_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving over the SAME persisted IVF index as
    ann_index_probe (sources/ivf_index.py::read_ivf_probe_batch):
    three queries share ONE partition-pruned scan — the union of their
    probed buckets is a single literal isin — and each query meets
    only its own buckets via a broadcast equi-join on the bucket key.
    Per-query ranking is a query_id-keyed window that WindowGroupLimit
    pre-reduces, so scan cost for Q queries is the union coverage, not
    Q scans."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivf_probe_batch,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    path = os.path.join(
        "/tmp", f"spark_graft_ivf_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids"):
        write_ivf_index(emb, path, part_col="label")
    return read_ivf_probe_batch(spark, path, queries, k=10, n_probe=2)


ORACLE_ANN_BATCH_PROBE = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e
      WHERE vec_id < 3),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims
         GROUP BY label),
pr AS (
  SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY ROUND(list_dot_product(centroid, qv)
      / (sqrt(list_dot_product(centroid, centroid))
         * sqrt(list_dot_product(qv, qv))), 6) DESC, label) AS rn
  FROM cent, q
),
probes AS (SELECT query_id, label FROM pr WHERE rn <= 2),
cand AS (
  SELECT p.query_id, e.vec_id,
    ROUND(list_dot_product(e.v, q.qv)
      / (sqrt(list_dot_product(e.v, e.v))
         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM e JOIN probes p USING (label) JOIN q USING (query_id)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


def q_ivf_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index freshness for the frozen-centroid append lifecycle
    (sources/ivf_index.py::ivf_drift_report): build the IVF index from
    the first half of the corpus (vec_id < max/2, label buckets),
    append the second half against the FROZEN centroids, then report
    per bucket the e6-snapped mean squared distance of each cohort to
    its frozen centroid plus the integer cross-multiplied retrain flag
    (new mean > 1.5x base mean). This is the number that tells an
    operator at 100 TB that the coarse quantizer has drifted and the
    periodic rebuild is due."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        ivf_drift_report,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = emb.agg(F.max("vec_id")).first()[0] // 2
    path = os.path.join(
        "/tmp", f"spark_graft_ivf_drift_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    # "_drift_ok" commits AFTER the append: the build's own marker
    # lands between write and append, so it alone would let a crash
    # leave a cached base-only index behind
    if not _ivf_index_ready(path, "_centroids", "_drift_ok"):
        write_ivf_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        with open(os.path.join(path, "_drift_ok"), "w") as f:
            f.write("ok\n")
    return ivf_drift_report(spark, path, F.col("vec_id") >= cut)


# the oracle re-derives the whole lifecycle: frozen centroids = per-label
# means of the BASE cohort; appended rows route to the nearest frozen
# centroid (numeric-label tiebreak = append_to_ivf_index's rule); both
# cohorts' squared distances to the 6dp-ROUNDED centroid are e6-snapped
# and DECIMAL-accumulated
ORACLE_IVF_DRIFT = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cut AS (SELECT MAX(vec_id) // 2 AS c FROM e),
base AS (SELECT vec_id, label, v FROM e, cut WHERE vec_id < c),
newr AS (SELECT vec_id, v FROM e, cut WHERE vec_id >= c),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS cm
  FROM base, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, 'b' || CAST(label AS VARCHAR) AS bucket,
                list(cm ORDER BY d) AS cv
         FROM dims GROUP BY label),
asgn AS (
  SELECT n.vec_id, n.v, c.bucket, ROW_NUMBER() OVER (
    PARTITION BY n.vec_id
    ORDER BY {_sql_sq_dist('n.v', 'c.cv')}, c.label) AS rn
  FROM newr n, cent c
),
rows_all AS (
  SELECT b.v, 'b' || CAST(b.label AS VARCHAR) AS bucket, 0 AS isnew
  FROM base b
  UNION ALL
  SELECT a.v, a.bucket, 1 AS isnew FROM asgn a WHERE rn = 1
),
rc AS (SELECT bucket, list_transform(cv, x -> round(x, 6)) AS rcv FROM cent),
snap AS (
  SELECT r.bucket, r.isnew,
    CAST(floor({_sql_sq_dist('r.v', 'rc.rcv')} * 1e6 + 0.5)
         AS DECIMAL(38,0)) AS d6
  FROM rows_all r JOIN rc USING (bucket)
),
prof AS (
  SELECT bucket,
    CAST(SUM(CASE WHEN isnew = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
    CAST(SUM(CASE WHEN isnew = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
    CAST(SUM(CASE WHEN isnew = 0 THEN d6 END) AS BIGINT) AS ib,
    CAST(SUM(CASE WHEN isnew = 1 THEN d6 END) AS BIGINT) AS inw
  FROM snap GROUP BY bucket
)
SELECT bucket, n_base, n_new,
  CAST(ib // n_base AS BIGINT) AS mean_e6_base,
  CAST(inw // n_new AS BIGINT) AS mean_e6_new,
  CAST(CASE WHEN n_new > 0 AND (n_base = 0 OR inw * 2 * n_base > ib * 3 * n_new)
       THEN 1 ELSE 0 END AS INT) AS retrain
FROM prof ORDER BY bucket
"""


def q_ann_ivfpq_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ADC serving over the persisted IVF-PQ index
    (sources/ivf_index.py::read_ivfpq_probe_batch): three queries share
    ONE partition-pruned codes scan (union of probed buckets as a
    static PartitionFilters isin), each query's integer distance LUT
    riding the broadcast (query_id, bucket, lut) frame — m lookups +
    BIGINT adds per candidate, per-query ranking WindowGroupLimit
    pre-reduced. Per-query results are bit-identical to the
    single-query ann_ivfpq_probe path (plan-tested), so the oracle
    reproduces probe choice AND ranking exactly."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivfpq_probe_batch,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    path = os.path.join(
        "/tmp", f"spark_graft_ivfpq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_codebook"):
        write_ivfpq_index(emb, path, part_col="label")
    return read_ivfpq_probe_batch(spark, path, queries, k=10, n_probe=2)


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production serving shape
    (sources/ivf_index.py::read_ivfpq_rerank): stage 1 shortlists 50
    candidates from the codes-only IVF-PQ index (pruned scan + integer
    ADC), stage 2 re-ranks ONLY the shortlist with exact cosine against
    the raw vectors — the full-precision read is a pushed-down id
    point-lookup set (the KV-fetch of a real serving tier), never a
    bucket scan. Same max-id query vector as ann_ivfpq_probe so the
    oracle reuses its probe arithmetic."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivfpq_rerank,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy(F.desc("vec_id")).select("embedding").head()
    path = os.path.join(
        "/tmp", f"spark_graft_ivfpq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_codebook"):
        write_ivfpq_index(emb, path, part_col="label")
    return read_ivfpq_rerank(
        spark, path, emb, qrow[0], k=10, shortlist=50, n_probe=2
    )


def q_ann_ivfpq_rerank_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched two-stage retrieval (sources/ivf_index.py::
    read_ivfpq_rerank_batch): three queries shortlist through ONE
    pruned ADC scan, then ALL shortlists re-rank exact from ONE
    pushed-down id-set lookup (union of shortlists) with a broadcast
    (query_id, id) membership join — one codes scan + one raw
    point-lookup set for Q queries instead of 2Q scans."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivfpq_rerank_batch,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    path = os.path.join(
        "/tmp", f"spark_graft_ivfpq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_codebook"):
        write_ivfpq_index(emb, path, part_col="label")
    return read_ivfpq_rerank_batch(
        spark, path, emb, queries, k=10, shortlist=50, n_probe=2
    )


def q_ivf_append_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming index-maintenance invariant, batch-expressible
    (streaming/index_maintenance.py::append_batch_to_ivf_index):
    replay-twice-equals-once. The index is built from the first half of
    the corpus (label buckets), the second half lands as ONE maintained
    batch which is then (a) replayed with its commit marker present
    (must skip) and (b) replayed after a simulated crash-before-marker
    (must re-publish the same deterministic file names, never add) —
    the final per-bucket counts and id-checksums must equal the
    exactly-once outcome, which is what the oracle computes from the
    frozen-centroid routing rule. (Same invariant discipline as
    incremental_dedup proved for the batch dedup path.)"""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        write_ivf_index,
    )
    from data_pipeline_ine_spark.streaming.index_maintenance import (
        append_batch_to_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = emb.agg(F.max("vec_id")).first()[0] // 2
    path = os.path.join(
        "/tmp", f"spark_graft_ivf_replay_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    # "_replay_ok" commits after the full replay exercise (the build's
    # own marker lands before the appends, so it alone would cache a
    # half-built index if a run died mid-exercise)
    if not _ivf_index_ready(path, "_centroids", "_replay_ok"):
        import shutil

        # start CLEAN: an interrupted earlier exercise leaves the
        # build marker and _batch_commits/b1 behind, and a dynamic
        # partition-overwrite rebuild would preserve that stale marker
        # — the 'first apply' would then skip forever (review r9)
        shutil.rmtree(path, ignore_errors=True)
        write_ivf_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        batch = emb.filter(F.col("vec_id") >= cut).drop("label")
        applied = append_batch_to_ivf_index(batch, 1, path)
        assert applied, "first apply must land"
        # committed replay: the marker short-circuits
        skipped = append_batch_to_ivf_index(batch, 1, path)
        assert skipped is False, "committed batch must be skipped"
        # crash-before-marker replay: re-publish, never duplicate
        from data_pipeline_ine_spark.sources.ivf_index import (
            _BATCH_COMMITS_DIR,
        )

        os.remove(os.path.join(path, _BATCH_COMMITS_DIR, "b1"))
        reapplied = append_batch_to_ivf_index(batch, 1, path)
        assert reapplied, "crash replay must re-apply"
        with open(os.path.join(path, "_replay_ok"), "w") as f:
            f.write("ok\n")
    return (
        spark.read.parquet(path)
        .groupBy(F.col("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("bucket")
    )


# exactly-once ground truth: base cohort bucketed by label, appended
# cohort routed to the nearest FROZEN centroid (numeric-label tiebreak,
# append_to_ivf_index's rule), every vector counted ONCE — any
# replay-duplicated or dropped row breaks count or id-checksum.
ORACLE_IVF_APPEND_REPLAY = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cut AS (SELECT MAX(vec_id) // 2 AS c FROM e),
base AS (SELECT vec_id, label, v FROM e, cut WHERE vec_id < c),
newr AS (SELECT vec_id, v FROM e, cut WHERE vec_id >= c),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS cm
  FROM base, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, 'b' || CAST(label AS VARCHAR) AS bucket,
                list(cm ORDER BY d) AS cv
         FROM dims GROUP BY label),
asgn AS (
  SELECT n.vec_id, c.bucket, ROW_NUMBER() OVER (
    PARTITION BY n.vec_id
    ORDER BY {_sql_sq_dist('n.v', 'c.cv')}, c.label) AS rn
  FROM newr n, cent c
),
rows_all AS (
  SELECT b.vec_id, 'b' || CAST(b.label AS VARCHAR) AS bucket FROM base b
  UNION ALL
  SELECT a.vec_id, a.bucket FROM asgn a WHERE rn = 1
)
SELECT bucket,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(SUM(vec_id) AS BIGINT) AS id_sum
FROM rows_all GROUP BY bucket ORDER BY bucket
"""


def q_ivf_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift-recovery rebuild closing the index lifecycle
    (sources/ivf_index.py::rebuild_ivf_index): build from the first
    half of the corpus (label buckets), append the second half against
    the FROZEN centroids (accumulating exactly the drift
    ivf_drift_report measures), then REBUILD — retrain the k=8
    quantizer on the CURRENT corpus and rewrite the index under the new
    bucketing via the same stage-and-swap as compaction. The rebuilt
    bucketing must equal a deterministic full-corpus k-means assignment
    (which is what the oracle derives), with every vector present
    exactly once."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        rebuild_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = emb.agg(F.max("vec_id")).first()[0] // 2
    path = os.path.join(
        "/tmp", f"spark_graft_ivf_rebuild_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    # "_rebuilt_ok" commits after the full lifecycle exercise (build ->
    # append -> rebuild); the build's own marker lands earlier and
    # would cache a pre-rebuild index if a run died mid-exercise
    if not _ivf_index_ready(path, "_centroids", "_rebuilt_ok"):
        write_ivf_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        rebuild_ivf_index(
            spark, path, n_clusters=8, iters=2,
            memo_key=_table_fingerprint(sf_dir, "embeddings"),
        )
        with open(os.path.join(path, "_rebuilt_ok"), "w") as f:
            f.write("ok\n")
    return (
        spark.read.parquet(path)
        .groupBy(F.col("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("bucket")
    )


# a rebuild discards the old bucketing entirely: ground truth is the
# deterministic full-corpus two-iteration Lloyd assignment (the same
# unrolled chain as ORACLE_CLUSTER_PROFILE), bucketed b<cid>.
ORACLE_IVF_REBUILD = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')})
SELECT 'b' || CAST(cid AS VARCHAR) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(SUM(vec_id) AS BIGINT) AS id_sum
FROM a3 WHERE rn = 1
GROUP BY 1 ORDER BY 1
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's deterministic core (operators/similarity.py::
    semantic_dedup): deterministic k-means clusters the corpus, then
    WITHIN each cluster every vector with an earlier-id neighbor at
    rounded cosine >= 0.3 drops — the kept set provably has no
    within-cluster pair above the threshold. The only pairwise work is
    a cluster-keyed self-anti-join (pair volume bounded by the cluster
    knob, never corpus squared) — the embedding-space stage of the
    modern pretraining dedup recipe."""
    from data_pipeline_ine_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    kept = semantic_dedup(
        emb, tau=0.3, n_clusters=8, iters=2,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )
    return kept.select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    ).orderBy("vec_id")


# the unrolled two-iteration Lloyd chain of ORACLE_CLUSTER_PROFILE, then
# the within-cluster earlier-id drop rule at rounded cosine >= 0.3.
ORACLE_SEMANTIC_DEDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')}),
asg AS (SELECT vec_id, v, cid FROM a3 WHERE rn = 1),
drp AS (
  SELECT DISTINCT a.vec_id
  FROM asg a JOIN asg b ON b.cid = a.cid AND b.vec_id < a.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
)
SELECT vec_id, CAST(cid AS INT) AS cluster FROM asg
WHERE vec_id NOT IN (SELECT vec_id FROM drp)
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# TPC-H wide coverage — the remaining query shapes, adapted to the testdata
# schema (no partsupp / commitdate / receiptdate / container columns exist, so
# q2/q11/q21's missing inputs are substituted with documented analogs). Money
# math follows the repo-wide determinism recipe: double products cast to
# decimal before SUM, cast back to double, then round.
# ---------------------------------------------------------------------------
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of PROMO-part revenue sold
    into AMERICA, by order year. Part/customer/supplier/nation dims all
    broadcast; the only fact-scale shuffle is lineitem⋈orders."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    amer_nations = (
        n.join(
            F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_type") == "PROMO").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(amer_nations), F.col("c_nationkey") == F.col("cn_key")
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(F.lit(0).cast("decimal(22,4)"))).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE_Q8 = """
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
  ROUND(
    CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))
             ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE),
    6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
"""


def q_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year for parts named ``%red%``. The schema has no ``ps_supplycost``, so
    cost is the documented proxy ``0.5 * p_retailprice * l_quantity``
    (same join/agg topology, substitute cost input)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,4)"
    )
    cost = (F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")).cast(
        "decimal(22,4)"
    )
    return (
        li.join(
            F.broadcast(
                p.filter(F.col("p_name").like("%red%")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(revenue - cost).cast("double"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))
               - CAST(0.5 * p_retailprice * l_quantity AS DECIMAL(22,4))) AS DOUBLE), 2)
    AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, keeping
    zero-order customers via the left join (the filter lives in the join,
    not a WHERE, exactly so those zeros survive). customer⋈orders
    co-partitions on custkey — one fact shuffle, then two tiny aggs."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The max
    is a 1-row broadcast joined back on the ROUNDED revenue (rounding
    before the equality makes the tie-set engine-invariant)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-04-01 00:00:00").cast("timestamp_ntz")
    rev = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(22,4)"
                    )
                ).cast("double"),
                2,
            ).alias("total_revenue")
        )
    )
    # rev feeds both the join probe and the scalar max; materialize the
    # (supplier-sized, tiny) aggregate once so lineitem is scanned once,
    # not once per consumer
    rev = rev.localCheckpoint(eager=False)
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top.max_revenue)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_Q15 = """
WITH rev AS (
  SELECT l_suppkey,
    ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE), 2)
      AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each surviving
    (brand, type, size) combination. Supply relationships come from
    lineitem (no partsupp table exists); the excluded-supplier complaint
    filter has no comment column to read, so exclusion is brand/type-side
    only. distinct-count shuffles once on the grouping key."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#21")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 35)
    )
    return (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#21' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 28, 35)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: yearly revenue lost to small-quantity orders of
    Brand#11 SMALL parts. The per-part average is a window over
    ``l_partkey`` AFTER the broadcast part filter — one shuffle on
    partkey, no second scan of lineitem, and restricting first is
    semantically identical because the filter is part-side only.
    Quantities are integral doubles, so the window AVG is exact and
    engine-invariant."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#11") & (F.col("p_type") == "SMALL")
    )
    w = Window.partitionBy("l_partkey")
    return (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .withColumn("qty_thresh", F.lit(0.2) * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


ORACLE_Q17 = """
SELECT ROUND(
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
  SELECT l.l_partkey AS t_partkey, 0.2 * AVG(l.l_quantity) AS qty_thresh
  FROM lineitem l JOIN part ON p_partkey = l.l_partkey
  WHERE p_brand = 'Brand#11' AND p_type = 'SMALL'
  GROUP BY 1
) t ON t_partkey = l_partkey
WHERE p_brand = 'Brand#11' AND p_type = 'SMALL' AND l_quantity < qty_thresh
"""


def q_q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd (brand, size-range,
    quantity-range) branches — the classic disjunctive-predicate case
    Catalyst must NOT turn into three scans. Part filters use size ranges
    in place of the missing container column. The common disjunct parts
    (brand ∈ {12,23,34}) broadcast; branch predicates apply post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    joined = li.join(
        F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(branch).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(22,4)"
                )
            ).cast("double"),
            2,
        ).alias("revenue")
    )


ORACLE_Q19 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE), 2)
  AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q_q20_qualified_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved real volume (>100 units in
    1997) of any ``small%`` part. partsupp's availability threshold is
    replaced by shipped quantity — same nested semi-join topology: agg on
    (supp, part) → distinct supplier keys → LEFT SEMI probe of the
    supplier dim."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    movers = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("shipped_qty"))
        .filter(F.col("shipped_qty") > 100)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_Q20 = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > 100
)
ORDER BY s_suppkey
"""


def q_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: positive-balance customers in selected nations who are
    richer than their cohort's average yet placed no orders. The phone
    country code becomes ``c_nationkey`` (no phone column). The average is
    an exact decimal sum over doubles ÷ count — engine-invariant — carried
    as a 1-row broadcast; dormancy is a LEFT ANTI join on custkey."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    nations = (1, 3, 5, 7, 9, 11, 13)
    cohort = c.filter(F.col("c_nationkey").isin(*nations))
    avg_bal = cohort.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        cohort.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


ORACLE_Q22 = """
WITH cohort AS (
  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
),
threshold AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM cohort WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
FROM cohort, threshold
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1 ORDER BY 1
"""


def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose NATION_3-supplied volume exceeds a
    fraction of the national total. ``ps_availqty·ps_supplycost`` has no
    partsupp table to come from, so stock value is the documented proxy
    ``SUM(l_quantity)`` over that nation's shipments (integral doubles —
    order-invariant). The per-part aggregate feeds both the ranking and
    the scalar total; it is checkpointed so lineitem scans once, and the
    threshold rides a 1-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nat_supp = s.join(
        F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("part_value"))
    ).localCheckpoint(eager=False)
    total = per_part.agg(
        (F.sum("part_value") * F.lit(0.00075)).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


ORACLE_Q11 = """
WITH per_part AS (
  SELECT l_partkey, SUM(l_quantity) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY 1
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (SELECT SUM(part_value) * 0.00075 FROM per_part)
ORDER BY part_value DESC, l_partkey
"""


def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame supplier. No commit/receipt dates
    exist, so "late" is the documented proxy ``l_returnflag = 'R'``: count
    per supplier the finished ('F') multi-supplier orders where THIS
    supplier had a returned line and no other supplier did — the same
    exists/not-exists pair, expressed as LEFT SEMI + LEFT ANTI joins on
    the order key. Supplier dim broadcasts; the three lineitem legs
    co-shuffle on ``l_orderkey``."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    blamed = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        blamed.join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


ORACLE_Q21 = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Training-data curation: mixture sampling, stratified sampling, repetition
# quality, PII scrubbing, benchmark decontamination, simhash near-dup pairs.
# ---------------------------------------------------------------------------
_MIX_RATES = {"src0": 0.2, "src1": 0.5, "src2": 0.65}
_MIX_DEFAULT = 0.8
_MIX_BUCKETS = 10_000


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain mixture sampling: deterministic hash-bucket filter at
    per-source rates (src0 20%, src1 50%, src2 65%, rest 80%), reported as
    surviving doc counts per source. Map-side only — zero shuffles before
    the final tiny groupBy."""
    from data_pipeline_ine_spark.operators.sampling import weighted_mixture

    docs = load_table(spark, sf_dir, "documents")
    kept = weighted_mixture(
        docs, _MIX_RATES, default_rate=_MIX_DEFAULT, buckets=_MIX_BUCKETS
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


ORACLE_MIXTURE = (
    """
SELECT source, COUNT(*) AS n_kept
FROM documents
WHERE ("""
    + _HEX12.format(h="md5('mix:' || CAST(doc_id AS VARCHAR))")
    + """ % 10000) <
  CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 5000
              WHEN 'src2' THEN 6500 ELSE 8000 END
GROUP BY 1 ORDER BY 1
"""
)


def q_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-upsampling by per-domain epoch multipliers (src0 2.5×,
    src1 0.75×, src2 1×, rest 1.25×) — fractional epochs realized by a
    deterministic hash coin, all-integer bucket arithmetic, map-side only
    (operators/sampling.py::upsample_mixture)."""
    from data_pipeline_ine_spark.operators.sampling import upsample_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return upsample_mixture(
        docs,
        {"src0": 2.5, "src1": 0.75, "src2": 1.0},
        default_multiplier=1.25,
        buckets=_MIX_BUCKETS,
    ).select("doc_id", "source", "copy_idx")


ORACLE_UPSAMPLE = (
    """
WITH m AS (
  SELECT doc_id, source,
    CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 7500
                WHEN 'src2' THEN 10000 ELSE 12500 END AS mtb,
    ("""
    + _HEX12.format(h="md5('epoch:' || CAST(doc_id AS VARCHAR))")
    + """ % 10000) AS b
  FROM documents
), c AS (
  SELECT doc_id, source,
    mtb // 10000 + CASE WHEN b < mtb % 10000 THEN 1 ELSE 0 END AS copies
  FROM m
)
SELECT doc_id, source,
  UNNEST(range(1, CAST(copies AS BIGINT) + 1)) AS copy_idx
FROM c WHERE copies > 0
"""
)


def q_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic training-order shuffle: permutation rank 1..N
    by salted-hash order, computed with the two-pass distributed rank
    (range-sort, per-partition counts, prefix-sum offsets) — never a
    single-task global window (operators/sampling.py::deterministic_shuffle)."""
    from data_pipeline_ine_spark.operators.sampling import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs).select("doc_id", "shuffle_rank")


ORACLE_SHUFFLE_RANK = (
    """
SELECT doc_id, ROW_NUMBER() OVER (ORDER BY """
    + _HEX12.format(h="md5('shuffle:' || CAST(doc_id AS VARCHAR))")
    + """, doc_id) AS shuffle_rank
FROM documents
"""
)


def q_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget (operators/sampling.py::
    token_budget_cap): each source keeps the greedy prefix of its
    deterministic-shuffle order until 800 tokens — the "at most N
    tokens of src7" mixture knob, as a superset-stable integer filter
    over the two-pass distributed running token total."""
    from data_pipeline_ine_spark.operators.sampling import (
        token_budget_cap,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.withColumn(
        "_tok",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).cast("bigint"),
    )
    return token_budget_cap(toks, 800, "_tok")


ORACLE_TOKEN_BUDGET = (
    """
WITH toks AS (
  SELECT source, doc_id,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      AS tokens,
    """
    + _HEX12.format(h="md5('budget:' || CAST(doc_id AS VARCHAR))")
    + """ AS h
  FROM documents
), run AS (
  SELECT source, doc_id, tokens,
    CAST(SUM(tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_tokens
  FROM toks
)
SELECT source, doc_id, tokens, cum_tokens
FROM run WHERE cum_tokens <= 800
"""
)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture (operators/sampling.py::
    temperature_mixture): per-source keep rates DERIVED from measured
    token masses as (m_min/m_i)^(1-alpha) with alpha=0.5 — the
    multilingual alpha-sampling knob. Engine-exact: integer masses ->
    one correctly-rounded divide -> correctly-rounded sqrt -> floor to
    bucket units, so both engines apply the identical thresholds.
    Reported per source: the applied rate (bucket units), kept docs,
    kept token mass."""
    from data_pipeline_ine_spark.operators.sampling import (
        temperature_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.withColumn(
        "_tok",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).cast("bigint"),
    )
    kept = temperature_mixture(toks, "_tok", alpha=0.5)
    return (
        kept.groupBy("source")
        .agg(
            F.min("rate_bp").cast("bigint").alias("rate_bp"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("_tok").cast("bigint").alias("tokens_kept"),
        )
        .orderBy("source")
    )


ORACLE_TEMPERATURE_MIXTURE = (
    """
WITH toks AS (
  SELECT source, doc_id,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      AS tokens
  FROM documents
), mass AS (
  SELECT source, SUM(tokens) AS m FROM toks GROUP BY 1
), mn AS (SELECT MIN(m) AS m_min FROM mass),
thr AS (
  SELECT source,
    CAST(FLOOR(sqrt(CAST(m_min AS DOUBLE) / CAST(m AS DOUBLE)) * 10000)
         AS BIGINT) AS rate_bp
  FROM mass, mn
), kept AS (
  SELECT t.source, t.tokens, r.rate_bp
  FROM toks t JOIN thr r USING (source)
  WHERE ("""
    + _HEX12.format(h="md5('temp:' || CAST(doc_id AS VARCHAR))")
    + """ % 10000) < r.rate_bp
)
SELECT source, CAST(MIN(rate_bp) AS BIGINT) AS rate_bp,
  CAST(COUNT(*) AS BIGINT) AS n_kept,
  CAST(SUM(tokens) AS BIGINT) AS tokens_kept
FROM kept GROUP BY 1 ORDER BY 1
"""
)


def q_mixture_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ASSEMBLY stage a training run actually executes,
    composed end-to-end in one lazy plan: per-source token-budget cap
    (greedy prefix of the deterministic shuffle order over the
    two-pass running total) → per-domain mixture sampling (map-side
    hash filter, zero shuffle) → greedy sequence packing (ONE
    (source, shard)-keyed window shuffle) → the per-(source, shard)
    manifest a dataloader plans epochs from. Same one-shuffle-per-
    stage discipline as curation_pipeline: the final aggregate reuses
    the packing window's (source, shard) partitioning."""
    from data_pipeline_ine_spark.operators.packing import pack_sequences
    from data_pipeline_ine_spark.operators.sampling import (
        token_budget_cap,
        weighted_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.withColumn(
        "_tok",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).cast("bigint"),
    )
    capped = token_budget_cap(toks, 800, "_tok")
    mixed = weighted_mixture(
        capped, _MIX_RATES, default_rate=_MIX_DEFAULT, buckets=_MIX_BUCKETS
    )
    packed = pack_sequences(
        mixed, F.col("tokens"), budget=256, n_shards=4
    )
    return (
        packed.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("pack_id").cast("bigint").alias("n_packs"),
            F.sum("tokens").cast("bigint").alias("tokens_sum"),
        )
        .orderBy("source", "shard")
    )


ORACLE_MIXTURE_PIPELINE = (
    """
WITH toks AS (
  SELECT source, doc_id,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      AS tokens,
    """
    + _HEX12.format(h="md5('budget:' || CAST(doc_id AS VARCHAR))")
    + """ AS h
  FROM documents
), run AS (
  SELECT source, doc_id, tokens,
    SUM(tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM toks
), capped AS (
  SELECT source, doc_id, tokens FROM run WHERE cum_tokens <= 800
), mixed AS (
  SELECT * FROM capped
  WHERE ("""
    + _HEX12.format(h="md5('mix:' || CAST(doc_id AS VARCHAR))")
    + """ % 10000) <
    CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 5000
                WHEN 'src2' THEN 6500 ELSE 8000 END
), sharded AS (
  SELECT source, doc_id, tokens,
    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         % 4 AS INTEGER) AS shard
  FROM mixed
), packed AS (
  SELECT source, shard, tokens,
    CAST(FLOOR((SUM(tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - 1) / 256.0)
         AS BIGINT) AS pack_id
  FROM sharded
)
SELECT source, shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
  CAST(SUM(tokens) AS BIGINT) AS tokens_sum
FROM packed GROUP BY 1, 2 ORDER BY 1, 2
"""
)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-3-per-source deterministic sample via the two-level hash
    tournament (shard ranks first, then per-stratum ranks over ≤ shards·k
    survivors) — no stratum ever sorts through a single task."""
    from data_pipeline_ine_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, 3).select("doc_id", "source", "sample_rank")


ORACLE_STRATIFIED = """
WITH h AS (
  SELECT doc_id, source,
         md5('strat:' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
), r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hx, doc_id)
           AS sample_rank
  FROM h
)
SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 3
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical repetition / diversity per document: type-token ratio and
    distinct-bigram ratio (Gopher-style repetition filters)."""
    from data_pipeline_ine_spark.operators.text import repetition_stats

    return repetition_stats(_docs_parallel(spark, sf_dir))


ORACLE_REPETITION = """
WITH t AS (
  SELECT doc_id, source,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), b AS (
  SELECT doc_id, source, toks,
    list_transform(range(1, GREATEST(len(toks) - 1, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 1), ' '))
      AS bigrams
  FROM t
)
SELECT doc_id, source,
  len(toks) AS n_words,
  len(list_distinct(toks)) AS n_distinct_words,
  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
        / GREATEST(len(toks), 1), 6) AS type_token_ratio,
  ROUND(CAST(len(list_distinct(bigrams)) AS DOUBLE)
        / GREATEST(len(toks) - 1, 1), 6) AS distinct_bigram_ratio
FROM b
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: inject a synthetic email + long account number per
    document (the corpus itself is clean), then count hits and verify the
    redacted lengths per source. Aggregating ``redacted_len`` makes the
    check sensitive to every single replacement byte."""
    from data_pipeline_ine_spark.operators.text import pii_stats

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".example.com ref "),
            (F.lit(1_000_000) + F.col("doc_id") * 37).cast("string"),
        ),
    )
    return (
        pii_stats(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("bigint").alias("total_emails"),
            F.sum("n_long_numbers").cast("bigint").alias("total_long_numbers"),
            F.sum("redacted_len").cast("bigint").alias("total_redacted_len"),
        )
        .orderBy("source")
    )


ORACLE_PII = r"""
WITH aug AS (
  SELECT source,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@mail' || CAST(doc_id % 7 AS VARCHAR)
         || '.example.com ref ' || CAST(1000000 + doc_id * 37 AS VARCHAR) AS text
  FROM documents
), s AS (
  SELECT source,
    len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
    len(regexp_extract_all(
        regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '[0-9]{7,}')) AS n_long_numbers,
    length(regexp_replace(
        regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '[0-9]{7,}', '<NUM>', 'g')) AS redacted_len
  FROM aug
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
  CAST(SUM(n_long_numbers) AS BIGINT) AS total_long_numbers,
  CAST(SUM(redacted_len) AS BIGINT) AS total_redacted_len
FROM s GROUP BY 1 ORDER BY 1
"""


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct word-3-gram overlap of every
    corpus doc against the held-out 'benchmark' slice (doc_id % 50 == 0).
    Benchmark shingle set broadcasts; corpus side is one explode + one
    groupBy(doc_id) — never quadratic."""
    from data_pipeline_ine_spark.operators.text import contamination_overlap

    docs = _docs_parallel(spark, sf_dir)
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
    return contamination_overlap(corpus, bench)


ORACLE_CONTAMINATION = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS tokens FROM documents
), s AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, GREATEST(len(tokens) - 2, 1) + 1),
      i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS shingles
  FROM t
), bench AS (
  SELECT DISTINCT unnest(shingles) AS sh FROM s WHERE doc_id % 50 = 0
), corp AS (
  SELECT doc_id, unnest(shingles) AS sh FROM s WHERE doc_id % 50 <> 0
), n AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY 1
), shared AS (
  SELECT c.doc_id, COUNT(*) AS n_shared
  FROM corp c JOIN bench b USING (sh) GROUP BY 1
)
SELECT n.doc_id, n_shared, n_shingles,
  ROUND(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS contamination
FROM n JOIN shared ON n.doc_id = shared.doc_id
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 4×16-bit band blocking (one shuffle on
    the band key, never all-pairs), exact Hamming verify ≤ 8 via
    bit_count(xor) on the band ints."""
    from data_pipeline_ine_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_docs_parallel(spark, sf_dir), max_hamming=8)


_SIMHASH_BAND_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(4), _j -> CAST(strpos('0123456789abcdef', "
    "substr(simhash, CAST(b * 4 + _j AS INT) + 1, 1)) - 1 AS BIGINT))), "
    "(_a, _c) -> _a * 16 + _c)"
)

ORACLE_SIMHASH_PAIRS = (
    _SIMHASH_CTE
    + """
, bv AS (
  SELECT doc_id,
    list_transform(range(4), b -> """
    + _SIMHASH_BAND_FOLD.replace("b * 4", "CAST(b AS INT) * 4")
    + """) AS bands
  FROM sim
), exploded AS (
  SELECT doc_id, bands, g.band_idx, bands[g.band_idx + 1] AS band_val
  FROM bv, generate_series(0, 3) AS g(band_idx)
), pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.bands AS a_bands, b.bands AS b_bands
  FROM exploded a JOIN exploded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
  CAST(list_sum(list_transform(range(4),
    i -> bit_count(xor(a_bands[CAST(i AS INT) + 1],
                       b_bands[CAST(i AS INT) + 1])))) AS INT) AS hamming
FROM pairs
WHERE list_sum(list_transform(range(4),
    i -> bit_count(xor(a_bands[CAST(i AS INT) + 1],
                       b_bands[CAST(i AS INT) + 1])))) <= 8
"""
)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators composed the way a real pretraining-data pipeline runs
    them, end-to-end in ONE lazy plan: English-only (language-ID) →
    quality gate (≥ 0.45) → exact near-dedup (min doc per content
    fingerprint) → per-domain mixture sampling → per-source doc count and
    BPE token budget. ONE corpus-scale shuffle end-to-end: the dedup
    window's fingerprint exchange (WindowGroupLimit pre-reduces each map
    partition to rank-1 candidates before the wire); the aggregate and
    sort exchanges after it carry only per-source rows."""
    from data_pipeline_ine_spark.operators.sampling import weighted_mixture
    from data_pipeline_ine_spark.operators.text import (
        bpe_token_count,
        fingerprint,
        language_id,
        quality_score,
    )

    docs = _docs_parallel(spark, sf_dir)
    gated = docs.filter(language_id("text") == "en").filter(
        quality_score("text") >= 0.45
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("fp", fingerprint("text"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("fp", "_rn")
    )
    sampled = weighted_mixture(
        deduped, _MIX_RATES, default_rate=_MIX_DEFAULT, buckets=_MIX_BUCKETS
    )
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(bpe_token_count("text")).cast("bigint").alias("token_budget"),
        )
        .orderBy("source")
    )


ORACLE_CURATION = (
    r"""
WITH lang AS (
  SELECT doc_id, source, text,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS s_en,
    length(regexp_extract_all(lower(text), '\b(el|la|los|las|que|y|en|un|una)\b')) AS s_es,
    length(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht|ist|ein|zu)\b')) AS s_de,
    length(regexp_extract_all(lower(text), '\b(le|les|des|et|un|une|est|dans)\b')) AS s_fr,
    length(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
  FROM documents
), en_docs AS (
  SELECT doc_id, source, text FROM lang
  WHERE s_en > 0 AND s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh)
), q AS (
  SELECT doc_id, source, text,
    length(regexp_extract_all(text, '\S+')) AS n_tokens,
    length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS n_stop
  FROM en_docs
), gated AS (
  SELECT doc_id, source, text FROM q
  WHERE ROUND(0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
      + 0.3 * (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n_tokens, 1), 1.0))
      + 0.3 * LEAST(CAST(n_stop AS DOUBLE) * 3.0 / GREATEST(n_tokens, 1), 1.0),
      6) >= 0.45
), deduped AS (
  SELECT doc_id, source, text,
    ROW_NUMBER() OVER (
      PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM gated
), sampled AS (
  SELECT doc_id, source, text FROM deduped
  WHERE rn = 1 AND ("""
    + _HEX12.format(h="md5('mix:' || CAST(doc_id AS VARCHAR))")
    + r""" % 10000) <
    CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 5000
                WHEN 'src2' THEN 6500 ELSE 8000 END
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(length(regexp_extract_all(text,
      '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')))
       AS BIGINT) AS token_budget
FROM sampled GROUP BY 1 ORDER BY 1
"""
)


def q_curation_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern pretraining dedup recipe composed in one lazy
    plan — exact -> MinHash -> SemDeDup — over the gated corpus:
    English-only + quality gate (curation_pipeline's thresholds), exact
    dedup (min doc per content fingerprint, one window shuffle),
    near-dup filter (banded-LSH candidates, exact shingle Jaccard >=
    1/2, earlier-id-wins — operators/dedup.py::near_dup_filter_self),
    then SemDeDup over the survivors' embeddings (operators/similarity
    .py::semantic_dedup) with ONE quantizer trained on the full corpus
    (memoized) and injected — the paper's train-on-sample discipline.
    Every stage shuffles on its own key (fp window / band join /
    cluster self-join); nothing is corpus-squared. Returns the kept
    docs with their semantic cluster."""
    from data_pipeline_ine_spark.functions.lineage import cut
    from data_pipeline_ine_spark.operators.dedup import (
        near_dup_filter_self,
    )
    from data_pipeline_ine_spark.operators.similarity import (
        kmeans_fit,
        semantic_dedup,
    )
    from data_pipeline_ine_spark.operators.text import (
        fingerprint,
        language_id,
        quality_score,
    )

    docs = _docs_parallel(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    gated = docs.filter(language_id("text") == "en").filter(
        quality_score("text") >= 0.45
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    # the two lineage cuts below are the curation_v3 discipline (r12):
    # s1 is consumed by near_dup_filter_self TWICE (the shingle
    # checkpoint and the left-anti corpus side) and s2 by two more
    # downstream joins — left lazy, the language/quality gate subtree
    # re-executes once per reference; each cut materializes inside the
    # query, nothing carries across runs
    s1 = cut(
        gated.withColumn("fp", fingerprint("text"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("fp", "_rn")
    )
    s2 = cut(near_dup_filter_self(s1))
    cents = kmeans_fit(
        emb, k=8, iters=2,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )
    vecs = s2.select("doc_id").join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
    )
    kept = semantic_dedup(
        vecs, tau=0.3, id_col="doc_id", centroids=cents
    )
    return (
        kept.join(s2.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("cluster").cast("int").alias("cluster"),
        )
        .orderBy("doc_id")
    )


# the composed oracle: curation_pipeline's gates, the exact-dedup
# window, _MINHASH_CTE's banded candidates restricted to survivors with
# the integer cross-multiplied Jaccard drop, then the unrolled Lloyd
# chain + within-cluster earlier-id drop of ORACLE_SEMANTIC_DEDUP.
ORACLE_CURATION_SEMANTIC = _MINHASH_CTE + f"""
, lang AS (
  SELECT doc_id, source, text,
    length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it)\\b')) AS s_en,
    length(regexp_extract_all(lower(text), '\\b(el|la|los|las|que|y|en|un|una)\\b')) AS s_es,
    length(regexp_extract_all(lower(text), '\\b(der|die|das|und|nicht|ist|ein|zu)\\b')) AS s_de,
    length(regexp_extract_all(lower(text), '\\b(le|les|des|et|un|une|est|dans)\\b')) AS s_fr,
    length(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
  FROM documents
), en_docs AS (
  SELECT doc_id, source, text FROM lang
  WHERE s_en > 0 AND s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh)
), qg AS (
  SELECT doc_id, source, text,
    length(regexp_extract_all(text, '\\S+')) AS n_tokens,
    length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
    length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it)\\b')) AS n_stop
  FROM en_docs
), gated AS (
  SELECT doc_id, source, text FROM qg
  WHERE ROUND(0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
      + 0.3 * (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n_tokens, 1), 1.0))
      + 0.3 * LEAST(CAST(n_stop AS DOUBLE) * 3.0 / GREATEST(n_tokens, 1), 1.0),
      6) >= 0.45
), ex AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (
      PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM gated
), s1 AS (
  SELECT doc_id, source FROM ex WHERE rn = 1
), be AS (
  SELECT b.doc_id, UNNEST(b.bands) AS band_hash
  FROM banded b JOIN s1 USING (doc_id)
), msh AS (
  SELECT b.doc_id, list_distinct(b.shingles) AS sh
  FROM banded b JOIN s1 USING (doc_id)
), mpairs AS (
  SELECT DISTINCT a.doc_id AS a_id, x.doc_id AS b_id
  FROM be a JOIN be x ON a.band_hash = x.band_hash
   AND a.doc_id < x.doc_id
), mdup AS (
  SELECT DISTINCT p.b_id AS doc_id
  FROM mpairs p
  JOIN msh xa ON xa.doc_id = p.a_id
  JOIN msh xb ON xb.doc_id = p.b_id
  WHERE len(list_intersect(xa.sh, xb.sh)) * 2
        >= len(list_distinct(list_concat(xa.sh, xb.sh)))
), s2 AS (
  SELECT doc_id, source FROM s1
  WHERE doc_id NOT IN (SELECT doc_id FROM mdup)
), e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')}),
asg AS (
  SELECT a3.vec_id AS doc_id, a3.v, a3.cid
  FROM a3 JOIN s2 ON s2.doc_id = a3.vec_id
  WHERE a3.rn = 1
), drp AS (
  SELECT DISTINCT a.doc_id
  FROM asg a JOIN asg b ON b.cid = a.cid AND b.doc_id < a.doc_id
  WHERE ROUND(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
)
SELECT s2.doc_id, s2.source, CAST(asg.cid AS INT) AS cluster
FROM s2 JOIN asg USING (doc_id)
WHERE s2.doc_id NOT IN (SELECT doc_id FROM drp)
ORDER BY doc_id
"""



def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by rational-idf tf-idf
    (integer-derived doubles only — no libm log, so the ranking is
    engine-invariant)."""
    from data_pipeline_ine_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
    AS term
  FROM documents
), tf AS (
  SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), docfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS docfreq FROM toks GROUP BY 1
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT source, term,
    ROUND(tf * (CAST(n_docs + 1 AS DOUBLE) / (docfreq + 1)), 6) AS score
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT source, term, score,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term)
      AS rank
  FROM scored
)
SELECT source, term, score, rank FROM ranked WHERE rank <= 5
"""


def q_pyds_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``) under
    the correctness gate: the ``ine_observations`` source plans one input
    partition per dataset, prunes partitions via ``pushFilters``, and
    generates md5-deterministic rows on executors
    (sources/pydatasource.py). The oracle re-derives every row from the
    same hash arithmetic — proving the source's content, not just its
    plumbing. The dataset filter exercises the pushdown path."""
    from data_pipeline_ine_spark.sources.pydatasource import register_ine_source

    register_ine_source(spark)
    df = (
        spark.read.format("ine_observations")
        .option("rows_per_dataset", "200")
        .load()
    )
    return df.filter(F.col("dataset") != "nieve")


def _oracle_pyds() -> str:
    def hex2int(expr: str, n: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(range(%d), _i -> CAST(strpos('0123456789abcdef', "
            "substr(%s, CAST(_i AS INT) + 1, 1)) - 1 AS BIGINT))), "
            "(_a, _c) -> _a * 16 + _c)" % (n, expr)
        )

    return f"""
WITH g AS (
  SELECT d.dataset, s.i
  FROM (VALUES ('temperatura'), ('precipitacion'), ('caudal')) d(dataset),
       generate_series(0, 199) s(i)
), h AS (
  SELECT dataset, md5(dataset || ':' || CAST(i AS VARCHAR)) AS hh FROM g
)
SELECT dataset,
  CAST(202401 + {hex2int("hh", 2)} % 12 AS INT) AS period_code,
  'ST' || lpad(CAST({hex2int("substr(hh, 3, 4)", 4)} % 97 AS VARCHAR), 3, '0')
    AS station_code,
  ROUND(({hex2int("substr(hh, 7, 6)", 6)} % 10000) / 100.0, 2) AS value
FROM h
"""


ORACLE_PYDS = _oracle_pyds()


def q_v_estaciones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's third output family: the hardcoded 98-station geo
    catalog published as a view (reference ``steps/step5_create_views.py:
    503-539``). A driver-side literal dim — broadcast-join shape at any
    scale. ``sf_dir`` is unused: the catalog is scale-independent."""
    from data_pipeline_ine_spark.sources.station_catalog import (
        load_station_catalog,
    )

    return load_station_catalog(spark)


def _oracle_estaciones() -> str:
    from data_pipeline_ine_spark.sources.station_catalog import (
        station_values_sql,
    )

    return station_values_sql()


def q_nearest_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbor over the reference's 98-station geo catalog
    (``dictionary/estaciones_aire_data.json`` → ``v_estaciones``,
    step5_create_views.py:503-539): each station's closest other station
    by squared-degree distance — multiplications only, no trig, so both
    engines compute bit-identical doubles and the tie-broken ranking is
    engine-exact.

    The catalog is a 98-row dimension, so all-pairs + a per-station
    row_number is the right plan here (one broadcast, one tiny window).
    At corpus scale the same query becomes a grid-bucketed join: Morton
    keys over quantized (lat, lon) (operators/layout.py) as the block
    key, neighbors searched in the 3×3 adjacent cells — the knn_within_
    label blocking pattern with a spatial key.
    """
    from data_pipeline_ine_spark.sources.station_catalog import (
        load_station_catalog,
    )

    cat = load_station_catalog(spark).select("nombre", "latitud", "longitud")
    a = cat.select(
        F.col("nombre").alias("nombre"),
        F.col("latitud").alias("a_lat"),
        F.col("longitud").alias("a_lon"),
    )
    b = cat.select(
        F.col("nombre").alias("nearest"),
        F.col("latitud").alias("b_lat"),
        F.col("longitud").alias("b_lon"),
    )
    d2 = (F.col("a_lat") - F.col("b_lat")) * (
        F.col("a_lat") - F.col("b_lat")
    ) + (F.col("a_lon") - F.col("b_lon")) * (F.col("a_lon") - F.col("b_lon"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("nombre") != F.col("nearest"))
        .select("nombre", "nearest", d2.alias("d2"))
    )
    w = Window.partitionBy("nombre").orderBy("d2", "nearest")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("nombre", "nearest", F.round("d2", 9).alias("dist2"))
    )


def _oracle_nearest_station() -> str:
    from data_pipeline_ine_spark.sources.station_catalog import (
        station_values_sql,
    )

    return f"""
WITH s AS ({station_values_sql()}),
p AS (
  SELECT a.nombre AS nombre, b.nombre AS nearest,
    (a.latitud - b.latitud) * (a.latitud - b.latitud)
      + (a.longitud - b.longitud) * (a.longitud - b.longitud) AS d2
  FROM s a JOIN s b ON a.nombre <> b.nombre
),
r AS (
  SELECT nombre, nearest, d2,
    ROW_NUMBER() OVER (PARTITION BY nombre ORDER BY d2, nearest) AS rn
  FROM p
)
SELECT nombre, nearest, ROUND(d2, 9) AS dist2 FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Ranking-function suite, CUBE, unpivot, deterministic corpus split,
# salted skew join (round 2 breadth batch)
# ---------------------------------------------------------------------------
def q_user_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ranking-function suite (rank / dense_rank / percent_rank /
    cume_dist / ntile) over per-user purchase totals, one window pass per
    frame. The heavy groupBy reduces the fact table first; the windows then
    sort only one row per (event_type, user).

    Tie handling is engine-portable by construction: rank/dense_rank/
    percent_rank/cume_dist order by a coarse value bucket (real ties, but
    those functions depend only on key values), while ntile — whose output
    DOES depend on row order within ties — gets a total order."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        _dec_sum(F.col("value"), "total")
    )
    per_user = per_user.select(
        "event_type",
        "user_id",
        F.floor(F.col("total") / 100).alias("value_bucket"),
    )
    w_ties = Window.partitionBy("event_type").orderBy("value_bucket")
    w_total = Window.partitionBy("event_type").orderBy("value_bucket", "user_id")
    return per_user.select(
        "event_type",
        "user_id",
        "value_bucket",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("dense_rnk"),
        F.round(F.percent_rank().over(w_ties), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_ties), 6).alias("cume"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


ORACLE_USER_RANKS = """
WITH per_user AS (
  SELECT event_type, user_id,
    FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / 100)
      AS value_bucket
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, CAST(value_bucket AS BIGINT) AS value_bucket,
  CAST(RANK() OVER w AS BIGINT) AS rnk,
  CAST(DENSE_RANK() OVER w AS BIGINT) AS dense_rnk,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 6) AS cume,
  CAST(NTILE(4) OVER (PARTITION BY event_type
                      ORDER BY value_bucket, user_id) AS INT) AS quartile
FROM per_user
WINDOW w AS (PARTITION BY event_type ORDER BY value_bucket)
"""


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderpriority, orderstatus) with grouping_id — all four
    grouping sets from one pass. Same two-level plan as rollup_revenue: the
    exact groupBy shuffles the fact table once, then Expand multiplies only
    the handful of group rows."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    return base.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().alias("gid"),
        F.round(F.sum("total").cast("double"), 2).alias("total_price"),
        F.sum("n").alias("n_orders"),
    )


ORACLE_CUBE = """
SELECT o_orderpriority, o_orderstatus,
  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT)
    AS gid,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
    AS total_price,
  COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_melt_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt): four lineitem measures into (measure,
    value) rows — the inverse of the consolidation pivot. Narrow, shuffle-
    free: Expand emits 4 rows per input row inside the scan stage, and the
    modulo filter is pushed below it."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    wide = l.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
        F.col("l_tax").cast("double").alias("tax"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount", "tax"],
        "measure",
        "value",
    )


ORACLE_MELT = """
WITH wide AS (
  SELECT l_orderkey, l_linenumber,
    CAST(l_quantity AS DOUBLE) AS quantity,
    CAST(l_extendedprice AS DOUBLE) AS extendedprice,
    CAST(l_discount AS DOUBLE) AS discount,
    CAST(l_tax AS DOUBLE) AS tax
  FROM lineitem WHERE l_orderkey % 100 = 0
)
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, quantity AS value
  FROM wide
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', extendedprice FROM wide
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', discount FROM wide
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', tax FROM wide
"""


def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted-md5
    bucket — the standard reproducible corpus split (no RNG state, stable
    under re-partitioning and re-runs). Returns per-(source, split) counts;
    the assignment itself is a narrow map."""
    from data_pipeline_ine_spark.operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    return (
        split_assign(docs, "doc_id")
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


ORACLE_SPLIT = (
    """
WITH assigned AS (
  SELECT source,
    CASE WHEN bucket < 80 THEN 'train'
         WHEN bucket < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM (
    SELECT source, ("""
    + _HEX12.format(h="md5('split:' || CAST(doc_id AS VARCHAR))")
    + """ % 100) AS bucket
    FROM documents
  )
)
SELECT source, split, COUNT(*) AS n_docs
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
"""
)


def q_salted_join_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defused dimension join: events.event_type has ~5 distinct
    values, so a shuffle join would put a fifth of the corpus in one task.
    salted_join splits each hot key across n_salts sub-partitions (dim
    replicated per salt — tiny; fact salted by a deterministic row hash),
    then the aggregate re-merges. Result is bit-identical to the plain
    join, which is exactly what the oracle checks."""
    from data_pipeline_ine_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_label", F.upper(F.col("event_type")))
    )
    joined = salted_join(ev, dim, "event_type", n_salts=8)
    return (
        joined.groupBy("type_label")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "total_value"),
        )
        .orderBy("type_label")
    )


ORACLE_SALTED = """
WITH dim AS (
  SELECT DISTINCT event_type, UPPER(event_type) AS type_label FROM events
)
SELECT d.type_label, COUNT(*) AS n_events,
  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY 1 ORDER BY 1
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every doc split into 200-char chunks with
    20-char overlap — narrow explode, one row per chunk, no shuffle."""
    from data_pipeline_ine_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_chars=200, overlap=20)


ORACLE_CHUNKS = """
WITH c AS (
  SELECT doc_id, source, text,
    CAST(CEIL(GREATEST(length(text) - 20, 1) / 180.0) AS BIGINT) AS n
  FROM documents
)
SELECT c.doc_id, c.source, CAST(u.i AS INT) AS chunk_id,
  substr(c.text, CAST(u.i AS BIGINT) * 180 + 1, 200) AS chunk_text,
  CAST(length(substr(c.text, CAST(u.i AS BIGINT) * 180 + 1, 200)) AS INT)
    AS chunk_len
FROM c, UNNEST(range(c.n)) AS u(i)
"""


def q_trailing_7d_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user value sum: a RANGE-frame window over event
    time (not ROWS — peers at the same instant aggregate together, and
    gaps in the series don't shrink the horizon). Spark's rangeBetween
    needs a numeric ordering key, so event time becomes NTZ-stable epoch
    seconds; one shuffle on user_id.

    The window's time resolution is SECONDS on both sides — the oracle
    truncates its ordering key to match, because a sub-second disagreement
    about the 7-day boundary flips a peer in or out of the frame (caught
    by the sf0.1 full sweep at 100k events; sf0.01 never hit the edge)."""
    from data_pipeline_ine_spark.operators.joins import _ntz_epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        "user_id",
        "ts",
        _ntz_epoch_seconds(F.col("ts")).alias("_sec"),
        F.col("value").cast("decimal(18,2)").alias("_val"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_sec")
        .rangeBetween(-7 * 86400, 0)
    )
    return staged.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("_val").over(w).cast("double"), 2).alias("trailing_7d"),
    )


ORACLE_TRAILING = """
SELECT event_id, user_id, ts,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
    PARTITION BY user_id ORDER BY date_trunc('second', ts)
    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
  ) AS DOUBLE), 2) AS trailing_7d
FROM events
"""


def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse per-user daily purchase series densified to a full calendar
    grid, missing days filled by last-observation-carried-forward
    (``operators/timeseries.py``). The filter makes the series genuinely
    sparse (~1 obs per 7 days per user), so most output rows are
    scaffold-generated: NULL daily_value, LOCF-filled filled_value."""
    from data_pipeline_ine_spark.operators.timeseries import gap_fill, locf

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 10))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("daily_value")
        )
    )
    dense = gap_fill(daily, "user_id", "day")
    return locf(dense, "user_id", "day", "daily_value", "filled_value").select(
        "user_id", "day", "daily_value", "filled_value"
    )


ORACLE_GAP_FILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS daily_value
  FROM events
  WHERE event_type = 'purchase' AND value > 10
  GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY 1
), scaffold AS (
  SELECT user_id, CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
)
SELECT s.user_id, s.day, d.daily_value,
  last_value(d.daily_value IGNORE NULLS) OVER (
    PARTITION BY s.user_id ORDER BY s.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS filled_value
FROM scaffold s LEFT JOIN daily d USING (user_id, day)
"""


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score standardization, keeping the |z| >= 1.6 tail
    (``operators/features.py::group_zscore``): decimal-exact moments per
    group broadcast back over the corpus — no corpus-wide window."""
    from data_pipeline_ine_spark.operators.features import group_zscore

    ev = load_table(spark, sf_dir, "events")
    z = group_zscore(ev, "event_type", "value")
    return z.filter(F.abs(F.col("zscore")) >= 1.6).select(
        "event_id", "event_type", "value", "zscore"
    )


ORACLE_ZSCORE = """
WITH m AS (
  SELECT event_type,
    SUM(CAST(value AS DECIMAL(18,2))) AS s,
    SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        AS DECIMAL(38,4))) AS ss,
    COUNT(value) AS n
  FROM events GROUP BY 1
), st AS (
  SELECT event_type,
    CAST(s AS DOUBLE) / n AS mean,
    SQRT((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
         / (n - 1)) AS std
  FROM m
)
SELECT e.event_id, e.event_type, e.value,
  ROUND((e.value - st.mean) / (CASE WHEN st.std > 0 THEN st.std END), 4)
    AS zscore
FROM events e JOIN st USING (event_type)
WHERE ABS(ROUND((e.value - st.mean) / (CASE WHEN st.std > 0 THEN st.std END), 4))
      >= 1.6
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equal-width histogram of event values
    (``operators/features.py::fixed_histogram``): one scalar bounds
    aggregate broadcast back, then a narrow binning pass + O(bins) agg."""
    from data_pipeline_ine_spark.operators.features import fixed_histogram

    ev = load_table(spark, sf_dir, "events")
    return fixed_histogram(ev, "value", n_bins=20)


ORACLE_HISTOGRAM = """
WITH b AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
), binned AS (
  SELECT CAST(LEAST(FLOOR((e.value - b.lo) / ((b.hi - b.lo) / 20)), 19) AS INT)
           AS bin_idx,
         b.lo AS lo, (b.hi - b.lo) / 20 AS w
  FROM events e CROSS JOIN b
)
SELECT bin_idx,
  ROUND(lo + bin_idx * w, 6) AS bin_lo,
  ROUND(lo + (bin_idx + 1) * w, 6) AS bin_hi,
  COUNT(*) AS n
FROM binned GROUP BY bin_idx, lo, w
"""


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile discretization of event values
    (``operators/features.py::quantile_bins``; exact cutpoints here for
    the oracle, ``percentile_approx``/KLL at 100 TB), rolled up to
    per-bin row counts and value mass."""
    from data_pipeline_ine_spark.operators.features import quantile_bins

    ev = load_table(spark, sf_dir, "events")
    binned = quantile_bins(ev, "value")
    return binned.groupBy("q_bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("value_mass"),
    )


ORACLE_QUANTILE_BINS = """
WITH c AS (
  SELECT quantile_cont(value, [0.25, 0.5, 0.75]) AS cuts FROM events
)
SELECT CASE WHEN value <= cuts[1] THEN 0
            WHEN value <= cuts[2] THEN 1
            WHEN value <= cuts[3] THEN 2
            ELSE 3 END AS q_bin,
  COUNT(*) AS n_rows,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_mass
FROM events CROSS JOIN c
GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed added/removed/changed diff of two order snapshots
    (``operators/diff.py``): the "new" snapshot deterministically reprices
    custkey%50==7, drops %50==8, and lands %50==9 under fresh keys. Each
    side narrows to (key, md5 fingerprint) before the full-outer join, so
    the shuffle is key+32B wide regardless of table width."""
    from data_pipeline_ine_spark.operators.diff import snapshot_diff

    old = load_table(spark, sf_dir, "orders")
    mod = F.col("o_custkey") % 50
    new = old.filter(mod != 8).withColumn(
        "o_totalprice",
        F.when(mod == 7, F.col("o_totalprice") * 1.05).otherwise(
            F.col("o_totalprice")
        ),
    ).unionByName(
        old.filter(mod == 9).withColumn(
            "o_orderkey", F.col("o_orderkey") + 10_000_000
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"])


ORACLE_SNAPSHOT_DIFF = """
WITH new_o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
    CASE WHEN o_custkey % 50 = 7 THEN o_totalprice * 1.05
         ELSE o_totalprice END AS o_totalprice,
    o_orderdate, o_orderpriority
  FROM orders WHERE o_custkey % 50 <> 8
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
    o_orderdate, o_orderpriority
  FROM orders WHERE o_custkey % 50 = 9
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
  CASE WHEN o.o_orderkey IS NULL THEN 'added'
       WHEN n.o_orderkey IS NULL THEN 'removed'
       ELSE 'changed' END AS change_type
FROM orders o FULL JOIN new_o n USING (o_orderkey)
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR (o.o_custkey IS DISTINCT FROM n.o_custkey
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
       OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
"""


def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 documents drawn without replacement with inclusion odds
    proportional to length (``operators/sampling.py::weighted_sample``) —
    exponential sort keys over a hash-derived uniform, so the "random"
    draw is reproducible by any engine. Global smallest-k, no corpus
    sort."""
    from data_pipeline_ine_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_sample(docs, 100, "n_chars")
    return out.select(
        "doc_id", "source", "n_chars", F.round("priority", 8).alias("priority")
    )


ORACLE_WEIGHTED_SAMPLE = (
    """
SELECT doc_id, source, n_chars,
  ROUND(-ln(("""
    + _HEX12.format(h="md5('wsample:' || CAST(doc_id AS VARCHAR))")
    + """ + 0.5) / 281474976710656.0) / CAST(n_chars AS DOUBLE), 8)
    AS priority
FROM documents
WHERE CAST(n_chars AS DOUBLE) > 0
ORDER BY -ln(("""
    + _HEX12.format(h="md5('wsample:' || CAST(doc_id AS VARCHAR))")
    + """ + 0.5) / 281474976710656.0) / CAST(n_chars AS DOUBLE)
LIMIT 100
"""
)


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part names within edit distance 2
    (``operators/fuzzy.py``): the quadratic stage runs on the distinct-name
    dictionary (vocabulary-sized), blocked on the last token with a
    length-difference prefilter before the Levenshtein verify."""
    from data_pipeline_ine_spark.operators.fuzzy import fuzzy_match_pairs

    part = load_table(spark, sf_dir, "part")
    return fuzzy_match_pairs(part, "p_name", max_dist=2)


ORACLE_FUZZY = """
WITH dic AS (
  SELECT DISTINCT p_name AS v FROM part
), b AS (
  SELECT v, split_part(v, ' ', -1) AS blk, length(v) AS ln FROM dic
)
SELECT a.v AS a_value, c.v AS b_value, levenshtein(a.v, c.v) AS distance
FROM b a JOIN b c
  ON a.blk = c.blk AND a.v < c.v AND abs(a.ln - c.ln) <= 2
WHERE levenshtein(a.v, c.v) <= 2
"""


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise KL divergence between per-source unigram distributions
    (operators/text.py::source_kl_divergence) — add-one smoothing over
    the joint vocabulary, contributions snapped to 12-decimal fixed point
    and decimal-accumulated (the unigram_logloss determinism recipe)."""
    from data_pipeline_ine_spark.operators.text import source_kl_divergence

    return source_kl_divergence(load_table(spark, sf_dir, "documents"))


ORACLE_SOURCE_DIVERGENCE = r"""
WITH toks AS (
  SELECT source AS src,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), counts AS (
  SELECT src, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
), totals AS (
  SELECT src, SUM(c) AS t FROM counts GROUP BY 1
), vocab AS (
  SELECT DISTINCT term FROM counts
), vsize AS (
  SELECT COUNT(*) AS v FROM vocab
), grid AS (
  SELECT tt.src, vb.term,
    CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (tt.t + z.v) AS p
  FROM totals tt
  CROSS JOIN vocab vb
  CROSS JOIN vsize z
  LEFT JOIN counts c ON c.src = tt.src AND c.term = vb.term
), pairs AS (
  SELECT a.src AS source_a, b.src AS source_b, a.p AS pa, b.p AS pb
  FROM grid a JOIN grid b ON a.term = b.term AND a.src < b.src
)
SELECT source_a, source_b,
  ROUND(CAST(SUM(CAST(FLOOR((pa * ln(pa / pb)) * 1e12 + 0.5)
                 AS DECIMAL(38,0))) AS DOUBLE) / 1e12, 6) AS kl_ab,
  ROUND(CAST(SUM(CAST(FLOOR((pb * ln(pb / pa)) * 1e12 + 0.5)
                 AS DECIMAL(38,0))) AS DOUBLE) / 1e12, 6) AS kl_ba
FROM pairs GROUP BY 1, 2
"""


def q_unigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scored under a corpus-trained add-one unigram LM
    (``operators/text.py::unigram_logloss``) — the LM-based quality gate of
    a pretraining curation stack, self-contained in one job.

    Driver hash surface is INTEGER-ONLY (doc_id, n_tokens, the exact
    DECIMAL(38,0)-accumulated fixed-point sum cast to BIGINT): r02/r03
    both recorded a hash_match=false that three judge re-runs could not
    reproduce bit-wise, so the final rounded double is excluded from the
    contract result entirely (VERDICT r3 task #3). The human-facing
    ``avg_neg_logp`` remains on the operator's own output."""
    from data_pipeline_ine_spark.operators.text import unigram_logloss

    docs = _docs_parallel(spark, sf_dir)
    return unigram_logloss(docs).select("doc_id", "n_tokens", "sum_neg_logp_e12")


ORACLE_UNIGRAM = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY 1
), totals AS (
  SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM vocab
), scored AS (
  -- per-term -ln p snapped to exact 12-decimal fixed point before the sum
  -- (IEEE mul/add/floor only), accumulated order-invariantly in exact
  -- integer arithmetic, mirroring operators/text.py::unigram_logloss.
  -- The contract surface is integer-only: no float survives to the hash.
  SELECT tf.doc_id, CAST(SUM(tf.cnt) AS BIGINT) AS n_tokens,
    CAST(SUM(tf.cnt * CAST(FLOOR(
              -ln(CAST(vocab.c + 1 AS DOUBLE)
                  / (totals.n_total + totals.v_size)) * 1e12 + 0.5
            ) AS BIGINT)) AS BIGINT) AS sum_neg_logp_e12
  FROM tf JOIN vocab USING (term) CROSS JOIN totals
  GROUP BY tf.doc_id
)
SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.sum_neg_logp_e12
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection weights (operators/text.py::dsir_llr):
    every document scored by the log-likelihood ratio of a
    target-cohort unigram LM (docs from source 'src0' — the trusted
    domain) over the raw-corpus LM. Positive = more target-like; the
    ranking a domain-transfer selection pass resamples from. Integer
    contract surface: the exact e12 fixed-point accumulator itself
    (unigram_logloss's engine-exact recipe), both LMs trained in ONE
    vocab-sized aggregate pass."""
    from data_pipeline_ine_spark.operators.text import dsir_llr

    docs = _docs_parallel(spark, sf_dir)
    return dsir_llr(docs, F.col("source") == "src0").select(
        "doc_id", "n_tokens", "llr_e12"
    )


ORACLE_DSIR = r"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT term, COUNT(*) AS c_all,
         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_tgt
  FROM toks GROUP BY 1
), totals AS (
  SELECT SUM(c_all) AS n_all, SUM(c_tgt) AS n_tgt, COUNT(*) AS v_size
  FROM vocab
), scored AS (
  -- per-term -ln p of BOTH LMs snapped to exact e12 fixed point before
  -- the difference and the order-invariant integer accumulation,
  -- mirroring operators/text.py::dsir_llr (shared V_corpus smoothing)
  SELECT tf.doc_id, CAST(SUM(tf.cnt) AS BIGINT) AS n_tokens,
    CAST(SUM(tf.cnt * (
        CAST(FLOOR(-ln(CAST(vocab.c_all + 1 AS DOUBLE)
                       / (totals.n_all + totals.v_size)) * 1e12 + 0.5)
             AS BIGINT)
      - CAST(FLOOR(-ln(CAST(vocab.c_tgt + 1 AS DOUBLE)
                       / (totals.n_tgt + totals.v_size)) * 1e12 + 0.5)
             AS BIGINT)
    )) AS BIGINT) AS llr_e12
  FROM tf JOIN vocab USING (term) CROSS JOIN totals
  GROUP BY tf.doc_id
)
SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.llr_e12
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the selection dsir_weights scores for (operators/text.py
    ::dsir_select): rank the corpus most-target-like-first by the exact
    integer log-likelihood ratio (target cohort = source 'src0') and
    keep the greedy prefix until an 8000-token budget is hit — the
    deterministic reduction of DSIR's importance resampling to
    importance ranking, with the running total a DISTRIBUTED two-pass
    cumulative sum (never a one-task window). Prefix property: a bigger
    budget keeps a superset (pinned in tests). Zero-token docs can't
    pay tokens and are excluded."""
    from data_pipeline_ine_spark.operators.text import dsir_select

    docs = _docs_parallel(spark, sf_dir)
    return dsir_select(
        docs, F.col("source") == "src0", budget_tokens=8000
    )


ORACLE_DSIR_SELECT = (
    "WITH w AS ("
    + ORACLE_DSIR
    + """
), s AS (
  SELECT doc_id, n_tokens, llr_e12 FROM w WHERE n_tokens > 0
), r AS (
  SELECT doc_id, n_tokens, llr_e12,
    SUM(n_tokens) OVER (
      ORDER BY 0 - llr_e12, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM s
)
SELECT doc_id, n_tokens, llr_e12, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= 8000
"""
)


def q_lm_gate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming LM quality gate's batch-expressible core
    (streaming/quality.py::lm_gate_batch — stream_lm_gate applies the
    SAME function per micro-batch, and the stream==batch bit-equality
    twin is pinned in tests/test_streaming.py): a unigram LM is FROZEN
    on the trusted reference cohort (source 'src0' — trained once,
    never per batch), and the full corpus is gated on its per-token
    loss under that LM, out-of-vocabulary terms taking the c=0
    smoothing path −ln(1/(N+V)). Kept = per-token loss ≤ 3.42e12
    (≈3.42 nats — the CCNet-style head+middle cut a reference run
    decides offline). Zero-token docs are dropped by rule
    (unscoreable must not pass a gate). Exact e12 fixed-point
    end-to-end, so the kept SET is engine-exact."""
    from data_pipeline_ine_spark.operators.text import WORD_PATTERN
    from data_pipeline_ine_spark.streaming.quality import lm_gate_batch

    docs = _docs_parallel(spark, sf_dir)
    ref_toks = docs.filter(F.col("source") == "src0").select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(WORD_PATTERN), 0
            )
        ).alias("term")
    )
    vocab = (
        ref_toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # totals agg + gate join reuse it
    )
    n_total, v_size = vocab.agg(
        F.sum("c"), F.count(F.lit(1))
    ).first()
    kept = lm_gate_batch(
        docs, vocab, int(n_total), int(v_size),
        threshold_e12=3_420_000_000_000,
    )
    return kept.select("doc_id", "lang", "source", "n_chars")


ORACLE_LM_GATE_BATCH = r"""
WITH rtoks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents WHERE source = 'src0'
), vocab AS (
  SELECT term, COUNT(*) AS c FROM rtoks GROUP BY 1
), totals AS (
  SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM vocab
), toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), scored AS (
  -- frozen-LM smoothing: OOV terms take the c=0 path -ln(1/(N+V)),
  -- e12-snapped exactly like streaming/quality.py::lm_gate_batch
  SELECT tf.doc_id, CAST(SUM(tf.cnt) AS BIGINT) AS n_tokens,
    CAST(SUM(tf.cnt * CAST(FLOOR(
          -ln(CAST(COALESCE(v.c, 0) + 1 AS DOUBLE)
              / (totals.n_total + totals.v_size)) * 1e12 + 0.5
        ) AS BIGINT)) AS BIGINT) AS sum_neg_logp_e12
  FROM tf LEFT JOIN vocab v USING (term) CROSS JOIN totals
  GROUP BY 1
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
JOIN scored s USING (doc_id)
WHERE s.sum_neg_logp_e12 // s.n_tokens <= 3420000000000
"""


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (operators/text.py::
    gopher_repetition): a document fails if its top 2-gram covers
    >5% of 2-gram occurrences or >2% of its 3-gram occurrences are
    repeats — the boilerplate-loop signature unigram perplexity is
    blind to. Pure integer counts + cross-multiplied percent
    comparisons, so the 0/1 flag is engine-exact with no float
    thresholds; too-short docs pass with zero counts by rule."""
    from data_pipeline_ine_spark.operators.text import gopher_repetition

    docs = _docs_parallel(spark, sf_dir)
    return gopher_repetition(docs, top2_max_pct=5, dup3_max_pct=2)


ORACLE_GOPHER_REPETITION = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents
), g2 AS (
  SELECT doc_id, list_aggregate(ts[i:i+1], 'string_agg', ' ') AS g
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
), c2 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2
), s2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
         CAST(MAX(c) AS BIGINT) AS top_2gram_n
  FROM c2 GROUP BY 1
), g3 AS (
  SELECT doc_id, list_aggregate(ts[i:i+2], 'string_agg', ' ') AS g
  FROM toks, unnest(generate_series(1, len(ts) - 2)) AS u(i)
), c3 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2
), s3 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_3grams,
         CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_3gram_n
  FROM c3 GROUP BY 1
)
SELECT d.doc_id,
  COALESCE(s2.n_2grams, 0) AS n_2grams,
  COALESCE(s2.top_2gram_n, 0) AS top_2gram_n,
  COALESCE(s3.n_3grams, 0) AS n_3grams,
  COALESCE(s3.dup_3gram_n, 0) AS dup_3gram_n,
  -- the top-2-gram rule fires only on an actually-repeated top 2-gram
  -- (>= 2): one occurrence is zero repetition at any length (r10
  -- review catch — without it every short varied doc fails)
  CAST(CASE WHEN (COALESCE(s2.top_2gram_n, 0) < 2
                  OR COALESCE(s2.top_2gram_n, 0) * 100
                     <= 5 * COALESCE(s2.n_2grams, 0))
             AND COALESCE(s3.dup_3gram_n, 0) * 100
                 <= 2 * COALESCE(s3.n_3grams, 0)
       THEN 1 ELSE 0 END AS INT) AS pass_repetition
FROM documents d
LEFT JOIN s2 USING (doc_id)
LEFT JOIN s3 USING (doc_id)
"""


def q_ngram_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (operators/text.py::
    ngram_decontaminate, the GPT-3 appendix-C pass): every
    non-benchmark document scored by how many of its distinct token
    5-grams occur anywhere in the held-out benchmark cohort (source
    'src19' stands in for the eval suite) and flagged on any overlap.
    Full per-doc report — counts stay meaningful at every sf even
    when actual contamination is rare. Integer surface end-to-end."""
    from data_pipeline_ine_spark.operators.text import ngram_decontaminate

    docs = _docs_parallel(spark, sf_dir)
    return ngram_decontaminate(docs, F.col("source") == "src19", n=5)


ORACLE_NGRAM_DECONTAM = r"""
WITH toks AS (
  SELECT doc_id, source,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents
), g AS (
  SELECT doc_id, source,
         list_aggregate(ts[i:i+4], 'string_agg', ' ') AS gram
  FROM toks, unnest(generate_series(1, len(ts) - 4)) AS u(i)
), bench AS (
  SELECT DISTINCT gram FROM g WHERE source = 'src19'
), corpus AS (
  SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src19'
), shared AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_ngrams
  FROM corpus JOIN bench USING (gram) GROUP BY 1
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams
  FROM corpus GROUP BY 1
)
SELECT d.doc_id,
  COALESCE(t.n_ngrams, 0) AS n_ngrams,
  COALESCE(s.shared_ngrams, 0) AS shared_ngrams,
  CAST(CASE WHEN COALESCE(s.shared_ngrams, 0) > 0 THEN 1 ELSE 0 END
       AS INT) AS contaminated
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN shared s USING (doc_id)
WHERE d.source <> 'src19'
"""


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (operators/text.py::
    chunk_token_windows): every document cut into 32-token windows
    advancing by 24 (the HF return-overflowing-tokens recipe) with
    closed-form chunk counts, 1-based offsets, and slice-derived chunk
    text — the RAG-indexing / long-doc pre-tokenization pass. Zero
    shuffles: one narrow map + one explode."""
    from data_pipeline_ine_spark.operators.text import (
        chunk_token_windows,
    )

    docs = _docs_parallel(spark, sf_dir)
    return chunk_token_windows(docs, window=32, stride=24)


ORACLE_CHUNK_WINDOWS = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents
), meta AS (
  SELECT doc_id, ts, len(ts) AS n,
    CASE WHEN len(ts) <= 0 THEN 0
         ELSE 1 + GREATEST(0, (len(ts) - 32 + 24 - 1) // 24) END AS m
  FROM toks
)
SELECT doc_id,
  CAST(u.k AS BIGINT) AS chunk_idx,
  CAST(u.k * 24 + 1 AS BIGINT) AS start_tok,
  CAST(LEAST(32, n - u.k * 24) AS BIGINT) AS n_tokens,
  list_aggregate(
    ts[u.k * 24 + 1 : u.k * 24 + LEAST(32, n - u.k * 24)],
    'string_agg', ' ') AS chunk_text
FROM meta, unnest(generate_series(0, m - 1)) AS u(k)
WHERE m > 0
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity split (operators/text.py::
    perplexity_buckets): every document's per-token LM loss as an exact
    integer (unigram_logloss's e12 accumulator div n_tokens), globally
    ranked by the distributed two-pass rank, and cut into equal-count
    head/middle/tail tiers — the standard quality stratification a
    pretraining corpus is down-sampled by. Bucket choice is pure
    integer arithmetic end-to-end, so both engines agree on every
    boundary document."""
    from data_pipeline_ine_spark.operators.text import perplexity_buckets

    docs = _docs_parallel(spark, sf_dir)
    return perplexity_buckets(docs)


ORACLE_PERPLEXITY_BUCKETS = (
    "WITH u AS (" + ORACLE_UNIGRAM + r"""
), s AS (
  SELECT doc_id, n_tokens,
    CAST(sum_neg_logp_e12 // n_tokens AS BIGINT) AS score_e12
  FROM u WHERE n_tokens > 0
), n AS (SELECT COUNT(*) AS _n FROM s),
r AS (
  SELECT doc_id, n_tokens, score_e12,
    ROW_NUMBER() OVER (ORDER BY score_e12, doc_id) AS rk
  FROM s
)
SELECT doc_id, n_tokens, score_e12,
  CASE ((rk - 1) * 3) // _n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM r, n
UNION ALL
SELECT doc_id, n_tokens, CAST(NULL AS BIGINT) AS score_e12,
  'unscored' AS ppl_bucket
FROM u WHERE n_tokens = 0
"""
)


# ---------------------------------------------------------------------------
# Round-3 additions: containment dedup, blocked kNN join, SCD2 history,
# conversion funnel, per-source quality gating, BM25 retrieval scoring
# ---------------------------------------------------------------------------
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup by shingle containment |∩|/min(|A|,|B|) over the
    same LSH candidate pairs as jaccard_pairs — catches doc-in-doc
    inclusion that Jaccard's |∩|/|∪| dilutes away."""
    from data_pipeline_ine_spark.operators.dedup import containment_candidate_pairs

    return containment_candidate_pairs(_docs_parallel(spark, sf_dir))


ORACLE_CONTAINMENT = _MINHASH_CTE + r"""
, d AS (
  SELECT doc_id, list_distinct(shingles) AS sh, bands FROM banded
), e AS (
  SELECT doc_id, sh, UNNEST(bands) AS band_hash FROM d
), pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM e a JOIN e b ON a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT p.a_id, p.b_id,
  ROUND(len(list_intersect(da.sh, db.sh))
        / GREATEST(LEAST(len(da.sh), len(db.sh)), 1), 6) AS containment
FROM pairs p
JOIN d da ON da.doc_id = p.a_id
JOIN d db ON db.doc_id = p.b_id
"""


def q_knn_within_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched kNN join: every embedding's top-5 cosine neighbors within
    its label block — one block-keyed shuffle, pair cost Σ block², norms
    precomputed per vector (operators/similarity.py::knn_join_blocked)."""
    from data_pipeline_ine_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    # content key: the session shares ONE materialized graph with
    # knn_hubness (same k, same blocks) — the r10 memo extension
    return knn_join_blocked(
        emb, k=5, memo_key=_table_fingerprint(sf_dir, "embeddings")
    ).withColumn("rank", F.col("rank").cast("bigint"))


ORACLE_KNN_WITHIN_LABEL = """
WITH e AS (
  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, a.label AS block,
    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM p
)
SELECT vec_id, neighbor_id, block, cosine_sim, rank
FROM ranked WHERE rank <= 5
"""


def q_knn_ivf_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shaped batched kNN: the block key is a
    deterministically TRAINED k-means IVF assignment
    (knn_join_blocked(ivf_clusters=8) — kmeans_fit + the narrow
    _assign_clusters map), so block sizes are ~n/8 by construction and
    the pair explosion Σ block² is bounded by the cluster-count knob
    instead of whatever cardinality a label column happens to have.
    Same single block-keyed equi-join shuffle as knn_within_label;
    recall vs the exact join is measured in
    tests/test_dedup.py::test_knn_ivf_block_recall_and_pair_bound."""
    from data_pipeline_ine_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_blocked(
        emb, k=3, ivf_clusters=8,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    ).withColumn("rank", F.col("rank").cast("bigint"))


# the same unrolled two-iteration Lloyd chain as ORACLE_ANN_KMEANS,
# consumed as a BLOCK KEY: within-cluster top-3 cosine neighbors
ORACLE_KNN_IVF_BLOCKED = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')}),
asg AS (
  SELECT vec_id, cid, v, sqrt(list_dot_product(v, v)) AS nrm
  FROM a3 WHERE rn = 1
), p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, a.cid AS block,
    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM p
)
SELECT vec_id, neighbor_id, block, cosine_sim, rank
FROM ranked WHERE rank <= 3
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining (operators/similarity
    .py::hard_negative_mining): per anchor, the top-3 most-similar
    vectors with a DIFFERENT label, candidates drawn from the anchor's
    trained IVF cluster (the knn_ivf_blocked block key — same memoized
    centroids, Σ block² pair cost). The label filter runs BEFORE the
    rank window, so anchors surrounded by same-label vectors still
    surface their true cross-label near-misses."""
    from data_pipeline_ine_spark.operators.similarity import (
        hard_negative_mining,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        emb, k=3, ivf_clusters=8,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )


# the shared unrolled Lloyd chain consumed as a candidate block, with
# the anchor-vs-neighbor LABEL INEQUALITY applied before the rank
ORACLE_HARD_NEGATIVES = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')}),
asg AS (
  SELECT a3.vec_id, e.label, a3.cid, a3.v,
         sqrt(list_dot_product(a3.v, a3.v)) AS nrm
  FROM a3 JOIN e ON e.vec_id = a3.vec_id WHERE a3.rn = 1
), p AS (
  SELECT a.vec_id AS vec_id, a.label AS anchor_label,
         b.vec_id AS neighbor_id, b.label AS negative_label,
         a.cid AS block,
         ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM asg a JOIN asg b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id AND a.label <> b.label
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM p
)
SELECT vec_id, anchor_label, neighbor_id, negative_label, block,
       cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 validity intervals from the events change log: per user,
    consecutive equal event_type runs collapse to [valid_from, valid_to)
    rows, NULL valid_to marking the current state. Two windows, one
    shuffle (operators/timeseries.py::scd2_intervals)."""
    from data_pipeline_ine_spark.operators.timeseries import scd2_intervals

    return scd2_intervals(load_table(spark, sf_dir, "events"))


ORACLE_SCD2 = """
WITH marked AS (
  SELECT user_id, ts, event_type, event_id,
    -- null-safe change mark mirroring timeseries.py::scd2_intervals:
    -- ROW_NUMBER marks each key's first state (lag NULL is ambiguous for
    -- nullable attrs); IS DISTINCT FROM handles NULL-involved transitions
    CASE WHEN ROW_NUMBER() OVER w = 1
              OR event_type IS DISTINCT FROM LAG(event_type) OVER w
         THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT * FROM marked WHERE chg = 1
)
SELECT user_id, event_type AS state, ts AS valid_from,
  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM changes
"""


def q_scd2_apply_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: the dimension built from pre-cutoff
    events, then maintained with the post-cutoff batch via scd2_apply —
    untouched keys pass through, affected keys rebuild from change
    points + batch (operators/timeseries.py::scd2_apply). The oracle is
    the full-history SCD2 derivation, so a green match proves
    incremental maintenance ≡ recomputation."""
    from data_pipeline_ine_spark.operators.timeseries import (
        scd2_apply,
        scd2_intervals,
    )

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp_ntz")
    dim = scd2_intervals(ev.filter(F.col("ts") < cutoff))
    batch = ev.filter(F.col("ts") >= cutoff)
    return scd2_apply(dim, batch)


def q_overlap_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join: pairs of same-part shipments whose
    in-transit windows [shipdate, receiptdate] intersect, via the
    grid-bucketed equi-join (operators/joins.py::interval_overlap_join).
    The oracle is the direct quadratic overlap join — an exact match also
    proves the grid decomposition + first-common-cell dedup lost no pair."""
    from data_pipeline_ine_spark.operators.joins import interval_overlap_join

    # testdata lineitem has no receiptdate; derive a deterministic transit
    # window: [shipdate, shipdate + quantity % 20 + 3 days]
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            F.to_date("l_shipdate").alias("ship"),
            (F.col("l_quantity").cast("int") % 20 + 3).alias("transit"),
        )
    )
    a = li.select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_orderkey").alias("a_order"),
        F.col("l_linenumber").alias("a_line"),
        F.col("ship").alias("a_start"),
        F.date_add("ship", F.col("transit")).alias("a_end"),
    )
    b = li.select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_orderkey").alias("b_order"),
        F.col("l_linenumber").alias("b_line"),
        F.col("ship").alias("b_start"),
        F.date_add("ship", F.col("transit")).alias("b_end"),
    )
    pairs = interval_overlap_join(
        a, b, "partkey", "a_start", "a_end", "b_start", "b_end", grid_days=30
    )
    return pairs.filter(
        F.struct("a_order", "a_line") < F.struct("b_order", "b_line")
    ).select(
        "partkey",
        "a_order",
        "a_line",
        "b_order",
        "b_line",
        (
            F.datediff(
                F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
            )
            + 1
        ).alias("overlap_days"),
    )


ORACLE_OVERLAP_SHIPMENTS = """
WITH s AS (
  SELECT l_partkey, l_orderkey, l_linenumber,
    CAST(l_shipdate AS DATE) AS ship,
    CAST(l_shipdate AS DATE)
      + (CAST(l_quantity AS INT) % 20 + 3) * INTERVAL 1 DAY AS receipt
  FROM lineitem WHERE l_partkey % 97 = 0
)
SELECT a.l_partkey AS partkey,
  a.l_orderkey AS a_order, a.l_linenumber AS a_line,
  b.l_orderkey AS b_order, b.l_linenumber AS b_line,
  datediff('day', GREATEST(a.ship, b.ship),
           LEAST(a.receipt, b.receipt)) + 1 AS overlap_days
FROM s a JOIN s b ON a.l_partkey = b.l_partkey
 AND (a.l_orderkey, a.l_linenumber) < (b.l_orderkey, b.l_linenumber)
 AND a.ship <= b.receipt AND b.ship <= a.receipt
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences —
    one user-keyed window shuffle, |types|²-row output
    (operators/timeseries.py::transition_matrix)."""
    from data_pipeline_ine_spark.operators.timeseries import transition_matrix

    return transition_matrix(load_table(spark, sf_dir, "events"))


ORACLE_TRANSITIONS = """
WITH s AS (
  SELECT event_type AS cur_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
)
SELECT cur_type, next_type, COUNT(*) AS n,
  ROUND(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY cur_type), 6) AS p
FROM s WHERE next_type IS NOT NULL
GROUP BY cur_type, next_type
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase conversion funnel with first-touch
    semantics: stage i counts only events strictly after the user's stage
    i-1 time. Chained conditional-min windows on ONE user shuffle
    (operators/timeseries.py::funnel_stages)."""
    from data_pipeline_ine_spark.operators.timeseries import funnel_stages

    return funnel_stages(load_table(spark, sf_dir, "events"))


ORACLE_FUNNEL = """
WITH t0 AS (
  SELECT user_id, ts, event_type,
    MIN(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS s0
  FROM events
), t1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > s0 THEN ts END)
      OVER (PARTITION BY user_id) AS s1
  FROM t0
), t2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > s1 THEN ts END)
      OVER (PARTITION BY user_id) AS s2
  FROM t1
), per_user AS (
  SELECT user_id, MIN(s0) AS s0, MIN(s1) AS s1, MIN(s2) AS s2
  FROM t2 GROUP BY 1
), counts AS (
  SELECT COUNT(s0) AS n0, COUNT(s1) AS n1, COUNT(s2) AS n2 FROM per_user
)
SELECT 'view' AS stage, 0 AS stage_idx, n0 AS n_users FROM counts
UNION ALL SELECT 'click', 1, n1 FROM counts
UNION ALL SELECT 'purchase', 2, n2 FROM counts
"""


def q_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gating: keep documents at or above the exact p25
    of their OWN source's quality distribution — per-group thresholds
    aggregate group-keyed and broadcast back, the corpus is never
    re-shuffled (operators/features.py::group_percentile_gate)."""
    from data_pipeline_ine_spark.operators.features import group_percentile_gate
    from data_pipeline_ine_spark.operators.text import quality_score

    docs = _docs_parallel(spark, sf_dir)
    scored = docs.select(
        "doc_id", "source", quality_score("text").alias("quality")
    )
    return group_percentile_gate(scored, "quality", "source", q=0.25)


ORACLE_QUALITY_GATE = r"""
WITH s AS (
  SELECT doc_id, source,
    length(regexp_extract_all(text, '\S+')) AS n_tokens,
    length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS n_stop
  FROM documents
), scored AS (
  SELECT doc_id, source,
    ROUND(0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
        + 0.3 * (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n_tokens, 1), 1.0))
        + 0.3 * LEAST(CAST(n_stop AS DOUBLE) * 3.0 / GREATEST(n_tokens, 1), 1.0),
        6) AS quality
  FROM s
), thr AS (
  SELECT source, ROUND(quantile_cont(quality, 0.25), 6) AS group_threshold
  FROM scored GROUP BY 1
)
SELECT sc.doc_id, sc.source, sc.quality, t.group_threshold
FROM scored sc JOIN thr t USING (source)
WHERE sc.quality >= t.group_threshold
"""


BM25_QUERY_TERMS = ("stream", "vector", "hash")


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document for a fixed 3-term query —
    idf-weighted saturating tf with length normalization; per-term
    contributions snapped to 12-decimal fixed point and summed in decimal
    so the score is engine-invariant (operators/text.py::bm25_scores)."""
    from data_pipeline_ine_spark.operators.text import bm25_scores

    return bm25_scores(_docs_parallel(spark, sf_dir), BM25_QUERY_TERMS)


ORACLE_BM25 = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), doclen AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ('stream', 'vector', 'hash') GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT SUM(dl) FROM doclen) AS len_total,
         (SELECT COUNT(*) FROM doclen) AS len_n
), scored AS (
  -- mirror of operators/text.py::bm25_scores: k1=1.2, b=0.75, per-term
  -- value floored to 12-decimal fixed point, decimal(38,0) accumulation
  SELECT tf.doc_id,
    ROUND(CAST(SUM(CAST(CAST(FLOOR(
        ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        * (tf.tf * 2.2)
          / (tf.tf + 1.2 * (0.25 + 0.75 * doclen.dl
               / (CAST(stats.len_total AS DOUBLE) / stats.len_n)))
        * 1e12 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 1e12,
      6) AS bm25
  FROM tf
  JOIN dfreq USING (term)
  JOIN doclen USING (doc_id)
  CROSS JOIN stats
  GROUP BY 1
)
SELECT d.doc_id, COALESCE(s.bm25, 0.0) AS bm25
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_winsorized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-status order totals: values clipped to the global
    [p05, p95] then cent-snapped and integer-accumulated — robust sums
    that are engine-exact despite the interpolated percentile bounds
    (operators/features.py::winsorized_sums)."""
    from data_pipeline_ine_spark.operators.features import winsorized_sums

    orders = load_table(spark, sf_dir, "orders")
    return winsorized_sums(orders, "o_totalprice", "o_orderstatus")


ORACLE_WINSORIZED = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders
), c AS (
  SELECT o_orderstatus,
    CAST(FLOOR(LEAST(GREATEST(o_totalprice, lo), hi) * 100 + 0.5) AS BIGINT)
      AS cents
  FROM orders, b
)
SELECT o_orderstatus, COUNT(*) AS n,
  CAST(SUM(cents) AS DOUBLE) / 100.0 AS wsum
FROM c GROUP BY o_orderstatus
"""


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profiler over orders: per-column row/non-null/
    distinct counts and typed min/max, all from ONE aggregate (Expand for
    the multiple exact distincts) + a stack unpivot
    (operators/quality.py::profile_columns)."""
    from data_pipeline_ine_spark.operators.quality import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders,
        numeric_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )


def _profile_oracle_block(col: str, kind: str) -> str:
    if kind == "num":
        mn, mx = (
            f"MIN(CAST({col} AS DOUBLE))",
            f"MAX(CAST({col} AS DOUBLE))",
        )
        smn = smx = "CAST(NULL AS VARCHAR)"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
        smn, smx = f"MIN({col})", f"MAX({col})"
    return (
        f"SELECT '{col}' AS col_name, COUNT(*) AS n_rows, "
        f"COUNT({col}) AS n_nonnull, COUNT(DISTINCT {col}) AS n_distinct, "
        f"{mn} AS min_num, {mx} AS max_num, {smn} AS min_str, "
        f"{smx} AS max_str FROM orders"
    )


ORACLE_PROFILE = " UNION ALL ".join(
    [
        _profile_oracle_block("o_orderkey", "num"),
        _profile_oracle_block("o_custkey", "num"),
        _profile_oracle_block("o_totalprice", "num"),
        _profile_oracle_block("o_orderstatus", "str"),
        _profile_oracle_block("o_orderpriority", "str"),
    ]
)


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation audit over lineitem/orders: per-row
    constraint checks fused into ONE conditional aggregate, key
    uniqueness as one keyed aggregate, referential integrity as a LEFT
    ANTI orphan probe (operators/quality.py)."""
    from data_pipeline_ine_spark.operators.quality import (
        expect_references,
        expect_rows,
        expect_unique,
        union_audit,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    row_checks = expect_rows(
        li,
        {
            "lineitem_quantity_positive": F.col("l_quantity") <= 0,
            "lineitem_discount_range": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1),
            "lineitem_returnflag_domain": ~F.col("l_returnflag").isin(
                "R", "A", "N"
            ),
            "lineitem_shipdate_present": F.col("l_shipdate").isNull(),
        },
    )
    uniq = expect_unique(
        li, ["l_orderkey", "l_linenumber"], "lineitem_key_unique"
    )
    refs = expect_references(
        li, "l_orderkey", orders, "o_orderkey", "lineitem_orders_fk"
    )
    return union_audit(row_checks, uniq, refs)


ORACLE_DQ_AUDIT = """
WITH rowchecks AS (
  SELECT COUNT(*) AS n,
    COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS v_qty,
    COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS v_disc,
    COUNT(CASE WHEN l_returnflag NOT IN ('R', 'A', 'N') THEN 1 END) AS v_flag,
    COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS v_ship
  FROM lineitem
), uniq AS (
  SELECT SUM(c) AS n, SUM(c - 1) AS v
  FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
), fk AS (
  SELECT (SELECT COUNT(*) FROM lineitem) AS n,
    (SELECT COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)) AS v
)
SELECT 'lineitem_quantity_positive' AS check, v_qty AS n_violations, n AS n_rows,
  ROUND(v_qty / GREATEST(n, 1), 6) AS violation_rate FROM rowchecks
UNION ALL SELECT 'lineitem_discount_range', v_disc, n,
  ROUND(v_disc / GREATEST(n, 1), 6) FROM rowchecks
UNION ALL SELECT 'lineitem_returnflag_domain', v_flag, n,
  ROUND(v_flag / GREATEST(n, 1), 6) FROM rowchecks
UNION ALL SELECT 'lineitem_shipdate_present', v_ship, n,
  ROUND(v_ship / GREATEST(n, 1), 6) FROM rowchecks
UNION ALL SELECT 'lineitem_key_unique', CAST(v AS BIGINT), CAST(n AS BIGINT),
  ROUND(v / GREATEST(n, 1), 6) FROM uniq
UNION ALL SELECT 'lineitem_orders_fk', v, n, ROUND(v / GREATEST(n, 1), 6) FROM fk
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort triangle over events: cohort = first-
    activity week, cells count distinct users active N weeks later
    (operators/timeseries.py::retention_cohorts)."""
    from data_pipeline_ine_spark.operators.timeseries import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"))


ORACLE_RETENTION = """
WITH acts AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS period FROM events
), firsts AS (
  SELECT user_id, MIN(period) AS cohort_week FROM acts GROUP BY 1
)
SELECT f.cohort_week,
  date_diff('day', f.cohort_week, a.period) // 7 AS week_offset,
  COUNT(DISTINCT a.user_id) AS n_users
FROM acts a JOIN firsts f USING (user_id)
GROUP BY 1, 2
"""


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a plan: apply an I/U/D changelog (latest
    seq per key wins) to a base orders snapshot — changelog-sized window
    dedup, then ONE key-equi full-outer join
    (operators/diff.py::apply_changelog). The changelog is derived
    deterministically from orders so the oracle reproduces it: post-1997
    rows insert, every 5th base key updates (price doubled), every 97th
    key deletes."""
    from data_pipeline_ine_spark.operators.diff import apply_changelog

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    ins = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "*", F.lit("I").alias("op"), F.lit(1).alias("seq")
    )
    upd = (
        base.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select("*", F.lit("U").alias("op"), F.lit(2).alias("seq"))
    )
    dels = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "*", F.lit("D").alias("op"), F.lit(3).alias("seq")
    )
    changes = ins.unionByName(upd).unionByName(dels)
    return apply_changelog(base, changes, ["o_orderkey"], "seq", "op")


ORACLE_CDC_MERGE = """
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
), changes AS (
  SELECT *, 'I' AS op, 1 AS seq FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
         o_orderdate, o_orderpriority, 'U', 2
  FROM base WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority, 'D', 3
  FROM orders WHERE o_orderkey % 97 = 0
), latest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM changes
), win AS (
  SELECT * FROM latest WHERE rn = 1
)
SELECT COALESCE(w.o_orderkey, b.o_orderkey) AS o_orderkey,
  CASE WHEN w.op IS NOT NULL AND w.op <> 'D' THEN w.o_custkey
       ELSE b.o_custkey END AS o_custkey,
  CASE WHEN w.op IS NOT NULL AND w.op <> 'D' THEN w.o_orderstatus
       ELSE b.o_orderstatus END AS o_orderstatus,
  CASE WHEN w.op IS NOT NULL AND w.op <> 'D' THEN w.o_totalprice
       ELSE b.o_totalprice END AS o_totalprice,
  CASE WHEN w.op IS NOT NULL AND w.op <> 'D' THEN w.o_orderdate
       ELSE b.o_orderdate END AS o_orderdate,
  CASE WHEN w.op IS NOT NULL AND w.op <> 'D' THEN w.o_orderpriority
       ELSE b.o_orderpriority END AS o_orderpriority
FROM base b FULL OUTER JOIN win w ON b.o_orderkey = w.o_orderkey
WHERE w.op IS NULL OR w.op <> 'D'
"""


def q_ivm_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-status (count, revenue)
    aggregate maintained under the SAME I/U/D changelog cdc_merge applies
    — retractions + insertions per touched key, changelog-sized work only
    (operators/diff.py::maintain_group_aggregate). The oracle recomputes
    the aggregate from the fully merged snapshot, so a green match proves
    delta maintenance ≡ recomputation."""
    from data_pipeline_ine_spark.operators.diff import maintain_group_aggregate

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    ins = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "*", F.lit("I").alias("op"), F.lit(1).alias("seq")
    )
    upd = (
        base.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select("*", F.lit("U").alias("op"), F.lit(2).alias("seq"))
    )
    dels = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "*", F.lit("D").alias("op"), F.lit(3).alias("seq")
    )
    changes = ins.unionByName(upd).unionByName(dels)
    return maintain_group_aggregate(
        base, changes, ["o_orderkey"], "o_orderstatus", "o_totalprice"
    ).select("o_orderstatus", "n_rows", "value_sum")


# recompute-from-merged-snapshot ground truth: reuse the cdc_merge body
ORACLE_IVM = (
    "WITH merged AS (" + ORACLE_CDC_MERGE + """)
SELECT o_orderstatus, COUNT(*) AS n_rows,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
    AS value_sum
FROM merged GROUP BY o_orderstatus
"""
)


def q_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC write-then-apply identity on the driver surface: derive the
    MINIMAL changelog between two order snapshots
    (operators/diff.py::changelog_from_diff — fingerprint-narrowed diff,
    I/U/D emission) and re-apply it to the old snapshot
    (::apply_changelog). The result must equal the new snapshot EXACTLY,
    which is what the oracle computes directly — so the whole
    diff→changelog→merge pipeline is checked end-to-end, not just each
    half (VERDICT r3 task #4). Old snapshot: keys with k%4<3; new
    snapshot: keys with k%4>0, every 10th key's price doubled — so the
    feed exercises all three ops (adds k%4=3, removes k%4=0, updates
    k%10=0 among survivors)."""
    from data_pipeline_ine_spark.operators.diff import (
        apply_changelog,
        changelog_from_diff,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 4 < 3)
    new = orders.filter(F.col("o_orderkey") % 4 > 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    feed = changelog_from_diff(old, new, ["o_orderkey"])
    return apply_changelog(old, feed, ["o_orderkey"])


# the oracle computes the NEW snapshot directly: equality proves the
# round-trip law apply(old, changelog_from_diff(old, new)) == new
ORACLE_CDC_ROUNDTRIP = """
SELECT o_orderkey,
  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
       ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderkey % 4 > 0
"""


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data entity resolution over part names: blocked Levenshtein
    pairs on the distinct-name dictionary → connected components →
    canonical spelling (lexicographic min per cluster, self when
    unmatched) — operators/fuzzy.py::resolve_entities."""
    from data_pipeline_ine_spark.operators.fuzzy import resolve_entities

    return resolve_entities(load_table(spark, sf_dir, "part"), "p_name")


ORACLE_ENTITY_RESOLUTION = """
WITH RECURSIVE dic AS (
  SELECT DISTINCT p_name AS v FROM part
), blocked AS (
  SELECT v, split_part(v, ' ', -1) AS blk, length(v) AS ln FROM dic
), pairs AS (
  SELECT a.v AS a_v, c.v AS b_v
  FROM blocked a JOIN blocked c
    ON a.blk = c.blk AND a.v < c.v AND abs(a.ln - c.ln) <= 2
  WHERE levenshtein(a.v, c.v) <= 2
), edges AS (
  SELECT a_v AS s, b_v AS d FROM pairs
  UNION
  SELECT b_v AS s, a_v AS d FROM pairs
), reach AS (
  SELECT v AS node, v AS lab FROM dic
  UNION
  SELECT r.node, e.d AS lab FROM reach r JOIN edges e ON e.s = r.lab
)
SELECT node AS value, MIN(lab) AS canonical FROM reach GROUP BY 1
"""


def q_temporal_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each purchase looks up the SCD2
    state valid AT its timestamp. The intervals are contiguous per user,
    so containment reduces to an as-of on valid_from — executed with the
    union-tag single-shuffle asof_join, NEVER an inequality nested loop.
    The oracle proves the containment semantics independently with an
    explicit interval-containment join."""
    from data_pipeline_ine_spark.operators.joins import asof_join
    from data_pipeline_ine_spark.operators.timeseries import scd2_intervals

    events = load_table(spark, sf_dir, "events")
    intervals = (
        scd2_intervals(events)
        # zero-width intervals (two state changes at one timestamp) match
        # nothing under containment; dropping them ALSO makes valid_from
        # unique per user, so the as-of pick is deterministic
        .filter(
            F.col("valid_to").isNull() | (F.col("valid_to") != F.col("valid_from"))
        )
        .select("user_id", F.col("valid_from").alias("ts"), "state")
    )
    probes = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    return asof_join(
        probes, intervals, on="user_id", payload_cols=("state",)
    ).select("purchase_id", "user_id", "ts", F.col("state_asof").alias("state"))


ORACLE_TEMPORAL_LOOKUP = """
WITH marked AS (
  SELECT user_id, ts, event_type, event_id,
    -- null-safe change mark mirroring timeseries.py::scd2_intervals:
    -- ROW_NUMBER marks each key's first state (lag NULL is ambiguous for
    -- nullable attrs); IS DISTINCT FROM handles NULL-involved transitions
    CASE WHEN ROW_NUMBER() OVER w = 1
              OR event_type IS DISTINCT FROM LAG(event_type) OVER w
         THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), intervals AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM marked WHERE chg = 1
), probes AS (
  SELECT user_id, event_id AS purchase_id, ts FROM events
  WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.ts, i.state
FROM probes p JOIN intervals i
  ON p.user_id = i.user_id
 AND i.valid_from <= p.ts
 AND (i.valid_to IS NULL OR p.ts < i.valid_to)
"""


def q_grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson corr(quantity, extendedprice) per returnflag with
    decimal-exact moment sums — Spark's double-accumulating corr()
    is partition-order-dependent; this is the engine-invariant form
    (operators/features.py::grouped_corr)."""
    from data_pipeline_ine_spark.operators.features import grouped_corr

    return grouped_corr(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        ["l_returnflag"],
    )


ORACLE_GROUPED_CORR = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
    -- DECIMAL(25,4): forces int128 internals; DuckDB multiplies DECIMAL(18)
    -- internals in int64 first and overflows on price², values unchanged
    SUM(CAST(l_quantity AS DECIMAL(25,4))) AS sx,
    SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS sy,
    SUM(CAST(l_quantity AS DECIMAL(25,4)) * CAST(l_extendedprice AS DECIMAL(25,4))) AS sxy,
    SUM(CAST(l_quantity AS DECIMAL(25,4)) * CAST(l_quantity AS DECIMAL(25,4))) AS sxx,
    SUM(CAST(l_extendedprice AS DECIMAL(25,4)) * CAST(l_extendedprice AS DECIMAL(25,4))) AS syy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
FROM m
"""


def q_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (Jaccard ≥ 0.5)
    rolled up by unordered source pair — the corpus-governance view that
    shows which sources copy from which. Pure composition: LSH pairs →
    two id-equi joins to attach sources (ids only through the band
    shuffle) → one pair-keyed aggregate with decimal-exact mean overlap."""
    from data_pipeline_ine_spark.operators.dedup import jaccard_candidate_pairs

    docs = _docs_parallel(spark, sf_dir)
    pairs = jaccard_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    meta = docs.select("doc_id", "source")
    tagged = pairs.join(
        meta.select(F.col("doc_id").alias("a_id"), F.col("source").alias("sa")),
        "a_id",
    ).join(
        meta.select(F.col("doc_id").alias("b_id"), F.col("source").alias("sb")),
        "b_id",
    )
    lo = F.least("sa", "sb")
    hi = F.greatest("sa", "sb")
    return (
        tagged.groupBy(lo.alias("source_a"), hi.alias("source_b"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_jaccard"),
        )
    )


ORACLE_CROSS_SOURCE = (
    "WITH jp AS ( "
    + ORACLE_JACCARD
    + """ )
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(jp.jaccard AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_jaccard
FROM jp
JOIN documents da ON da.doc_id = jp.a_id
JOIN documents db ON db.doc_id = jp.b_id
WHERE jp.jaccard >= 0.5
GROUP BY 1, 2
"""
)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing analytics: the top-100 corpus terms with each
    prefix's cumulative share of all token occurrences — the curve that
    answers "how big must the vocabulary be to cover X% of the corpus".
    One term-keyed aggregate (map-side combined); the running share is a
    window over the VOCABULARY-sized frame, never the corpus; share math
    is decimal-exact before one final double division."""
    docs = _docs_parallel(spark, sf_dir)
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    # cumulative share over rank order has the prefix property, so the
    # global window only needs the top-100 — TakeOrdered (per-partition
    # top-k + k-row merge) reduces the vocabulary BEFORE any single-task
    # window, which would otherwise sort the whole vocab in one partition
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(100)
    w = (
        Window.orderBy(F.desc("cnt"), F.asc("term"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = top.withColumn(
        "cum_cnt", F.sum(F.col("cnt").cast("decimal(38,0)")).over(w)
    ).withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("term")))
    )
    return ranked.join(F.broadcast(total)).select(
        F.col("rank").cast("bigint").alias("rank"),
        "term",
        "cnt",
        F.round(
            F.col("cum_cnt").cast("double") / F.col("total"), 6
        ).alias("cum_share"),
    )


ORACLE_VOCAB_COVERAGE = """
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), counts AS (
  SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
), ranked AS (
  SELECT term, cnt,
    ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank,
    SUM(CAST(cnt AS DECIMAL(38,0)))
      OVER (ORDER BY cnt DESC, term
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
  FROM counts
)
SELECT rank, term, cnt,
  ROUND(CAST(cum_cnt AS DOUBLE)
        / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM counts), 6) AS cum_share
FROM ranked WHERE rank <= 100
"""


# ---------------------------------------------------------------------------
# Round-4 additions: co-occurrence graph analytics (market-basket lift,
# triangle counting), bigram LM gate, shuffle-skew diagnostics, robust
# MAD outlier gate, CDC write-then-apply round-trip (defined near cdc_merge)
# ---------------------------------------------------------------------------
def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: parts co-ordered in the same
    order, with exact support counts and lift
    (operators/graph.py::association_lift). Pair explosion is bounded by
    basket size (order line count), never corpus²; lift is ONE integer
    divide, engine-invariant."""
    from data_pipeline_ine_spark.operators.graph import association_lift

    li = load_table(spark, sf_dir, "lineitem")
    return association_lift(li, "l_orderkey", "l_partkey", min_pair_count=2)


ORACLE_COPURCHASE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), pair AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), per_item AS (
  SELECT item, COUNT(*) AS n_item FROM bi GROUP BY 1
), totals AS (
  SELECT COUNT(DISTINCT basket) AS n_total FROM bi
)
SELECT p.item_a, p.item_b, CAST(p.n_ab AS BIGINT) AS n_ab,
  CAST(ia.n_item AS BIGINT) AS n_a, CAST(ib.n_item AS BIGINT) AS n_b,
  ROUND(CAST(p.n_ab * t.n_total AS DOUBLE)
        / CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
FROM pair p
JOIN per_item ia ON ia.item = p.item_a
JOIN per_item ib ON ib.item = p.item_b
CROSS JOIN totals t
"""


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the part co-purchase graph (edges =
    part pairs co-ordered ≥2 times) — degree-oriented counting
    (operators/graph.py::triangle_count): every triangle is enumerated
    once at its lowest-(degree,id) vertex, bounding wedge work by
    arboricity instead of Σ deg² (the power-law hub killer)."""
    from data_pipeline_ine_spark.operators.graph import (
        cooccurrence_edges,
        triangle_count,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_count=2)
    return triangle_count(edges)


# oracle counts each triangle once via the a<b<c convention — a different
# algorithm than the degree-oriented Spark plan, same total by symmetry
ORACLE_TRIANGLES = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), e AS (
  SELECT a.item AS u, b.item AS v
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
"""


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (customer, order-day) —
    the write-side layout step for multi-dimensional scan pruning
    (operators/layout.py). Pure bit arithmetic in one codegen projection;
    the oracle renders the identical unrolled mask-shift-add sum via
    ``morton_key_sql`` so both engines land on the same BIGINT."""
    from data_pipeline_ine_spark.operators.layout import morton_key

    orders = load_table(spark, sf_dir, "orders")
    epoch_day = F.datediff(
        F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
    )
    return orders.select(
        "o_orderkey",
        morton_key(F.col("o_custkey") % 65536, epoch_day % 65536).alias("zkey"),
    )


def _oracle_zorder() -> str:
    from data_pipeline_ine_spark.operators.layout import morton_key_sql

    z = morton_key_sql(
        "o_custkey % 65536",
        "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536",
    )
    return f"SELECT o_orderkey, CAST({z} AS BIGINT) AS zkey FROM orders"


ORACLE_ZORDER = _oracle_zorder()


def q_part_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS neighborhoods on the part co-purchase graph:
    minimum hop distance (≤3) from the seed set ``p_partkey % 151 = 0``
    (operators/graph.py::bfs_hops). Pure-integer frontier expansion, one
    destination-keyed shuffle per hop; the oracle unrolls the three
    frontier steps in plain SQL and must agree exactly."""
    from data_pipeline_ine_spark.operators.graph import (
        bfs_hops,
        cooccurrence_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_count=2)
    sources = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 151 == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    return bfs_hops(edges, sources, max_hops=3)


ORACLE_BFS = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), und AS (
  SELECT a.item AS u, b.item AS v
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), e AS (
  SELECT u AS src, v AS dst FROM und UNION SELECT v, u FROM und
), s0 AS (
  SELECT p_partkey AS node FROM part WHERE p_partkey % 151 = 0
), s1 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN s0 ON e.src = s0.node
), s2 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN s1 ON e.src = s1.node
), s3 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN s2 ON e.src = s2.node
)
SELECT node, MIN(h) AS hops FROM (
  SELECT node, 0 AS h FROM s0
  UNION ALL SELECT node, 1 FROM s1
  UNION ALL SELECT node, 2 FROM s2
  UNION ALL SELECT node, 3 FROM s3
) GROUP BY node
"""


# ONE SQL text for both engines: LATERAL correlated subquery — per-row
# top-k without a window-over-everything (the planner turns it into a
# partial-sort join; with a window the same result costs a full child
# sort per partition even for k=2).
_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey % 50 = 0
"""


def q_lateral_topk_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (same SQL text on Spark and the
    oracle): each sampled customer's top-2 orders by price with a
    deterministic tiebreak — the per-row-subquery surface of the SQL
    engine, complementing the window-function top-k family."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPK_SQL)


# ONE SQL text, executed verbatim by BOTH engines (Spark 4 WITH RECURSIVE
# — UNION ALL only, so each level applies DISTINCT to stay node-bounded
# instead of path-bounded; the depth guard terminates the fixpoint).
_RECURSIVE_BFS_SQL = """
WITH RECURSIVE bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), und AS (
  SELECT a.item AS u, b.item AS v
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), e AS (
  SELECT u AS src, v AS dst FROM und UNION SELECT v, u FROM und
), reach(node, depth) AS (
  SELECT CAST(p_partkey AS BIGINT), 0 FROM part WHERE p_partkey % 151 = 0
  UNION ALL
  SELECT DISTINCT e.dst, r.depth + 1
  FROM reach r JOIN e ON e.src = r.node WHERE r.depth < 3
)
SELECT node, MIN(depth) AS hops FROM reach GROUP BY node
"""

# The Spark-side recursion over the PRE-MATERIALIZED bfs_edges view:
# semantically identical to _RECURSIVE_BFS_SQL (whose inline edge CTE
# Spark would re-evaluate at every recursion level — the whole
# co-purchase self-join ×(depth+1)), with the same seeds and depth.
_RECURSIVE_BFS_STEP_SQL = """
WITH RECURSIVE reach(node, depth) AS (
  SELECT CAST(p_partkey AS BIGINT), 0 FROM part WHERE p_partkey % 151 = 0
  UNION ALL
  SELECT DISTINCT e.dst, r.depth + 1
  FROM reach r JOIN bfs_edges e ON e.src = r.node WHERE r.depth < 3
)
SELECT node, MIN(depth) AS hops FROM reach GROUP BY node
"""


def q_recursive_bfs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) multi-hop reachability,
    cross-validated against the iterative DataFrame BFS
    (part_bfs_hops returns the identical result). Each recursion level
    is DISTINCT-deduped so level size is node-bounded, never
    path-bounded. The co-purchase edge list is MATERIALIZED once
    (localCheckpoint) before the recursion — Spark re-plans the
    recursive step per level, and an inline edge CTE re-ran the
    basket self-join every level (11 s → the whole edge build ×4);
    DuckDB's oracle keeps the edges inline (it materializes CTEs).
    The verbatim same-SQL-both-engines fixture lives in
    tests/test_graph.py::test_recursive_cte_verbatim_sql_parity."""
    from data_pipeline_ine_spark.operators.graph import (
        cooccurrence_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    und = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_count=2
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    edges = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    edges.createOrReplaceTempView("bfs_edges")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_BFS_STEP_SQL)


def q_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scored under a corpus-trained add-one BIGRAM LM
    (operators/text.py::bigram_logloss) — the transition-aware quality
    gate that catches shuffled/word-salad text a unigram LM scores as
    normal. Integer-only driver hash surface (same recipe as
    unigram_logloss)."""
    from data_pipeline_ine_spark.operators.text import bigram_logloss

    docs = _docs_parallel(spark, sf_dir)
    return bigram_logloss(docs).select("doc_id", "n_bigrams", "sum_neg_logp_e12")


ORACLE_BIGRAM = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
    unnest(generate_series(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
  FROM documents
), big AS (
  SELECT doc_id,
    LAG(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
    term AS w2
  FROM toks
  QUALIFY w1 IS NOT NULL
), tf AS (
  SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM big GROUP BY 1, 2, 3
), bg AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
), ctx AS (
  SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1
), vocab AS (
  SELECT COUNT(DISTINCT term) AS v_size FROM toks
), scored AS (
  -- 12-decimal fixed point per bigram (IEEE mul/add/floor only), exact
  -- integer accumulation — mirrors operators/text.py::bigram_logloss
  SELECT tf.doc_id, CAST(SUM(tf.cnt) AS BIGINT) AS n_bigrams,
    CAST(SUM(tf.cnt * CAST(FLOOR(
              -ln(CAST(bg.c12 + 1 AS DOUBLE) / (ctx.c1 + vocab.v_size))
              * 1e12 + 0.5
            ) AS BIGINT)) AS BIGINT) AS sum_neg_logp_e12
  FROM tf JOIN bg USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN vocab
  GROUP BY 1
)
SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.sum_neg_logp_e12
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis for o_custkey as a join/agg key: the 10
    heaviest keys with counts and corpus share
    (operators/quality.py::key_skew_profile) — the report that decides
    whether a key needs salting before its real workload runs. One
    key-keyed aggregate + TakeOrdered; nothing corpus-sized sorted."""
    from data_pipeline_ine_spark.operators.quality import key_skew_profile

    return key_skew_profile(load_table(spark, sf_dir, "orders"), "o_custkey")


ORACLE_KEY_SKEW = """
WITH counts AS (
  SELECT CAST(o_custkey AS VARCHAR) AS key, COUNT(*) AS cnt
  FROM orders GROUP BY 1
), total AS (
  SELECT COUNT(*) AS n_total FROM orders
), ranked AS (
  SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank
  FROM counts
)
SELECT CAST(rank AS INT) AS rank, key, CAST(cnt AS BIGINT) AS cnt,
  ROUND(CAST(cnt AS DOUBLE) / t.n_total, 6) AS share
FROM ranked CROSS JOIN total t
WHERE rank <= 10
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers per event type by median/MAD
    (operators/features.py::mad_outliers): |x − med| > 3.5·1.4826·MAD.
    Median/MAD are immune to the outliers they flag (50% breakdown),
    unlike the mean/stddev gate of zscore_outliers. Two tiny percentile
    aggregates broadcast back — the corpus is never shuffled."""
    from data_pipeline_ine_spark.operators.features import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    return mad_outliers(ev, "value", "event_type").select(
        "event_id", "event_type", "value", "robust_z"
    )


ORACLE_MAD = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d,
         ANY_VALUE(med.m) AS m
  FROM events e JOIN med USING (event_type)
  GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
  ROUND((e.value - mad.m) / (1.4826 * mad.d), 6) AS robust_z
FROM events e JOIN mad USING (event_type)
WHERE mad.d > 0 AND abs(e.value - mad.m) > 3.5 * (1.4826 * mad.d)
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval index build: posting lists (sorted, capped doc-id
    arrays) for the 50 highest-df corpus terms
    (operators/text.py::inverted_index). The cap applies BEFORE
    aggregation via a term-keyed row_number window, so no reducer ever
    materializes a stopword's corpus-sized posting list.

    The contract surface serializes the posting ARRAY to a
    comma-joined STRING: the driver's canonicalizer hashes cell values
    through a pandas factorize, which cannot hash list cells
    (r04 err: ``TypeError: unhashable type: 'list'``). The library
    operator keeps the semantic array form; only this oracle-facing
    projection flattens it — same information, hashable shape."""
    from data_pipeline_ine_spark.operators.text import inverted_index

    idx = inverted_index(_docs_parallel(spark, sf_dir))
    return idx.select(
        "term",
        "df",
        F.array_join(
            F.transform("postings", lambda x: x.cast("string")), ","
        ).alias("postings"),
    )


ORACLE_INVERTED_INDEX = """
WITH toks AS (
  SELECT DISTINCT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM toks GROUP BY 1
), top AS (
  SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 50
)
SELECT t.term, t.df,
  array_to_string(list_slice(list_sort(list(k.doc_id)), 1, 1000), ',')
    AS postings
FROM top t JOIN toks k USING (term)
GROUP BY t.term, t.df
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalized document length within each source — SQL
    PERCENT_RANK semantics computed WITHOUT a corpus-sized per-group
    window (operators/features.py::quantile_normalize: per-(group,value)
    counts + a distinct-values running sum + join back). The curation
    primitive for mixing incomparable quality scores."""
    from data_pipeline_ine_spark.operators.features import quantile_normalize

    docs = _docs_parallel(spark, sf_dir)
    return quantile_normalize(
        docs.select("doc_id", "source", "n_chars"), "n_chars", "source"
    ).select("doc_id", "source", "n_chars", "qnorm")


ORACLE_QUANTILE_NORMALIZE = """
SELECT doc_id, source, n_chars,
  ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars), 6) AS qnorm
FROM documents
"""


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup reporting: the cluster-size distribution of the transitive
    near-dup components — ``(cluster_size, n_clusters)`` — the histogram
    every dedup run publishes (how much of the corpus sits in how-large
    duplicate families). Pure composition over dedup_components; both
    aggregations are component-count sized."""
    from data_pipeline_ine_spark.operators.dedup import (
        dedup_components,
        jaccard_candidate_pairs,
    )

    docs = _docs_parallel(spark, sf_dir)
    pairs = jaccard_candidate_pairs(docs).filter(F.col("jaccard") >= 0.5)
    comp = dedup_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


ORACLE_DUP_CLUSTER_SIZES = (
    "WITH comp AS ( "
    + ORACLE_COMPONENTS
    + """ ), sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY 1
"""
)


def q_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT running distinct users by day
    (operators/timeseries.py::user_growth_curve): running
    COUNT(DISTINCT) has no mergeable exact form, but cumulative-distinct
    through day D = #users whose FIRST event ≤ D — two exact aggregates
    and a calendar-sized window, never a corpus sort."""
    from data_pipeline_ine_spark.operators.timeseries import user_growth_curve

    return user_growth_curve(load_table(spark, sf_dir, "events"))


ORACLE_USER_GROWTH = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
), daily AS (
  SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY 1
)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
  CAST(SUM(new_users) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_users
FROM daily
"""


def q_state_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily state occupancy from SCD2 validity intervals: distinct
    users in each state per calendar day
    (operators/timeseries.py::state_occupancy_daily over
    ::scd2_intervals). Interval→day-grid explosion bounded by interval
    length; open intervals clip to the data's own horizon."""
    from data_pipeline_ine_spark.operators.timeseries import (
        scd2_intervals,
        state_occupancy_daily,
    )

    iv = scd2_intervals(load_table(spark, sf_dir, "events"))
    return state_occupancy_daily(iv)


ORACLE_STATE_OCCUPANCY = (
    "WITH iv AS ( "
    + ORACLE_SCD2
    + """ ), horizon AS (
  SELECT MAX(valid_from) AS h FROM iv
), days AS (
  SELECT user_id, state,
    unnest(generate_series(CAST(valid_from AS DATE),
                           CAST(COALESCE(valid_to, horizon.h) AS DATE),
                           INTERVAL 1 DAY)) AS day
  FROM iv CROSS JOIN horizon
)
SELECT CAST(day AS DATE) AS day, state,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM days GROUP BY 1, 2
"""
)


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the part co-purchase graph in EXACT
    integer fixed-point (operators/graph.py::pagerank): ranks are BIGINT
    units of 1e-12, every step is integer div — the iterative algorithm
    with a bit-exact SQL oracle (unrolled iterations), something a
    float formulation can never have."""
    from data_pipeline_ine_spark.operators.graph import (
        cooccurrence_edges,
        pagerank,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_count=2)
    return pagerank(edges, iters=3)


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One unrolled integer-PageRank iteration CTE (mirrors graph.py)."""
    return f""", {out} AS (
  SELECT n.node,
    CAST(150000000000 + (85 * CAST(COALESCE(s.csum, 0) AS BIGINT)) // 100
         AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT ed.dst AS node, SUM(p.r // od.od) AS csum
    FROM ed JOIN {prev} p ON p.node = ed.src
    JOIN outdeg od ON od.src = ed.src
    GROUP BY 1
  ) s ON s.node = n.node
)"""


ORACLE_PAGERANK = (
    """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), e AS (
  SELECT a.item AS u, b.item AS v
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), ed AS (
  SELECT u AS src, v AS dst FROM e UNION SELECT v, u FROM e
), outdeg AS (
  SELECT src, COUNT(*) AS od FROM ed GROUP BY 1
), nodes AS (
  SELECT DISTINCT src AS node FROM ed
), r0 AS (
  SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes
)"""
    + _pagerank_iter_sql("r0", "r1")
    + _pagerank_iter_sql("r1", "r2")
    + _pagerank_iter_sql("r2", "r3")
    + """
SELECT node, r AS rank_scaled FROM r3
"""
)


def q_grid_nearest_depot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale spatial NN: each customer's nearest supplier depot
    within Euclidean radius 25 (operators/layout.py::grid_nn_join) —
    the promised scale path for ``nearest_station``'s broadcast
    (reference geo catalog, step5_create_views.py:503-539), now code:
    eps-grid cell keys, a 9-cell probe explode, ONE equi-join on the
    cell key — density-bounded work, never |customers|x|suppliers|.
    Coordinates are deterministic modular-hash placements of the keys
    (integer arithmetic, engine-identical), so the all-pairs oracle
    reproduces the result bit-for-bit."""
    from data_pipeline_ine_spark.operators.layout import grid_nn_join

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        ((F.col("c_custkey") * 48271 % 18000) / F.lit(100.0)).alias("x"),
        ((F.col("c_custkey") * 16807 % 36000) / F.lit(100.0)).alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("depot"),
        ((F.col("s_suppkey") * 12345 % 18000) / F.lit(100.0)).alias("x"),
        ((F.col("s_suppkey") * 54321 % 36000) / F.lit(100.0)).alias("y"),
    )
    nn = grid_nn_join(
        cust, supp, eps=25.0, point_id="cust", site_id="depot"
    )
    return nn.select("cust", "depot", F.round("d2", 6).alias("d2"))


ORACLE_GRID_NEAREST_DEPOT = """
WITH pts AS (
  SELECT c_custkey AS cust,
    (c_custkey * 48271 % 18000) / 100.0 AS x,
    (c_custkey * 16807 % 36000) / 100.0 AS y
  FROM customer
), st AS (
  SELECT s_suppkey AS depot,
    (s_suppkey * 12345 % 18000) / 100.0 AS x,
    (s_suppkey * 54321 % 36000) / 100.0 AS y
  FROM supplier
), cand AS (
  SELECT p.cust, s.depot,
    (p.x - s.x) * (p.x - s.x) + (p.y - s.y) * (p.y - s.y) AS d2
  FROM pts p CROSS JOIN st s
)
SELECT cust, depot, ROUND(d2, 6) AS d2
FROM (
  SELECT cust, depot, d2,
    ROW_NUMBER() OVER (PARTITION BY cust ORDER BY d2, depot) AS rn
  FROM cand WHERE d2 <= 625.0
) q
WHERE rn = 1
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-100 adjacent-word bigrams by exact
    integer-count PMI lift (operators/text.py::pmi_collocations).
    Transcendental log deliberately excluded from the hash surface —
    the unigram_logloss r2/r3 lesson — so the emitted lift is one IEEE
    division of exact BIGINT products, engine-identical."""
    from data_pipeline_ine_spark.operators.text import pmi_collocations

    return pmi_collocations(_docs_parallel(spark, sf_dir))


ORACLE_PMI_COLLOCATIONS = """
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS arr FROM documents
), idx AS (
  SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i FROM toks
), big AS (
  SELECT arr[i] AS w1, arr[i + 1] AS w2 FROM idx
), pair AS (
  SELECT w1, w2, COUNT(*) AS n_ab FROM big GROUP BY 1, 2
), lft AS (
  SELECT w1, SUM(n_ab) AS n_a FROM pair GROUP BY 1
), rgt AS (
  SELECT w2, SUM(n_ab) AS n_b FROM pair GROUP BY 1
), tot AS (
  SELECT SUM(n_ab) AS n_total FROM pair
)
SELECT p.w1, p.w2, CAST(p.n_ab AS BIGINT) AS n_ab,
  CAST(l.n_a AS BIGINT) AS n_a, CAST(r.n_b AS BIGINT) AS n_b,
  ROUND(CAST(p.n_ab AS DOUBLE) * t.n_total / (l.n_a * r.n_b), 6) AS lift
FROM pair p
JOIN lft l USING (w1)
JOIN rgt r USING (w2)
CROSS JOIN tot t
WHERE p.n_ab >= 3
ORDER BY lift DESC, w1, w2
LIMIT 100
"""


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of the part catalog on (price low,
    size high) (operators/windows.py::skyline_2d) — multi-criteria
    shortlist with NO all-pairs comparison: a two-phase distributed
    cumulative max over price groups replaces both the quadratic
    dominance test and the single-task global window."""
    from data_pipeline_ine_spark.operators.windows import skyline_2d

    part = load_table(spark, sf_dir, "part")
    sky = skyline_2d(part, minimize="p_retailprice", maximize="p_size")
    return sky.select("p_partkey", "p_retailprice", "p_size")


ORACLE_PARETO_PARTS = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


def q_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage over the part catalog
    (operators/fuzzy.py::record_linkage_scores): Fellegi-Sunter
    likelihood-ratio scores with frequency-based u-probabilities,
    blocked on (brand, size), comparing type and the name's head token.
    The score surface is a fixed-order product of IEEE divisions of
    exact BIGINT counts — the oracle spells the disagreement prior as
    the expression (1.0 - 0.9), matching Python float semantics
    bit-for-bit (the literal 0.1 is a DIFFERENT double)."""
    from data_pipeline_ine_spark.operators.fuzzy import record_linkage_scores

    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        "p_brand",
        "p_size",
        "p_type",
        F.split("p_name", " ")[0].alias("name_head"),
    )
    return record_linkage_scores(
        p,
        id_col="id",
        block_cols=["p_brand", "p_size"],
        compare_cols=["p_type", "name_head"],
        m=0.9,
        top_k=200,
    )


ORACLE_LINKAGE_SCORES = """
WITH p AS (
  SELECT p_partkey AS id, p_brand, p_size, p_type,
         split_part(p_name, ' ', 1) AS name_head
  FROM part
), n AS (SELECT COUNT(*) AS n_total FROM p),
st AS (SELECT SUM(c*c) AS s_type
       FROM (SELECT COUNT(*) AS c FROM p GROUP BY p_type)),
sh AS (SELECT SUM(c*c) AS s_head
       FROM (SELECT COUNT(*) AS c FROM p GROUP BY name_head)),
pr AS (
  SELECT a.id AS id_a, b.id AS id_b,
    NOT (a.p_type IS DISTINCT FROM b.p_type) AS agree_p_type,
    NOT (a.name_head IS DISTINCT FROM b.name_head) AS agree_name_head,
    (CASE WHEN NOT (a.p_type IS DISTINCT FROM b.p_type)
       THEN 0.9 / (CAST(st.s_type AS DOUBLE) / (n.n_total * n.n_total))
       ELSE (1.0 - 0.9)
            / (1.0 - CAST(st.s_type AS DOUBLE) / (n.n_total * n.n_total))
     END)
    * (CASE WHEN NOT (a.name_head IS DISTINCT FROM b.name_head)
       THEN 0.9 / (CAST(sh.s_head AS DOUBLE) / (n.n_total * n.n_total))
       ELSE (1.0 - 0.9)
            / (1.0 - CAST(sh.s_head AS DOUBLE) / (n.n_total * n.n_total))
     END) AS score
  FROM p a
  JOIN p b ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.id < b.id
  CROSS JOIN n CROSS JOIN st CROSS JOIN sh
)
SELECT id_a, id_b, agree_p_type, agree_name_head,
       ROUND(score, 6) AS score
FROM pr
ORDER BY ROUND(score, 6) DESC, id_a, id_b
LIMIT 200
"""


def q_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift monitor (operators/quality.py::
    distribution_drift): the post-cutoff event values bucketed by the
    pre-cutoff sample's exact decile edges, with per-bucket Pearson
    chi-square contributions — expected-vs-actual over exact counts,
    chosen over PSI/KL because chi-square needs no transcendental log
    in the hash surface."""
    from data_pipeline_ine_spark.operators.quality import distribution_drift

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp_ntz")
    return distribution_drift(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        "value",
    )


_DRIFT_FRACS = ", ".join(str(i / 10) for i in range(1, 10))
ORACLE_VALUE_DRIFT = f"""
WITH ref AS (
  SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-20'
), cur AS (
  SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-20'
), e AS (
  SELECT quantile_cont(value, [{_DRIFT_FRACS}]) AS edges FROM ref
), rb AS (
  SELECT len(list_filter(e.edges, x -> r.value > x)) AS bucket,
         COUNT(*) AS ref_n
  FROM ref r, e GROUP BY 1
), cb AS (
  SELECT len(list_filter(e.edges, x -> c.value > x)) AS bucket,
         COUNT(*) AS cur_n
  FROM cur c, e GROUP BY 1
), t AS (
  SELECT (SELECT COUNT(*) FROM ref) AS rn, (SELECT COUNT(*) FROM cur) AS cn
)
SELECT rb.bucket, CAST(rb.ref_n AS BIGINT) AS ref_n,
  CAST(COALESCE(cb.cur_n, 0) AS BIGINT) AS cur_n,
  ROUND(
    (COALESCE(cb.cur_n, 0) - CAST(rb.ref_n AS DOUBLE) / t.rn * t.cn)
    * (COALESCE(cb.cur_n, 0) - CAST(rb.ref_n AS DOUBLE) / t.rn * t.cn)
    / (CAST(rb.ref_n AS DOUBLE) / t.rn * t.cn), 6) AS chi2
FROM rb LEFT JOIN cb USING (bucket) CROSS JOIN t
"""


def q_media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel-tier decode, oracle-checked cross-engine: synthesize
    genuine PNGs AND GIFs whose rasters carry the gradient
    ``(x + y + id) % 256`` (``with_synthetic_media``; the GIF's raster
    is a real LZW stream over a grayscale palette), fully decode them —
    zlib inflate + scanline un-filtering for PNG, pure-Python LZW for
    GIF, no PIL (operators/pixels.py) — and emit exact integer pixel
    statistics (operators/multimodal.py::image_pixel_stats). The oracle
    never sees a byte: it regenerates every pixel from the closed form
    in SQL and aggregates, so any inflate/filter/LZW/indexing bug
    breaks the match."""
    from data_pipeline_ine_spark.operators.multimodal import (
        image_pixel_stats,
        with_synthetic_media,
    )

    # single-row-group testdata parquet -> one task without this; the
    # per-doc LZW/inflate work is the dominant cost and must fan out
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("n_chars", F.lit(0)).alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return image_pixel_stats(with_synthetic_media(docs))


ORACLE_MEDIA_PIXEL_STATS = """
WITH d AS (
  SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h, 1 AS ch
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 4 + doc_id % 64 AS w, 4 + doc_id % 32 AS h, 3 AS ch
  FROM documents WHERE doc_id % 4 = 1
), xs AS (
  SELECT doc_id, w, h, ch, unnest(generate_series(0, w - 1)) AS x FROM d
), px AS (
  SELECT doc_id, w, h, ch, x, unnest(generate_series(0, h - 1)) AS y FROM xs
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(ch AS INT) AS n_channels,
  CAST(w * h * ch AS BIGINT) AS n_pixels,
  CAST(ch * SUM((x + y + doc_id) % 256) AS BIGINT) AS pixel_sum,
  CAST(MIN((x + y + doc_id) % 256) AS INT) AS px_min,
  CAST(MAX((x + y + doc_id) % 256) AS INT) AS px_max
FROM px
GROUP BY doc_id, w, h, ch
"""


def q_audio_dominant_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio spectral analysis, oracle-checked: decode the
    synthetic 16-bit PCM WAVs (square wave, alternating +A/-A), window
    into 256-sample frames, FFT each (numpy), emit the dominant
    frequency bin (operators/multimodal.py::audio_dominant_freq). A
    square wave at the sample-alternation rate concentrates its energy
    at Nyquist, so the oracle knows the argmax bin in closed form
    (n_fft/2 = 128) and the window count from the generator's frame
    formula — integer-only surface, no float crosses the hash."""
    from data_pipeline_ine_spark.operators.multimodal import (
        audio_dominant_freq,
        with_synthetic_media,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("n_chars", F.lit(0)).alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return audio_dominant_freq(with_synthetic_media(docs))


ORACLE_AUDIO_DOMINANT_FREQ = """
SELECT doc_id,
  CAST((400 + COALESCE(n_chars, 0) % 600) // 256 AS INT) AS n_windows,
  CAST(128 AS INT) AS dominant_bin
FROM documents WHERE doc_id % 4 = 2
"""


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE video path oracle-checked cross-engine: synthesize an
    MJPEG-AVI clip per document (operators/multimodal.py::
    with_synthetic_video — flat grayscale frames, JPEG q92), demux
    every 2nd frame through the RIFF walker (demux_video_frames), pixel
    -decode each frame with the in-repo baseline-JPEG codec, and emit
    exact integer pixel statistics. Flat frames make the lossy codec
    exact (all AC = 0; DC quant step 3 ⇒ error < 0.5 px, rounds back),
    so the oracle predicts every demuxed frame's pixel sum in closed
    form — any container/Huffman/DCT/demux bug breaks the match."""
    from data_pipeline_ine_spark.operators.multimodal import (
        demux_video_frames,
        image_pixel_stats,
        with_synthetic_video,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    frames = demux_video_frames(with_synthetic_video(docs), every_n=2)
    keyed = frames.select(
        (F.col("doc_id") * 1000 + F.col("frame_idx")).alias("doc_id"),
        F.col("frame").alias("media"),
    )
    stats = image_pixel_stats(keyed)
    return stats.select(
        F.floor(F.col("doc_id") / 1000).cast("bigint").alias("doc_id"),
        (F.col("doc_id") % 1000).cast("int").alias("frame_idx"),
        "width",
        "height",
        "pixel_sum",
    )


ORACLE_VIDEO_FRAME_STATS = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h,
         2 + doc_id % 4 AS nf
  FROM documents
), fr AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, nf - 1, 2)) AS frame_idx
  FROM d
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(w * h * ((doc_id * 7 + frame_idx * 31) % 200 + 28) AS BIGINT)
    AS pixel_sum
FROM fr
"""


def q_dup_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal duplicated-span coverage per document: the share
    of each doc's distinct word 3-grams that occur in at least one OTHER
    document (operators/text.py::dup_span_stats) — the exact-substring
    train-data dedup signal (Lee et al. 2022). Spans travel as 48-bit
    md5 folds; two span-keyed shuffles, nothing quadratic."""
    from data_pipeline_ine_spark.operators.text import dup_span_stats

    return dup_span_stats(_docs_parallel(spark, sf_dir), k=3)


ORACLE_DUP_SPAN = (
    r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS tokens FROM documents
), s AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, GREATEST(len(tokens) - 2, 1) + 1),
      i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS shs
  FROM t
), spans AS (
  SELECT doc_id, len(shs) AS n_spans, unnest(shs) AS sh FROM s
), hashed AS (
  SELECT doc_id, n_spans, HEX_FOLD AS sh_hash FROM spans
), dup AS (
  SELECT sh_hash FROM hashed GROUP BY 1 HAVING COUNT(*) >= 2
)
SELECT h.doc_id, h.n_spans, COUNT(*) AS n_dup_spans,
  ROUND(COUNT(*) / h.n_spans, 6) AS dup_ratio
FROM hashed h JOIN dup USING (sh_hash)
GROUP BY 1, 2
"""
).replace("HEX_FOLD", _HEX12.format(h="md5(sh)"))


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via an engine-portable count-min sketch
    (operators/sketches.py::cms_heavy_hitters): multiply-shift hashes in
    plain BIGINT, d=4 × w=512 cells, est = min over rows — the oracle
    reproduces the sketch cell-for-cell, which the binary DataSketches
    aggregates can't offer. est ≥ exact always (one-sided error)."""
    from data_pipeline_ine_spark.operators.sketches import cms_heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    return cms_heavy_hitters(ev, "user_id", threshold=80)


ORACLE_CMS = """
WITH params(hrow, a, b) AS (
  VALUES (0, 1000003, 12345), (1, 2000029, 67891),
         (2, 3000073, 24681), (3, 4000037, 13579)
), cells AS (
  SELECT p.hrow,
         ((e.user_id * p.a + p.b) % 2305843009213693951) % 512 AS bucket,
         COUNT(*) AS cell_count
  FROM events e CROSS JOIN params p
  GROUP BY 1, 2
), keys AS (
  SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY 1
), est AS (
  SELECT k.user_id, MIN(c.cell_count) AS cms_count
  FROM keys k CROSS JOIN params p
  JOIN cells c ON c.hrow = p.hrow
   AND c.bucket = ((k.user_id * p.a + p.b) % 2305843009213693951) % 512
  GROUP BY 1
)
SELECT e.user_id, e.cms_count, k.exact_count
FROM est e JOIN keys k USING (user_id)
WHERE e.cms_count >= 80
"""


def q_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=1/2, trailing-16 truncation) of event values
    (operators/timeseries.py::ewma_smooth). Values are fixed-pointed to
    integer cents and every weight is an exact power of two, so the fold
    is EXACT IEEE arithmetic — hash-reproducible by any engine, which a
    naive float EWMA is not. One key-partitioned window, bounded state."""
    from data_pipeline_ine_spark.operators.timeseries import ewma_smooth

    ev = load_table(spark, sf_dir, "events")
    return ewma_smooth(ev, "value", "user_id", "ts", "event_id", window=16)


ORACLE_EWMA = """
WITH e AS (
  SELECT event_id, user_id, ts, value,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT a.event_id, a.user_id, a.ts, a.value,
  -- no ROUND: the weighted sum is exact dyadic arithmetic and /100.0 is one
  -- correctly-rounded IEEE divide — bit-identical across engines, whereas
  -- ROUND(x, 6) lands exactly on half-way points where engines disagree
  SUM(b.vc * (CASE WHEN b.rn = GREATEST(a.rn - 15, 1)
              THEN 1.0 / CAST(1 << (a.rn - b.rn) AS DOUBLE)
              ELSE 1.0 / CAST(1 << (a.rn - b.rn + 1) AS DOUBLE)
              END)) / 100.0 AS ewma
FROM e a JOIN e b
  ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 15 AND a.rn
GROUP BY a.event_id, a.user_id, a.ts, a.value
"""


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end: deterministic codebook (the
    8 lowest-id vectors, fixed-point ints), per-vector PQ codes via a
    zero-shuffle integer argmin fold, and asymmetric-distance top-10 for
    the highest-id vector as query (operators/similarity.py::
    pq_codebook/pq_encode/pq_topk). 64 float dims become 4 byte-codes —
    the compression layer of IVF-PQ — and every distance is exact BIGINT
    so the oracle reproduces the ranking bit-for-bit."""
    from data_pipeline_ine_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, m=4, n_codes=8)
    qrow = emb.orderBy(F.desc("vec_id")).select("embedding").head()
    codes = pq_encode(emb, cb)
    return pq_topk(codes, cb, qrow[0], k=10)


# Shared PQ CTE chain: fixed-point dims, deterministic lowest-id codebook,
# integer-exact per-subspace argmin encode — reused by pq_topk and
# pq_dedup_groups oracles.
_PQ_ENC_CTE = """
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), vint AS (
  SELECT vec_id, i, CAST((i - 1) // 16 AS INT) AS s,
         CAST(floor(x * 10000 + 0.5) AS BIGINT) AS vi
  FROM dims
), cb AS (
  SELECT vec_id AS cb_vec, row_number() OVER (ORDER BY vec_id) - 1 AS c
  FROM embeddings ORDER BY vec_id LIMIT 8
), cbdims AS (
  SELECT cb.c, v.i, v.s, v.vi AS cv
  FROM cb JOIN vint v ON v.vec_id = cb.cb_vec
), enc_dist AS (
  SELECT v.vec_id, v.s, cb.c,
         SUM((v.vi - cb.cv) * (v.vi - cb.cv)) AS d
  FROM vint v JOIN cbdims cb ON cb.i = v.i
  GROUP BY 1, 2, 3
), enc AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rk
    FROM enc_dist) WHERE rk = 1
)
"""

ORACLE_PQ_TOPK = _PQ_ENC_CTE + """
, q AS (
  SELECT s, i, vi FROM vint
  WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
), lut AS (
  SELECT cb.s, cb.c, SUM((q.vi - cb.cv) * (q.vi - cb.cv)) AS d
  FROM q JOIN cbdims cb ON cb.i = q.i
  GROUP BY 1, 2
)
SELECT e.vec_id, CAST(SUM(l.d) AS BIGINT) AS pq_dist
FROM enc e JOIN lut l ON l.s = e.s AND l.c = e.c
GROUP BY 1
ORDER BY pq_dist, vec_id
LIMIT 10
"""

# IVF-PQ serving oracle: the PQ encode/LUT chain above, restricted to
# the n_probe=2 labels whose per-label mean centroid is nearest (rounded
# cosine, label tiebreak) the same max-id query — exactly what
# read_ivfpq_probe's pruned ADC scan computes.
ORACLE_ANN_IVFPQ = _PQ_ENC_CTE + """
, e2 AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qv AS (
  SELECT v AS qv FROM e2
  WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
), cdims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e2, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
), cent AS (
  SELECT label, list(c ORDER BY d) AS centroid FROM cdims GROUP BY label
), probes AS (
  SELECT label FROM cent, qv
  ORDER BY ROUND(list_dot_product(centroid, qv.qv)
        / (sqrt(list_dot_product(centroid, centroid))
           * sqrt(list_dot_product(qv.qv, qv.qv))), 6) DESC, label
  LIMIT 2
), q AS (
  SELECT s, i, vi FROM vint
  WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
), lut AS (
  SELECT cb.s, cb.c, SUM((q.vi - cb.cv) * (q.vi - cb.cv)) AS d
  FROM q JOIN cbdims cb ON cb.i = q.i
  GROUP BY 1, 2
)
SELECT e.vec_id AS vec_id, CAST(SUM(l.d) AS BIGINT) AS pq_dist
FROM enc e
JOIN e2 ON e2.vec_id = e.vec_id
JOIN probes USING (label)
JOIN lut l ON l.s = e.s AND l.c = e.c
GROUP BY e.vec_id
ORDER BY pq_dist, e.vec_id
LIMIT 10
"""


# shared CTE suffix for the batched IVF-PQ oracles: per-query probe
# choice (rounded centroid cosine, label tiebreak) + per-query integer
# ADC LUT over the _PQ_ENC_CTE codebook chain, ranked per query.
_PQ_BATCH_CTE = """
, e2 AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qs AS (
  SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e2 WHERE vec_id < 3
), cdims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e2, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
), cent AS (
  SELECT label, list(c ORDER BY d) AS centroid FROM cdims GROUP BY label
), pr AS (
  SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY ROUND(list_dot_product(centroid, qv)
      / (sqrt(list_dot_product(centroid, centroid))
         * sqrt(list_dot_product(qv, qv))), 6) DESC, label) AS rn
  FROM cent, qs
), probes AS (SELECT query_id, label FROM pr WHERE rn <= 2),
qd AS (
  SELECT CAST(vec_id AS INT) AS query_id, s, i, vi FROM vint
  WHERE vec_id < 3
), lut AS (
  SELECT qd.query_id, cb.s, cb.c, SUM((qd.vi - cb.cv) * (qd.vi - cb.cv)) AS d
  FROM qd JOIN cbdims cb ON cb.i = qd.i
  GROUP BY 1, 2, 3
), cand AS (
  SELECT p.query_id, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS pq_dist
  FROM enc e
  JOIN e2 ON e2.vec_id = e.vec_id
  JOIN probes p ON p.label = e2.label
  JOIN lut l ON l.query_id = p.query_id AND l.s = e.s AND l.c = e.c
  GROUP BY 1, 2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY pq_dist, vec_id) AS rank
  FROM cand
)
"""

ORACLE_ANN_IVFPQ_BATCH = _PQ_ENC_CTE + _PQ_BATCH_CTE + """
SELECT query_id, vec_id, pq_dist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


# the ADC chain of ORACLE_ANN_IVFPQ widened to a 50-candidate shortlist,
# then re-ranked EXACT (rounded cosine, id tiebreak) — stage 2 touches
# only shortlist rows, exactly what read_ivfpq_rerank's pushed-down id
# lookup computes.
ORACLE_ANN_IVFPQ_RERANK = _PQ_ENC_CTE + """
, e2 AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qv AS (
  SELECT v AS qv FROM e2
  WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
), cdims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e2, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
), cent AS (
  SELECT label, list(c ORDER BY d) AS centroid FROM cdims GROUP BY label
), probes AS (
  SELECT label FROM cent, qv
  ORDER BY ROUND(list_dot_product(centroid, qv.qv)
        / (sqrt(list_dot_product(centroid, centroid))
           * sqrt(list_dot_product(qv.qv, qv.qv))), 6) DESC, label
  LIMIT 2
), q AS (
  SELECT s, i, vi FROM vint
  WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
), lut AS (
  SELECT cb.s, cb.c, SUM((q.vi - cb.cv) * (q.vi - cb.cv)) AS d
  FROM q JOIN cbdims cb ON cb.i = q.i
  GROUP BY 1, 2
), short AS (
  SELECT e.vec_id AS vec_id, CAST(SUM(l.d) AS BIGINT) AS pq_dist
  FROM enc e
  JOIN e2 ON e2.vec_id = e.vec_id
  JOIN probes USING (label)
  JOIN lut l ON l.s = e.s AND l.c = e.c
  GROUP BY e.vec_id
  ORDER BY pq_dist, e.vec_id
  LIMIT 50
)
SELECT s.vec_id,
  ROUND(list_dot_product(e2.v, qv.qv)
        / (sqrt(list_dot_product(e2.v, e2.v))
           * sqrt(list_dot_product(qv.qv, qv.qv))), 6) AS cosine_sim
FROM short s JOIN e2 ON e2.vec_id = s.vec_id, qv
ORDER BY cosine_sim DESC, s.vec_id
LIMIT 10
"""


ORACLE_ANN_IVFPQ_RERANK_BATCH = _PQ_ENC_CTE + _PQ_BATCH_CTE + """
, short AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 50),
rr AS (
  SELECT s.query_id, s.vec_id,
    ROUND(list_dot_product(e2.v, qs.qv)
          / (sqrt(list_dot_product(e2.v, e2.v))
             * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS cosine_sim
  FROM short s
  JOIN e2 ON e2.vec_id = s.vec_id
  JOIN qs ON qs.query_id = s.query_id
), rr2 AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM rr
)
SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM rr2 WHERE rank <= 10
"""


def q_pq_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup by PQ quantization bucket (operators/similarity.py
    ::pq_dedup_groups): identical 4-code cells = semantic near-dup
    groups; one groupBy on the serialized code key, no pairwise join.
    The deterministic SemDeDup-style first pass at corpus scale."""
    from data_pipeline_ine_spark.operators.similarity import (
        pq_codebook,
        pq_dedup_groups,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, m=4, n_codes=8)
    return pq_dedup_groups(pq_encode(emb, cb))


ORACLE_PQ_DEDUP = _PQ_ENC_CTE + """
, keys AS (
  SELECT vec_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY s) AS pq_key
  FROM enc GROUP BY 1
)
SELECT pq_key, COUNT(*) AS n_members, MIN(vec_id) AS survivor_id
FROM keys GROUP BY 1 HAVING COUNT(*) >= 2
"""


def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend (value vs days since 2024-01-01) via
    closed-form OLS over decimal-exact moment sums
    (operators/features.py::grouped_ols) — millions of independent
    regressions in ONE group-keyed aggregate, engine-exact."""
    from data_pipeline_ine_spark.operators.features import grouped_ols

    ev = load_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    return grouped_ols(ev, x, F.col("value"), ["event_type"])


ORACLE_GROUPED_OLS = """
WITH b AS (
  SELECT event_type, value,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x
  FROM events
), m AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(25,4))) AS sx,
    SUM(CAST(value AS DECIMAL(25,4))) AS sy,
    SUM(CAST(x AS DECIMAL(25,4)) * CAST(value AS DECIMAL(25,4))) AS sxy,
    SUM(CAST(x AS DECIMAL(25,4)) * CAST(x AS DECIMAL(25,4))) AS sxx
  FROM b GROUP BY 1
)
SELECT event_type, n,
  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
  ROUND((CAST(sy AS DOUBLE)
         - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
FROM m
"""


def q_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint signal: next-8-mean minus previous-8-mean of value at
    every event, per event type (operators/features.py::
    level_shift_scores). Integer-cents frame sums + two IEEE divides —
    bit-identical cross-engine with no rounding; bounded 2×8-row frames,
    one shuffle."""
    from data_pipeline_ine_spark.operators.features import level_shift_scores

    ev = load_table(spark, sf_dir, "events")
    return level_shift_scores(ev, "value", "event_type", "ts", "event_id", w=8)


ORACLE_LEVEL_SHIFT = """
WITH e AS (
  SELECT event_id, event_type, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events
), w AS (
  SELECT event_id, event_type, ts,
    COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS nb,
    COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING) AS na,
    SUM(vc) OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS sb,
    SUM(vc) OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING) AS sa
  FROM e
)
SELECT event_id, event_type, ts,
  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
   - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0 AS level_shift
FROM w WHERE nb = 8 AND na = 8
"""


def q_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style reconciliation (operators/diff.py::bucket_hash_diff):
    lineitem vs a replica missing every 997th order — only cell hashes
    cross the network, and exactly the buckets holding dropped rows
    report bucket_match = false. Doubles are canonicalized to integer
    cents BEFORE hashing so the row digest is engine-portable."""
    from data_pipeline_ine_spark.operators.diff import bucket_hash_diff

    li = load_table(spark, sf_dir, "lineitem")
    canon = li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("qty_c"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
    )
    replica = canon.filter(F.col("l_orderkey") % 997 != 0)
    return bucket_hash_diff(
        canon,
        replica,
        ["l_orderkey", "l_linenumber"],
        ["qty_c", "price_c"],
        n_buckets=64,
    )


ORACLE_TABLE_RECONCILE = (
    r"""
WITH canon AS (
  SELECT l_orderkey, l_linenumber,
    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM lineitem
), hashed AS (
  SELECT KEY_FOLD % 64 AS bucket, ROW_FOLD AS h, l_orderkey FROM (
    SELECT concat_ws(chr(31), CAST(l_orderkey AS VARCHAR),
      CAST(l_linenumber AS VARCHAR)) AS ksh,
      concat_ws(chr(31), CAST(l_orderkey AS VARCHAR),
      CAST(l_linenumber AS VARCHAR), CAST(qty_c AS VARCHAR),
      CAST(price_c AS VARCHAR)) AS sh, l_orderkey
    FROM canon)
), l AS (
  SELECT bucket, COUNT(*) AS left_rows,
    CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS left_hash
  FROM hashed GROUP BY 1
), r AS (
  SELECT bucket, COUNT(*) AS right_rows,
    CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS right_hash
  FROM hashed WHERE l_orderkey % 997 != 0 GROUP BY 1
)
SELECT COALESCE(l.bucket, r.bucket) AS bucket,
  COALESCE(left_rows, 0) AS left_rows,
  COALESCE(right_rows, 0) AS right_rows,
  (COALESCE(left_hash, -1) = COALESCE(right_hash, -2)
   AND COALESCE(left_rows, 0) = COALESCE(right_rows, -1)) AS bucket_match
FROM l FULL OUTER JOIN r ON l.bucket = r.bucket
"""
).replace("KEY_FOLD", _HEX12.format(h="md5(ksh)")).replace(
    "ROW_FOLD", _HEX12.format(h="md5(sh)")
)


def q_rp_cosine_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64→16 dims (operators/
    similarity.py::random_projection — formula matrix, integer-exact,
    zero shuffles) verified end-to-end: cosine between consecutive ids
    IN THE PROJECTED SPACE, with exact DECIMAL(38,0) dot/norm sums so
    the only doubles are two sqrt's and one divide from exact inputs."""
    from data_pipeline_ine_spark.operators.similarity import random_projection

    proj = random_projection(load_table(spark, sf_dir, "embeddings"), out_dim=16)
    a = proj.select(F.col("vec_id"), F.col("proj").alias("pa"))
    b = proj.select((F.col("vec_id") - 1).alias("vec_id"), F.col("proj").alias("pb"))

    def ddot(x: str, y: str) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col(x),
                F.col(y),
                lambda u, v: u.cast("decimal(38,0)") * v,
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, t: acc + t,
        )

    return (
        a.join(b, "vec_id")
        .select(
            "vec_id",
            F.round(
                ddot("pa", "pb").cast("double")
                / (
                    F.sqrt(ddot("pa", "pa").cast("double"))
                    * F.sqrt(ddot("pb", "pb").cast("double"))
                ),
                6,
            ).alias("rp_cosine"),
        )
    )


ORACLE_RP_COSINE = """
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), vint AS (
  SELECT vec_id, i, CAST(floor(x * 10000 + 0.5) AS BIGINT) AS vi FROM dims
), proj AS (
  SELECT v.vec_id, js.j,
    SUM(v.vi * (((v.i - 1) * 2654435761 + js.j * 40503 + 12345) % 65536
                - 32768)) AS p
  FROM vint v CROSS JOIN (SELECT unnest(range(16)) AS j) js
  GROUP BY 1, 2
), pairs AS (
  SELECT a.vec_id,
    SUM(CAST(a.p AS HUGEINT) * b.p) AS dot,
    SUM(CAST(a.p AS HUGEINT) * a.p) AS na,
    SUM(CAST(b.p AS HUGEINT) * b.p) AS nb
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1 AND b.j = a.j
  GROUP BY 1
)
SELECT vec_id,
  ROUND(CAST(dot AS DOUBLE)
        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
    AS rp_cosine
FROM pairs
"""


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick) in long sparse format
    (operators/text.py::hashed_features): token counts folded into 64
    md5 buckets — bounded-width features with no vocabulary pass. One
    explode + one (doc, bucket) aggregate."""
    from data_pipeline_ine_spark.operators.text import hashed_features

    return hashed_features(_docs_parallel(spark, sf_dir), n_buckets=64)


ORACLE_HASHED_FEATURES = (
    r"""
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
)
SELECT doc_id, HEX_FOLD % 64 AS bucket, COUNT(*) AS tf
FROM toks GROUP BY 1, 2
"""
).replace("HEX_FOLD", _HEX12.format(h="md5(tok)"))


def q_nb_source_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained and scored entirely in Catalyst
    (operators/classify.py): hashed 64-bucket features → one-pass keyed
    aggregates for the model (labels × buckets BIGINT weights via the
    fixed-point -ln recipe) → broadcast-join scoring with integer
    argmin. The supervised curation gate (source attribution) with a
    full cross-engine oracle — no ML library anywhere."""
    from data_pipeline_ine_spark.operators.classify import nb_predict, nb_train
    from data_pipeline_ine_spark.operators.text import hashed_features

    docs = _docs_parallel(spark, sf_dir)
    feats = hashed_features(docs, n_buckets=64).localCheckpoint(eager=False)
    labels = docs.select("doc_id", F.col("source").alias("label"))
    priors, lik = nb_train(feats, labels, n_buckets=64)
    return nb_predict(feats, priors, lik)


# NB model CTEs (tokenize → hashed features → trained model) shared by
# the prediction oracle and the decile-lift oracle.
_NB_MODEL_CTE = (
    r"""
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
), feats AS (
  SELECT doc_id, HEX_FOLD % 64 AS bucket, COUNT(*) AS tf
  FROM toks GROUP BY 1, 2
), lab AS (
  SELECT doc_id, source AS label FROM documents
), tagged AS (
  SELECT f.doc_id, f.bucket, f.tf, l.label
  FROM feats f JOIN lab l USING (doc_id)
), cells AS (
  SELECT label, bucket, SUM(tf) AS cnt FROM tagged GROUP BY 1, 2
), ltot AS (
  SELECT label, SUM(tf) AS tot FROM tagged GROUP BY 1
), grid AS (
  SELECT l.label, l.tot, b.bucket
  FROM ltot l CROSS JOIN (SELECT unnest(range(64)) AS bucket) b
), lik AS (
  SELECT g.label, g.bucket,
    CAST(floor(-ln(CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE)
                   / CAST(g.tot + 64 AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)
      AS nlp
  FROM grid g LEFT JOIN cells c ON c.label = g.label AND c.bucket = g.bucket
), pri AS (
  SELECT label,
    CAST(floor(-ln(CAST(COUNT(*) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM lab) AS DOUBLE)) * 1e12
               + 0.5) AS BIGINT) AS nlp_prior
  FROM lab GROUP BY 1
)
"""
).replace("HEX_FOLD", _HEX12.format(h="md5(tok)"))

ORACLE_NB = _NB_MODEL_CTE + r"""
, ll AS (
  SELECT f.doc_id, k.label, SUM(f.tf * k.nlp) AS s
  FROM feats f JOIN lik k USING (bucket)
  GROUP BY 1, 2
), sc AS (
  SELECT ll.doc_id, ll.label,
    CAST(ll.s + p.nlp_prior AS BIGINT) AS score_e12,
    row_number() OVER (PARTITION BY ll.doc_id
                       ORDER BY ll.s + p.nlp_prior, ll.label) AS rk
  FROM ll JOIN pri p ON p.label = ll.label
)
SELECT doc_id, label AS predicted, score_e12 FROM sc WHERE rk = 1
"""


def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (CCNet/RefinedWeb curation step):
    segments recurring in >9/10 of a source's documents are discovered
    per source (integer-rational ratio test — the testdata's 31-word
    vocabulary makes the usual 1/2 threshold degenerate, same tiny-vocab
    caveat as PPJoin) and scrubbed from every document with a BROADCAST
    dictionary + higher-order filter — zero corpus-sized shuffle in the
    apply (operators/text.py::scrub_boilerplate). The single-line
    testdata corpus uses the token delimiter; the operator's default is
    newline (pytest covers the multi-line path). ``clean_md5`` hashes
    the re-joined kept segments, so a single mis-kept/mis-dropped
    segment anywhere breaks the match."""
    from data_pipeline_ine_spark.operators.text import scrub_boilerplate

    docs = _docs_parallel(spark, sf_dir).select("doc_id", "source", "text")
    out = scrub_boilerplate(
        docs, delim=" ", max_doc_ratio_num=9, max_doc_ratio_den=10
    )
    return out.select(
        "doc_id",
        "source",
        "n_segments",
        "n_boiler",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


ORACLE_BOILERPLATE_SCRUB = """
WITH nd AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM documents GROUP BY 1
), segs AS (
  SELECT doc_id, source,
    unnest(list_filter(string_split(text, ' '), s -> s <> '')) AS segment
  FROM documents
), segdf AS (
  SELECT source, segment, COUNT(DISTINCT doc_id) AS seg_df
  FROM segs GROUP BY 1, 2
), boiler AS (
  SELECT s.source, list(s.segment) AS bl
  FROM segdf s JOIN nd USING (source)
  WHERE s.seg_df >= 2 AND s.seg_df * 10 > nd.n_docs * 9
  GROUP BY 1
), cleaned AS (
  SELECT d.doc_id, d.source,
    list_filter(string_split(d.text, ' '), s -> s <> '') AS segs,
    list_filter(segs,
                s -> NOT list_contains(COALESCE(b.bl, []), s)) AS kept
  FROM documents d LEFT JOIN boiler b USING (source)
)
SELECT doc_id, source,
  CAST(len(segs) AS INT) AS n_segments,
  CAST(len(segs) - len(kept) AS INT) AS n_boiler,
  md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5
FROM cleaned
"""


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing for vision-data dedup, oracle-checked at
    the BIT level: synthesize real PNGs and GIFs (gradient rasters),
    fully decode them (zlib/filters/LZW — operators/pixels.py), then
    compute the 64-bit dHash — integer grayscale, pure-integer
    nearest-neighbor downscale to 9x8, one bit per adjacent-cell
    comparison (operators/multimodal.py::image_dhash). The oracle never
    decodes a byte: it regenerates the downscaled grid from the
    closed-form gradient ``(x + y + id) % 256`` and rebuilds both hash
    halves in SQL, so any decode, resample, or bit-packing bug flips
    bits and breaks the match."""
    from data_pipeline_ine_spark.operators.multimodal import (
        image_dhash,
        with_synthetic_media,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("n_chars", F.lit(0)).alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return image_dhash(with_synthetic_media(docs))


ORACLE_IMAGE_DHASH = """
WITH d AS (
  SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 4 + doc_id % 64 AS w, 4 + doc_id % 32 AS h
  FROM documents WHERE doc_id % 4 = 1
), rws AS (
  SELECT doc_id, w, h, unnest(generate_series(0, 7)) AS r FROM d
), cells AS (
  SELECT doc_id, w, h, r, unnest(generate_series(0, 7)) AS c FROM rws
), bits AS (
  SELECT doc_id, w, h, r, c,
    CASE WHEN ((((c + 1) * w) // 9 + (r * h) // 8 + doc_id) % 256)
            > (((c * w) // 9 + (r * h) // 8 + doc_id) % 256)
         THEN 1 ELSE 0 END AS bit
  FROM cells
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(SUM(CASE WHEN r * 8 + c >= 32
                THEN bit * (CAST(1 AS BIGINT) << (r * 8 + c - 32))
                ELSE 0 END) AS BIGINT) AS dhash_hi,
  CAST(SUM(CASE WHEN r * 8 + c < 32
                THEN bit * (CAST(1 AS BIGINT) << (r * 8 + c))
                ELSE 0 END) AS BIGINT) AS dhash_lo
FROM bits GROUP BY doc_id, w, h
"""


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom-filter membership screening: build one 2048-bit
    filter per non-src0 source over document texts, probe every src0
    document against all of them, and count per probe how many sources
    *possibly* contain it (operators/sketches.py::bloom_build/probe).
    The filter's md5-sliced bit positions are engine-invariant, so the
    oracle rebuilds every 32-bit word cell-exactly in SQL — including
    the deterministic false positives. The 100 TB role is semi-join
    pruning: a KB-sized filter broadcast ahead of the shuffle."""
    from data_pipeline_ine_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    bloom = bloom_build(docs.filter(F.col("source") != "src0"), "text")
    probes = docs.filter(F.col("source") == "src0")
    maybe = bloom_probe(probes, bloom, key_col="text", id_col="doc_id")
    counts = maybe.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sources_maybe")
    )
    return (
        probes.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sources_maybe", F.lit(0)).alias("n_sources_maybe"),
        )
    )


_HEX8_OFF = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(8), _i -> CAST(strpos('0123456789abcdef', "
    "substr({h}, CAST(_i AS INT) + {off}, 1)) - 1 AS BIGINT))), "
    "(_a, _c) -> _a * 16 + _c)"
)

ORACLE_BLOOM_MEMBERSHIP = """
WITH pos AS (
  SELECT source,
    unnest([F1 % 2048, F2 % 2048, F3 % 2048]) AS p
  FROM documents WHERE source <> 'src0'
), bloom AS (
  SELECT source, p // 32 AS word_idx,
    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
  FROM pos GROUP BY 1, 2
), ppos AS (
  SELECT doc_id,
    unnest([F1 % 2048, F2 % 2048, F3 % 2048]) AS p
  FROM documents WHERE source = 'src0'
), hits AS (
  SELECT pp.doc_id, b.source
  FROM ppos pp JOIN bloom b
    ON b.word_idx = pp.p // 32
   AND (b.word & (CAST(1 AS BIGINT) << CAST(pp.p % 32 AS INT))) <> 0
  GROUP BY pp.doc_id, b.source
  HAVING COUNT(*) = 3
)
SELECT d.doc_id,
  CAST(COALESCE(COUNT(h.source), 0) AS BIGINT) AS n_sources_maybe
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.source = 'src0'
GROUP BY d.doc_id
""".replace(
    "F1", _HEX8_OFF.format(h="md5(text)", off=1)
).replace(
    "F2", _HEX8_OFF.format(h="md5(text)", off=9)
).replace(
    "F3", _HEX8_OFF.format(h="md5(text)", off=17)
)


def q_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-purchase graph: top-20
    NON-adjacent part pairs by the resource-allocation index
    ``Σ 1/deg(common neighbor)`` (operators/graph.py::
    link_prediction_ra) — the "should these be connected" candidates a
    recommender or KG-completion pass consumes. The reciprocal is
    integer fixed-point (``10^12 div deg``, BIGINT sum), so scores are
    engine-exact; the top-k is a TakeOrderedAndProject, not a global
    sort."""
    from data_pipeline_ine_spark.operators.graph import (
        cooccurrence_edges,
        link_prediction_ra,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_count=2)
    return link_prediction_ra(edges, top_k=20)


ORACLE_RA_LINK = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), pair AS (
  SELECT a.item AS item_a, b.item AS item_b
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), nbr AS (
  SELECT item_a AS leaf, item_b AS center FROM pair
  UNION ALL
  SELECT item_b AS leaf, item_a AS center FROM pair
), deg AS (
  SELECT center, COUNT(*) AS deg FROM nbr GROUP BY 1
), wedge AS (
  SELECT x.leaf AS u, y.leaf AS v, d.deg
  FROM nbr x
  JOIN nbr y ON x.center = y.center AND x.leaf < y.leaf
  JOIN deg d ON d.center = x.center
), sc AS (
  SELECT u, v, SUM(1000000000000 // deg) AS ra_e12,
         COUNT(*) AS n_common
  FROM wedge GROUP BY 1, 2
), non AS (
  SELECT s.* FROM sc s
  LEFT JOIN pair p ON p.item_a = s.u AND p.item_b = s.v
  WHERE p.item_a IS NULL
), rk AS (
  SELECT *, row_number() OVER (ORDER BY ra_e12 DESC, u, v) AS rank
  FROM non
)
SELECT u AS item_a, v AS item_b, CAST(ra_e12 AS BIGINT) AS ra_e12,
       CAST(n_common AS BIGINT) AS n_common, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 20
"""


def q_snm_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution candidates over the part
    name dictionary (operators/fuzzy.py::sorted_neighborhood_pairs):
    lexicographic sort, window 3 — each name pairs with its next two
    neighbors, (w−1)·|dict| candidates by construction. The global sort
    rank is the two-pass distributed rank (never a one-task window);
    Levenshtein on each candidate is the verify. Complements the
    equi-block `fuzzy_part_names`: SNM catches typos that break the
    block key."""
    from data_pipeline_ine_spark.operators.fuzzy import (
        sorted_neighborhood_pairs,
    )

    part = load_table(spark, sf_dir, "part")
    return sorted_neighborhood_pairs(part, "p_name", window=3)


ORACLE_SNM_PART_PAIRS = """
WITH d AS (
  SELECT DISTINCT p_name AS value FROM part WHERE p_name IS NOT NULL
), rk AS (
  SELECT value, row_number() OVER (ORDER BY value) AS rank FROM d
)
SELECT a.value AS name_a, b.value AS name_b,
  CAST(levenshtein(a.value, b.value) AS INT) AS dist,
  a.rank AS rank_a, b.rank AS rank_b
FROM rk a JOIN rk b
  ON b.rank > a.rank AND b.rank - a.rank < 3
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift vs the corpus centroid
    (operators/similarity.py::centroid_drift) — the embedding-space
    domain-shift monitor. Components snap once to integer fixed-point;
    the drift statistic is the division-free cross-multiple
    ``Σ_d (s_ld·N − S_d·n_l)²`` in DECIMAL(38,0), so the entire surface
    is exact integer arithmetic — no float sum order, no rounding rule,
    no sqrt. Contract surface: the 38-digit drift numerator is emitted
    as VARCHAR (a double cast would shave precision at ~1e26; raw
    Decimal cells are harness-hostile — r05 red), digit-identical in
    both engines."""
    from data_pipeline_ine_spark.operators.similarity import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_drift(emb).select(
        "label",
        "n_vecs",
        F.col("drift_num").cast("string").alias("drift_num"),
    )


ORACLE_EMBEDDING_DRIFT = """
WITH comp AS (
  SELECT label,
    unnest(generate_series(1, len(embedding))) AS dim,
    unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
), snapped AS (
  SELECT label, dim, CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS v
  FROM comp
), ld AS (
  SELECT label, dim, SUM(v) AS s, COUNT(*) AS n
  FROM snapped GROUP BY 1, 2
), g AS (
  SELECT dim, SUM(s) AS gs, SUM(n) AS gn FROM ld GROUP BY 1
)
SELECT ld.label, CAST(MIN(ld.n) AS BIGINT) AS n_vecs,
  CAST(CAST(SUM(
    (CAST(ld.s AS DECIMAL(38,0)) * g.gn - CAST(g.gs AS DECIMAL(38,0)) * ld.n)
    * (CAST(ld.s AS DECIMAL(38,0)) * g.gn - CAST(g.gs AS DECIMAL(38,0)) * ld.n)
  ) AS DECIMAL(38,0)) AS VARCHAR) AS drift_num
FROM ld JOIN g USING (dim)
GROUP BY ld.label
"""


def q_ivm_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the per-status moment sums
    (COUNT, SUM, SUM(value²)) under the same I/U/D changelog as
    ivm_revenue (operators/diff.py::maintain_group_moments) — the
    standing variance/z-score basis kept correct with changelog-sized
    work. The oracle recomputes Σx² from the fully merged snapshot, so
    a green row proves moment-delta maintenance ≡ recomputation, exact
    to the DECIMAL(38,4) low digit."""
    from data_pipeline_ine_spark.operators.diff import maintain_group_moments

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    ins = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "*", F.lit("I").alias("op"), F.lit(1).alias("seq")
    )
    upd = (
        base.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select("*", F.lit("U").alias("op"), F.lit(2).alias("seq"))
    )
    dels = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "*", F.lit("D").alias("op"), F.lit(3).alias("seq")
    )
    changes = ins.unionByName(upd).unionByName(dels)
    out = maintain_group_moments(
        base, changes, ["o_orderkey"], "o_orderstatus", "o_totalprice"
    )
    # Contract surface (r05 fix): money-scale sum → exact double (values
    # ≪ 2^53); the 38-digit sumsq → VARCHAR, digit-identical in DuckDB.
    return out.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("value_sum_exact").cast("double"), 2).alias(
            "value_sum_exact"
        ),
        F.col("value_sumsq_exact").cast("string").alias("value_sumsq_exact"),
    )


ORACLE_IVM_MOMENTS = (
    "WITH merged AS (" + ORACLE_CDC_MERGE + """)
SELECT o_orderstatus, COUNT(*) AS n_rows,
  ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
    AS DECIMAL(18,2)) AS DOUBLE), 2) AS value_sum_exact,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))
           * CAST(o_totalprice AS DECIMAL(25,2))) AS DECIMAL(38,4))
    AS VARCHAR) AS value_sumsq_exact
FROM merged GROUP BY o_orderstatus
"""
)


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift per event type
    (operators/quality.py::ks_drift) — the binless complement to
    value_drift's chi-square: D = max|n2·cum1 − n1·cum2|/(n1·n2) over
    the pooled sample's distinct values, emitted as the integer
    numerator + sample sizes so no division or float enters the
    surface."""
    from data_pipeline_ine_spark.operators.quality import ks_drift

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp_ntz")
    return ks_drift(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        "value",
        group_col="event_type",
    )


ORACLE_KS_DRIFT = """
WITH perv AS (
  SELECT event_type, v, SUM(c1) AS c1, SUM(c2) AS c2
  FROM (
    SELECT event_type, value AS v, 1 AS c1, 0 AS c2 FROM events
    WHERE ts < TIMESTAMP '2024-01-20'
    UNION ALL
    SELECT event_type, value AS v, 0 AS c1, 1 AS c2 FROM events
    WHERE ts >= TIMESTAMP '2024-01-20'
  )
  GROUP BY 1, 2
), cums AS (
  SELECT event_type,
    SUM(c1) OVER (PARTITION BY event_type ORDER BY v) AS cum1,
    SUM(c2) OVER (PARTITION BY event_type ORDER BY v) AS cum2
  FROM perv
), ns AS (
  SELECT event_type, SUM(c1) AS n1, SUM(c2) AS n2 FROM perv GROUP BY 1
)
SELECT c.event_type, CAST(MIN(n.n1) AS BIGINT) AS n1,
  CAST(MIN(n.n2) AS BIGINT) AS n2,
  CAST(MAX(ABS(n.n2 * c.cum1 - n.n1 * c.cum2)) AS BIGINT) AS ks_num
FROM cums c JOIN ns n USING (event_type)
GROUP BY c.event_type
"""


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus data card (operators/text.py::corpus_datacard)
    — the governance one-pager a training-data release ships: volume,
    token mass, quality (integer-millionths sum — no division in the
    surface), dominant language (deterministic tie-break), exact-dup
    rate. One corpus scan computes every per-doc signal; three
    sources-sized rollups join broadcast."""
    from data_pipeline_ine_spark.operators.text import corpus_datacard

    return corpus_datacard(_docs_parallel(spark, sf_dir))


ORACLE_CORPUS_DATACARD = r"""
WITH s AS (
  SELECT source, doc_id, text,
    length(regexp_extract_all(text, '\S+')) AS n_tokens,
    length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
    length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS s_en,
    length(regexp_extract_all(lower(text), '\b(el|la|los|las|que|y|en|un|una)\b')) AS s_es,
    length(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht|ist|ein|zu)\b')) AS s_de,
    length(regexp_extract_all(lower(text), '\b(le|les|des|et|un|une|est|dans)\b')) AS s_fr,
    length(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh,
    md5(text) AS fp
  FROM documents
), sig AS (
  SELECT source, doc_id, n_tokens, fp,
    CAST(floor(ROUND(
      0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
      + 0.3 * (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(n_tokens, 1), 1.0))
      + 0.3 * LEAST(CAST(s_en AS DOUBLE) * 3.0 / GREATEST(n_tokens, 1), 1.0),
      6) * 1000000 + 0.5) AS BIGINT) AS q_e6,
    CASE
      WHEN s_en > 0 AND s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
      WHEN s_es > 0 AND s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
      WHEN s_de > 0 AND s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
      WHEN s_fr > 0 AND s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
      WHEN s_zh > 0 AND s_zh = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
      ELSE 'und'
    END AS lang_guess
  FROM s
), base AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
    CAST(SUM(q_e6) AS BIGINT) AS quality_e6_sum,
    CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_texts
  FROM sig GROUP BY 1
), dup AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS dup_docs
  FROM (SELECT source, fp, COUNT(*) AS c FROM sig GROUP BY 1, 2)
  WHERE c > 1 GROUP BY 1
), tl AS (
  SELECT source, lang_guess AS top_lang, CAST(n AS BIGINT) AS top_lang_docs
  FROM (
    SELECT source, lang_guess, COUNT(*) AS n,
      row_number() OVER (PARTITION BY source
                         ORDER BY COUNT(*) DESC, lang_guess) AS rk
    FROM sig GROUP BY source, lang_guess
  ) WHERE rk = 1
)
SELECT b.source, b.n_docs, b.total_tokens, b.quality_e6_sum,
  t.top_lang, t.top_lang_docs, b.distinct_texts,
  CAST(COALESCE(d.dup_docs, 0) AS BIGINT) AS dup_docs
FROM base b
LEFT JOIN dup d USING (source)
JOIN tl t USING (source)
"""


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneously-in-transit shipments per supplier
    (operators/timeseries.py::peak_concurrency): relational sweep line —
    ±1 deltas, per-instant pre-aggregate (distinct-dates-bounded), one
    per-supplier running-sum window, group-sized max. Inclusive-touch
    convention realized by counting an instant's opens with the prefix
    through the previous instant — no intra-instant ordering tricks.
    Transit windows derive deterministically as in overlap_shipments
    (testdata lineitem has no receiptdate):
    [shipdate, shipdate + quantity % 20 + 3 days]."""
    from data_pipeline_ine_spark.operators.timeseries import peak_concurrency

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.to_date("l_shipdate").alias("ship"),
        F.date_add(
            F.to_date("l_shipdate"),
            F.col("l_quantity").cast("int") % 20 + 3,
        ).alias("receipt"),
    )
    return peak_concurrency(li, "ship", "receipt", group_col="l_suppkey")


ORACLE_PEAK_CONCURRENCY = """
WITH iv AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship,
    CAST(l_shipdate AS DATE)
      + CAST((CAST(l_quantity AS INT) % 20 + 3) AS INT) AS receipt
  FROM lineitem
), deltas AS (
  SELECT l_suppkey, ship AS t, 1 AS opens, 1 AS net FROM iv
  UNION ALL
  SELECT l_suppkey, receipt AS t, 0 AS opens, -1 AS net FROM iv
), per_t AS (
  SELECT l_suppkey, t, SUM(opens) AS opens, SUM(net) AS net
  FROM deltas GROUP BY 1, 2
), curve AS (
  SELECT l_suppkey,
    SUM(net) OVER (PARTITION BY l_suppkey ORDER BY t) - net + opens AS occ
  FROM per_t
)
SELECT l_suppkey, CAST(MAX(occ) AS BIGINT) AS peak_concurrency
FROM curve GROUP BY 1
"""


def q_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Powers-of-two order-value histogram per order priority
    (operators/features.py::log2_histogram) — the heavy-tail
    distribution view, bucketed WITHOUT a logarithm: bucket = binary
    digit count of the cent value (integer/string ops, engine-exact
    where libm log2 flips at power boundaries); exact [2^(b-1), 2^b-1]
    bounds emitted."""
    from data_pipeline_ine_spark.operators.features import log2_histogram

    orders = load_table(spark, sf_dir, "orders")
    return log2_histogram(
        orders, "o_totalprice", group_col="o_orderpriority"
    )


ORACLE_LOG2_HISTOGRAM = """
WITH u AS (
  SELECT o_orderpriority,
    CAST(floor(o_totalprice * 100) AS BIGINT) AS units
  FROM orders
), b AS (
  SELECT o_orderpriority,
    CASE WHEN units <= 0 THEN 0
         ELSE CAST(length(bin(units)) AS INT) END AS bucket
  FROM u
)
SELECT o_orderpriority, bucket,
  CASE WHEN bucket = 0 THEN 0
       ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS lo_units,
  CASE WHEN bucket = 0 THEN 0
       ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS hi_units,
  CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY 1, 2
"""


def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap of per-status revenue
    (operators/sampling.py::poisson_bootstrap): 32 deterministic
    resamples via pinned integer Poisson(1) thresholds on the md5 hash
    — the assumption-free confidence-interval machinery, with every
    replicate sum exact DECIMAL and bit-identical in any engine. The
    only shuffle moves |groups|·B pre-combined partials."""
    from data_pipeline_ine_spark.operators.sampling import poisson_bootstrap

    orders = load_table(spark, sf_dir, "orders")
    out = poisson_bootstrap(
        orders, "o_totalprice", "o_orderstatus", id_col="o_orderkey"
    )
    # Contract surface (r05 fix): exact decimal replicate sum → double
    # (values ≪ 2^53, lossless); raw Decimal cells are harness-hostile.
    return out.select(
        "o_orderstatus",
        "replicate",
        F.round(F.col("boot_sum").cast("double"), 2).alias("boot_sum"),
    )


def _poisson_case() -> str:
    """CASE ladder over the pinned Poisson(1) thresholds — generated
    from the SAME constants the Spark operator uses, so the two engines
    cannot drift."""
    from data_pipeline_ine_spark.operators.sampling import POISSON1_CUM_48

    clauses = "".join(
        f" WHEN hv < {t} THEN {k}" for k, t in enumerate(POISSON1_CUM_48)
    )
    return f"CASE{clauses} ELSE 8 END"


_HEX12_AT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(12), _i -> CAST(strpos('0123456789abcdef', "
    "substr({h}, CAST(_i AS INT) + {off}, 1)) - 1 AS BIGINT))), "
    "(_a, _c) -> _a * 16 + _c)"
)

# one md5 per ROW (not per replicate — the 6x hash-budget win the
# operator documents); replicate b draws (ha + b*hb) mod 2^48, the
# Carter-Wegman family shared with minhash
ORACLE_POISSON_BOOTSTRAP = (
    """
WITH seeds AS (
  SELECT o_orderstatus, o_totalprice,
    ("""
    + _HEX12_AT.format(h="md5('boot:' || CAST(o_orderkey AS VARCHAR))", off=1)
    + """) AS ha,
    ("""
    + _HEX12_AT.format(h="md5('boot:' || CAST(o_orderkey AS VARCHAR))", off=13)
    + """) AS hb
  FROM orders
), r AS (
  SELECT o_orderstatus, o_totalprice,
    (ha + unnest(generate_series(0, 31)) * hb) % 281474976710656 AS hv,
    unnest(generate_series(0, 31)) AS replicate
  FROM seeds
)
SELECT o_orderstatus, CAST(replicate AS INT) AS replicate,
  ROUND(CAST(CAST(SUM(("""
    + _poisson_case()
    + """) * CAST(o_totalprice AS DECIMAL(18,2)))
       AS DECIMAL(18,2)) AS DOUBLE), 2) AS boot_sum
FROM r GROUP BY 1, 2
"""
)


def q_video_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level dedup signatures over REAL decode
    (operators/multimodal.py::video_signature): synthesize MJPEG-AVI
    clips, demux every 2nd frame (RIFF walk), pixel-decode (in-repo
    baseline JPEG), reduce each frame to its exact integer mean (flat
    frames are DC-exact at q92), md5 the ordered sequence. The oracle
    regenerates every sampled frame's mean from the generator's closed
    form and hashes the same string — any demux/Huffman/DCT/ordering
    bug flips the signature."""
    from data_pipeline_ine_spark.operators.multimodal import (
        video_signature,
        with_synthetic_video,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return video_signature(with_synthetic_video(docs), every_n=2)


ORACLE_VIDEO_SIGNATURE = """
SELECT doc_id,
  CAST(len(generate_series(0, (2 + doc_id % 4) - 1, 2)) AS INT)
    AS n_frames_sampled,
  md5(array_to_string(
    list_transform(
      generate_series(0, (2 + doc_id % 4) - 1, 2),
      k -> CAST((doc_id * 7 + k * 31) % 200 + 28 AS VARCHAR)
    ), ',')) AS video_sig
FROM documents
"""


def q_audio_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-level dedup signatures — the audio leg of the modality
    dedup sweep (operators/multimodal.py::audio_signature): REAL WAV
    container decode (rate, frames, exact square-wave RMS) joined with
    the REAL FFT dominant bin, md5'd into one key. The oracle predicts
    all four fields in closed form from the generator and hashes the
    same string — container math, PCM decode, and spectrum must ALL be
    right for the signature to match."""
    from data_pipeline_ine_spark.operators.multimodal import (
        audio_signature,
        with_synthetic_media,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("n_chars", F.lit(0)).alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return audio_signature(with_synthetic_media(docs))


ORACLE_AUDIO_SIGNATURE = """
SELECT doc_id,
  CAST(8000 + ((doc_id // 4) % 4) * 4000 AS BIGINT) AS sample_rate,
  CAST(128 AS INT) AS dominant_bin,
  md5(
    CAST(8000 + ((doc_id // 4) % 4) * 4000 AS VARCHAR) || ':' ||
    CAST(400 + COALESCE(n_chars, 0) % 600 AS VARCHAR) || ':' ||
    CAST(1000 + doc_id % 5000 AS VARCHAR) || ':' || '128'
  ) AS audio_sig
FROM documents WHERE doc_id % 4 = 2
"""


def q_cascade_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical hour→day→month event rollup where each coarser
    level aggregates the PREVIOUS level's partials
    (operators/timeseries.py::cascade_rollup — the hypertable
    continuous-aggregate refresh plan: day reads 24x less than raw,
    month ~30x less again). The oracle recomputes every level directly
    from raw rows, so a green match proves the cascade is exactly
    associative, decimal to the cent."""
    from data_pipeline_ine_spark.operators.timeseries import cascade_rollup

    ev = load_table(spark, sf_dir, "events")
    out = cascade_rollup(ev, "ts", "value")
    # Contract surface (r05 fix): exact decimal level total → double
    # (values ≪ 2^53, lossless); raw Decimal cells are harness-hostile.
    return out.select(
        "level",
        "bucket",
        "n",
        F.round(F.col("total").cast("double"), 2).alias("total"),
    )


ORACLE_CASCADE_ROLLUP = """
SELECT 'hour' AS level,
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
    AS DECIMAL(18,2)) AS DOUBLE), 2) AS total
FROM events GROUP BY 2
UNION ALL
SELECT 'day',
  strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S'),
  CAST(COUNT(*) AS BIGINT),
  ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
    AS DECIMAL(18,2)) AS DOUBLE), 2)
FROM events GROUP BY 2
UNION ALL
SELECT 'month',
  strftime(date_trunc('month', ts), '%Y-%m-%d %H:%M:%S'),
  CAST(COUNT(*) AS BIGINT),
  ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
    AS DECIMAL(18,2)) AS DOUBLE), 2)
FROM events GROUP BY 2
"""


# ---------------------------------------------------------------------------
# Round-6 additions: curation/privacy/eval operators
# ---------------------------------------------------------------------------
def q_dup_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware loss weights (operators/dedup.py::
    dup_weighted_docs) — the soft-dedup alternative: every doc kept,
    weighted ``10^6 div family_size`` so an n-times-duplicated document
    contributes one document of training signal. One fingerprint
    groupBy + one fp-keyed join back; same md5 fingerprint as
    exact_dup_groups."""
    from data_pipeline_ine_spark.operators.dedup import dup_weighted_docs

    docs = load_table(spark, sf_dir, "documents")
    return dup_weighted_docs(docs).select("doc_id", "n_copies", "weight_e6")


ORACLE_DUP_WEIGHTED = r"""
WITH fp AS (
  SELECT doc_id,
    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
  FROM documents
), s AS (
  SELECT f, COUNT(*) AS n_copies FROM fp GROUP BY 1
)
SELECT fp.doc_id, s.n_copies,
  CAST(1000000 // s.n_copies AS BIGINT) AS weight_e6
FROM fp JOIN s USING (f)
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test contamination audit (operators/dedup.py::
    split_leakage): near-dup pairs (LSH candidates, exact Jaccard >=
    0.5) tagged with both docs' split_assign buckets — off-diagonal
    rows are eval-set leakage. The audit every held-out number needs
    before it can be believed."""
    from data_pipeline_ine_spark.operators.dedup import split_leakage
    from data_pipeline_ine_spark.operators.sampling import split_assign

    docs = _docs_parallel(spark, sf_dir)
    return split_leakage(split_assign(docs, "doc_id"))


ORACLE_SPLIT_LEAKAGE = (
    _MINHASH_CTE
    + r"""
, d AS (
  SELECT doc_id, list_distinct(shingles) AS sh, bands FROM banded
), e AS (
  SELECT doc_id, sh, UNNEST(bands) AS band_hash FROM d
), pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM e a JOIN e b ON a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), jac AS (
  SELECT p.a_id, p.b_id
  FROM pairs p
  JOIN d da ON da.doc_id = p.a_id
  JOIN d db ON db.doc_id = p.b_id
  WHERE ROUND(len(list_intersect(da.sh, db.sh))
        / GREATEST(len(list_distinct(list_concat(da.sh, db.sh))), 1), 6)
        >= 0.5
), spl AS (
  SELECT doc_id,
    CASE WHEN bucket < 80 THEN 'train'
         WHEN bucket < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM (
    SELECT doc_id, (SPLIT_FOLD % 100) AS bucket FROM documents
  )
), x AS (
  SELECT LEAST(sa.split, sb.split) AS split_a,
         GREATEST(sa.split, sb.split) AS split_b
  FROM jac
  JOIN spl sa ON sa.doc_id = jac.a_id
  JOIN spl sb ON sb.doc_id = jac.b_id
)
SELECT split_a, split_b, COUNT(*) AS n_pairs FROM x GROUP BY 1, 2
"""
).replace(
    "SPLIT_FOLD", _HEX12.format(h="md5('split:' || CAST(doc_id AS VARCHAR))")
)


def q_source_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level trigram diversity per source (operators/text.py::
    source_ngram_diversity) — the mode-collapse / templated-source
    detector: per-doc stats look normal while the SOURCE repeats
    itself. Map-side n-gram build, (source, ngram) partial-agg bounded
    by observed vocabulary, |sources|-row output."""
    from data_pipeline_ine_spark.operators.text import source_ngram_diversity

    docs = _docs_parallel(spark, sf_dir)
    return source_ngram_diversity(docs)


ORACLE_NGRAM_DIVERSITY = r"""
WITH t AS (
  SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), g AS (
  SELECT source,
    unnest(list_transform(range(1, len(toks) - 2 + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS ngram
  FROM t WHERE len(toks) >= 3
), c AS (
  SELECT source, ngram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
)
SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_ngrams,
  ROUND(CAST(COUNT(*) AS DOUBLE) / GREATEST(SUM(cnt), 1), 6) AS diversity
FROM c GROUP BY source
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (operators/quality.py::
    k_anonymity_audit): equivalence classes over the quasi-identifiers
    (lang, source, n_chars div 50) smaller than k=5 — the classes an
    attacker can re-identify by joining public attributes. One hash
    aggregate; risk-sized output."""
    from data_pipeline_ine_spark.operators.quality import k_anonymity_audit

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 50").alias("chars_bucket")
    )
    return k_anonymity_audit(docs, ["lang", "source", "chars_bucket"], k=5)


ORACLE_K_ANONYMITY = """
SELECT lang, source, n_chars // 50 AS chars_bucket,
  CAST(COUNT(*) AS BIGINT) AS class_size
FROM documents GROUP BY 1, 2, 3 HAVING COUNT(*) < 5
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit (operators/quality.py::
    t_closeness_audit) — the third rung of the privacy ladder after
    k_anonymity and l_diversity: per quasi-identifier class (lang,
    source), the Earth Mover's Distance between the class's
    sensitive-value distribution (n_chars div 200, ordered) and the
    corpus's, with unit adjacent-rank cost. Cross-multiplied integer
    cumulative counts (exact), ONE final IEEE divide + 6-dp round;
    classes with emd > 0.2 flag leaky — the skewness attack k and l
    both miss."""
    from data_pipeline_ine_spark.operators.quality import t_closeness_audit

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 200").alias("sens")
    )
    return t_closeness_audit(docs, ["lang", "source"], "sens", t=0.2)


ORACLE_T_CLOSENESS = """
WITH base AS (
  SELECT lang, source, n_chars // 200 AS sens FROM documents
),
cv AS (SELECT lang, source, sens, COUNT(*) AS c FROM base GROUP BY 1, 2, 3),
gv AS (SELECT sens, COUNT(*) AS g FROM base GROUP BY 1),
cls AS (SELECT lang, source, COUNT(*) AS class_n FROM base GROUP BY 1, 2),
tot AS (SELECT SUM(g) AS n_total, COUNT(*) AS m FROM gv),
grid AS (
  SELECT cls.lang, cls.source, cls.class_n, gv.sens, gv.g,
         COALESCE(cv.c, 0) AS c
  FROM cls CROSS JOIN gv
  LEFT JOIN cv ON cv.lang = cls.lang AND cv.source = cls.source
              AND cv.sens = gv.sens
),
cum AS (
  SELECT lang, source, class_n,
    SUM(c) OVER (PARTITION BY lang, source ORDER BY sens) AS cumc,
    SUM(g) OVER (PARTITION BY lang, source ORDER BY sens) AS cumg
  FROM grid
),
pc AS (
  -- cross-multiplied |cumP - cumQ| in exact integer arithmetic,
  -- mirroring quality.py::t_closeness_audit
  SELECT lang, source, class_n,
    SUM(ABS(CAST(cumc AS DECIMAL(38,0)) * t.n_total
            - CAST(cumg AS DECIMAL(38,0)) * class_n)) AS num,
    MAX(t.n_total) AS n_total, MAX(t.m) AS m
  FROM cum, tot t GROUP BY 1, 2, 3
),
scored AS (
  SELECT lang, source, CAST(class_n AS BIGINT) AS class_n,
    CASE WHEN m = 1 THEN 0.0
         ELSE ROUND(CAST(num AS DOUBLE)
              / (CAST(class_n AS DOUBLE) * CAST(n_total AS DOUBLE)
                 * CAST(m - 1 AS DOUBLE)), 6)
    END AS emd
  FROM pc
)
SELECT lang, source, class_n, emd,
  CAST(CASE WHEN emd > 0.2 THEN 1 ELSE 0 END AS INT) AS leaky
FROM scored
"""


def q_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user mode (operators/aggregates.py::
    mode_per_group): most frequent event_type, smallest value on ties —
    a total order, so every engine returns the identical row. Two hash
    aggregates on the same key prefix, no windows."""
    from data_pipeline_ine_spark.operators.aggregates import mode_per_group

    ev = load_table(spark, sf_dir, "events")
    return mode_per_group(ev, ["user_id"], "event_type")


ORACLE_MODAL_EVENT = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2
), r AS (
  SELECT user_id, event_type, cnt,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY cnt DESC, event_type) AS rk
  FROM c
)
SELECT user_id, event_type AS modal_event_type,
  CAST(cnt AS BIGINT) AS n_modal
FROM r WHERE rk = 1
"""


def q_pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key pseudonymization (operators/text.py::
    pseudonymize): user ids replaced by salted md5 tokens that keep
    join-ability and longitudinal structure — proven here by grouping
    events on the PSEUDONYM and matching the per-user counts the raw
    id would give. Narrow map + one aggregate."""
    from data_pipeline_ine_spark.operators.text import pseudonymize

    ev = load_table(spark, sf_dir, "events").select("user_id")
    return pseudonymize(ev, "user_id").groupBy("pseudo_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


ORACLE_PSEUDONYMIZE = """
SELECT md5('pseud:' || CAST(user_id AS VARCHAR)) AS pseudo_id,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
"""


def q_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct users per active day
    (operators/timeseries.py::rolling_distinct_users) — rolling WAU.
    Distinct-over-a-sliding-frame via contribution explosion on the
    (user, day)-deduped activity table: the explode multiplies
    activity grain by 7, never raw events."""
    from data_pipeline_ine_spark.operators.timeseries import (
        rolling_distinct_users,
    )

    ev = load_table(spark, sf_dir, "events")
    return rolling_distinct_users(ev, "ts", "user_id", window_days=7)


ORACLE_ROLLING_7D = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
), days AS (
  SELECT DISTINCT d FROM ud
), x AS (
  SELECT ud.user_id, days.d AS day
  FROM ud JOIN days ON days.d BETWEEN ud.d AND ud.d + 6
)
SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
FROM x GROUP BY 1
"""


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table for the NB source classifier
    (operators/classify.py::decile_lift): docs ranked by the 'src0'
    class score (two-pass distributed rank — never a one-task window),
    cut into 10 equal-count bins by integer arithmetic; per bin the
    positive rate and lift vs base rate in fixed-point — the standard
    is-this-ranking-worth-anything eval for curation classifiers."""
    from data_pipeline_ine_spark.operators.classify import decile_lift, nb_train
    from data_pipeline_ine_spark.operators.text import hashed_features

    docs = _docs_parallel(spark, sf_dir)
    feats = hashed_features(docs, n_buckets=64).localCheckpoint(eager=False)
    labels = docs.select("doc_id", F.col("source").alias("label"))
    priors, lik = nb_train(feats, labels, n_buckets=64)
    s0 = lik.filter(F.col("label") == "src0").drop("label")
    p0 = priors.filter(F.col("label") == "src0").drop("label")
    scored = (
        feats.join(F.broadcast(s0), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("nlp_e12")).alias("_ll"))
        .crossJoin(F.broadcast(p0))
        .select(
            "doc_id", (F.col("_ll") + F.col("nlp_prior_e12")).alias("score_e12")
        )
    )
    truth = docs.select(
        "doc_id",
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("is_pos"),
    )
    return decile_lift(scored.join(truth, "doc_id"), "score_e12", "is_pos")


ORACLE_DECILE_LIFT = _NB_MODEL_CTE + r"""
, s0 AS (
  SELECT f.doc_id,
    CAST(SUM(f.tf * k.nlp)
         + (SELECT nlp_prior FROM pri WHERE label = 'src0') AS BIGINT)
      AS score
  FROM feats f JOIN lik k USING (bucket)
  WHERE k.label = 'src0'
  GROUP BY 1
), tr AS (
  SELECT s0.doc_id, s0.score,
    CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END AS pos
  FROM s0 JOIN documents d USING (doc_id)
), rk AS (
  SELECT doc_id, pos,
    row_number() OVER (ORDER BY score, doc_id) AS r,
    COUNT(*) OVER () AS nt,
    SUM(pos) OVER () AS pt
  FROM tr
), b AS (
  SELECT ((r - 1) * 10 // nt) + 1 AS bin, pos, nt, pt FROM rk
)
SELECT CAST(bin AS INT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(pos) AS BIGINT) AS n_pos,
  CAST(1000000 * SUM(pos) // COUNT(*) AS BIGINT) AS pos_rate_e6,
  CAST(1000000 * SUM(pos) * MIN(nt) // (COUNT(*) * MIN(pt)) AS BIGINT)
    AS lift_e6
FROM b GROUP BY bin
"""


def q_user_max_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dormancy signal (operators/timeseries.py::
    user_max_gap): longest silence between consecutive events in whole
    engine-exact seconds (NTZ field arithmetic), single-event users at
    0. One user-partitioned lag window + one aggregate sharing the
    exchange."""
    from data_pipeline_ine_spark.operators.timeseries import user_max_gap

    ev = load_table(spark, sf_dir, "events")
    return user_max_gap(ev)


ORACLE_USER_MAX_GAP = """
WITH g AS (
  SELECT user_id,
    CAST(epoch(date_trunc('second', ts))
         - lag(epoch(date_trunc('second', ts))) OVER (
             PARTITION BY user_id
             ORDER BY date_trunc('second', ts), event_id)
      AS BIGINT) AS gap
  FROM events
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_s
FROM g GROUP BY user_id
"""


def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the NB source classifier
    (operators/classify.py::confusion_matrix): which sources get
    mistaken for which — the canonical error decomposition behind any
    accuracy number. One id join + one (truth, pred) aggregate;
    |labels|² output."""
    from data_pipeline_ine_spark.operators.classify import (
        confusion_matrix,
        nb_predict,
        nb_train,
    )
    from data_pipeline_ine_spark.operators.text import hashed_features

    docs = _docs_parallel(spark, sf_dir)
    feats = hashed_features(docs, n_buckets=64).localCheckpoint(eager=False)
    labels = docs.select("doc_id", F.col("source").alias("label"))
    priors, lik = nb_train(feats, labels, n_buckets=64)
    pred = nb_predict(feats, priors, lik)
    return confusion_matrix(pred, labels)


ORACLE_NB_CONFUSION = ORACLE_NB.replace(
    "SELECT doc_id, label AS predicted, score_e12 FROM sc WHERE rk = 1",
    """SELECT t.label, s.label AS predicted,
  CAST(COUNT(*) AS BIGINT) AS n
FROM sc s JOIN lab t USING (doc_id)
WHERE s.rk = 1 GROUP BY 1, 2""",
)


def q_nb_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the NB source classifier
    (operators/classify.py::cohens_kappa): chance-corrected agreement —
    the honest single-number grade for a classifier over imbalanced
    sources, emitted as exact integers (N·A − E over N² − E) plus a
    1e-6 fixed-point quotient."""
    from data_pipeline_ine_spark.operators.classify import (
        cohens_kappa,
        nb_predict,
        nb_train,
    )
    from data_pipeline_ine_spark.operators.text import hashed_features

    docs = _docs_parallel(spark, sf_dir)
    feats = hashed_features(docs, n_buckets=64).localCheckpoint(eager=False)
    labels = docs.select("doc_id", F.col("source").alias("label"))
    priors, lik = nb_train(feats, labels, n_buckets=64)
    pred = nb_predict(feats, priors, lik)
    return cohens_kappa(pred, labels)


ORACLE_NB_KAPPA = ORACLE_NB.replace(
    "SELECT doc_id, label AS predicted, score_e12 FROM sc WHERE rk = 1",
    """, j AS (
  SELECT p.predicted, t.label
  FROM (SELECT doc_id, label AS predicted FROM sc WHERE rk = 1) p
  JOIN lab t USING (doc_id)
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT)
      AS n_agree
  FROM j
), e AS (
  SELECT CAST(COALESCE(SUM(nt * np), 0) AS BIGINT) AS e
  FROM (SELECT label AS c, COUNT(*) AS nt FROM j GROUP BY 1) a
  JOIN (SELECT predicted AS c, COUNT(*) AS np FROM j GROUP BY 1) b
    USING (c)
)
SELECT n, n_agree,
  CAST(n * n_agree - e AS BIGINT) AS kappa_num,
  CAST(n * n - e AS BIGINT) AS kappa_den,
  CASE WHEN n * n - e = 0 THEN NULL
    WHEN n * n_agree - e >= 0
      THEN CAST(1000000 * (n * n_agree - e) // (n * n - e) AS BIGINT)
    ELSE CAST(-((1000000 * (e - n * n_agree)) // (n * n - e)) AS BIGINT)
  END AS kappa_e6
FROM tot, e""",
)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (operators/sampling.py::shard_manifest):
    the corpus in deterministic-shuffle order cut into 256-doc shards,
    each reporting docs, rank range, and character mass — what a
    dataloader needs to plan epochs and verify completeness. One
    shard-keyed aggregate over the two-pass distributed rank."""
    from data_pipeline_ine_spark.operators.sampling import shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(docs, 256, size_col="n_chars")


ORACLE_SHARD_MANIFEST = (
    """
WITH rk AS (
  SELECT n_chars, ROW_NUMBER() OVER (ORDER BY """
    + _HEX12.format(h="md5('shuffle:' || CAST(doc_id AS VARCHAR))")
    + """, doc_id) AS r
  FROM documents
)
SELECT CAST((r - 1) // 256 AS BIGINT) AS shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MIN(r) AS BIGINT) AS min_rank,
  CAST(MAX(r) AS BIGINT) AS max_rank,
  CAST(SUM(n_chars) AS BIGINT) AS size_sum
FROM rk GROUP BY 1
"""
)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-method CI off the Poisson bootstrap replicates
    (operators/sampling.py::bootstrap_ci): per status, the 2nd-smallest
    and 2nd-largest of the 32 replicate sums (~[3%, 97%] envelope) as
    ORDER STATISTICS of exact values — no interpolation rule for
    engines to disagree on. Completes the bootstrap machinery:
    poisson_bootstrap proves the replicate table, this reads the
    interval off it."""
    from data_pipeline_ine_spark.operators.sampling import (
        bootstrap_ci,
        poisson_bootstrap,
    )

    orders = load_table(spark, sf_dir, "orders")
    boot = poisson_bootstrap(
        orders, "o_totalprice", "o_orderstatus", id_col="o_orderkey"
    )
    ci = bootstrap_ci(boot, "o_orderstatus")
    return ci.select(
        "o_orderstatus",
        "n_replicates",
        F.round(F.col("ci_lo").cast("double"), 2).alias("ci_lo"),
        F.round(F.col("ci_hi").cast("double"), 2).alias("ci_hi"),
    )


ORACLE_BOOTSTRAP_CI = (
    """
WITH boot AS ("""
    + ORACLE_POISSON_BOOTSTRAP
    + """
), r AS (
  SELECT o_orderstatus, boot_sum,
    row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY boot_sum ASC, replicate) AS rlo,
    row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY boot_sum DESC, replicate) AS rhi
  FROM boot
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_replicates,
  MAX(CASE WHEN rlo = 2 THEN boot_sum END) AS ci_lo,
  MAX(CASE WHEN rhi = 2 THEN boot_sum END) AS ci_hi
FROM r GROUP BY 1
"""
)


def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution (operators/joins.py::
    linear_attribution): each purchase's value split in equal exact-
    cent shares across its 1-hour-lookback clicks, remainder cents to
    the earliest touch — per-conversion attribution sums to the
    conversion value to the cent. Candidates via the binned range join
    (never a nested loop); complements range_click_attribution's
    aggregate view with the per-touch ledger."""
    from data_pipeline_ine_spark.operators.joins import linear_attribution

    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("touch_id"),
    )
    out = linear_attribution(conv, touches)
    return out.select(
        "event_id",
        "user_id",
        F.col("touch_rank").cast("int").alias("touch_rank"),
        "attributed_cents",
    )


ORACLE_LINEAR_ATTRIBUTION = """
WITH conv AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
), t AS (
  SELECT user_id, ts AS click_ts, event_id AS touch_id FROM events
  WHERE event_type = 'click'
), c AS (
  SELECT conv.event_id, conv.user_id, conv.value, t.click_ts, t.touch_id
  FROM conv JOIN t USING (user_id)
  WHERE t.click_ts >= conv.ts - INTERVAL 3600 SECOND
    AND t.click_ts < conv.ts
), r AS (
  SELECT event_id, user_id,
    CAST(round(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents,
    row_number() OVER (PARTITION BY event_id
                       ORDER BY click_ts, touch_id) AS touch_rank,
    COUNT(*) OVER (PARTITION BY event_id) AS n
  FROM c
)
SELECT event_id, user_id, CAST(touch_rank AS INT) AS touch_rank,
  CAST(cents // n
       + CASE WHEN touch_rank = 1 THEN cents % n ELSE 0 END
    AS BIGINT) AS attributed_cents
FROM r
"""


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of (quantity, extendedprice) per
    returnflag (operators/features.py::spearman_by_group) — the robust
    complement to grouped_correlation's Pearson: tie-averaged ranks
    kept as exact integers (2·avg_rank is always integral), Pearson's
    closed form over decimal-exact moment sums of those integers."""
    from data_pipeline_ine_spark.operators.features import spearman_by_group

    return spearman_by_group(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        ["l_returnflag"],
    )


ORACLE_SPEARMAN = """
WITH rk AS (
  SELECT l_returnflag,
    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
      + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx2,
    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
      + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry2
  FROM lineitem
), m AS (
  SELECT l_returnflag, COUNT(*) AS n,
    SUM(CAST(rx2 AS DECIMAL(25,0))) AS sx,
    SUM(CAST(ry2 AS DECIMAL(25,0))) AS sy,
    SUM(CAST(rx2 AS DECIMAL(25,0)) * CAST(ry2 AS DECIMAL(25,0))) AS sxy,
    SUM(CAST(rx2 AS DECIMAL(25,0)) * CAST(rx2 AS DECIMAL(25,0))) AS sxx,
    SUM(CAST(ry2 AS DECIMAL(25,0)) * CAST(ry2 AS DECIMAL(25,0))) AS syy
  FROM rk GROUP BY 1
)
SELECT l_returnflag, n,
  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
FROM m
"""


def q_ab_test_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test (operators/quality.py::ab_test_chisq):
    users hash-split 50/50, conversion = any purchase; the 2×2
    chi-square in one fixed double expression over exact integer cells
    — bit-identical cross-engine (no p-value: incomplete gamma is a
    libm trap; χ² > 3.84 is the 5% line)."""
    from data_pipeline_ine_spark.operators.quality import ab_test_chisq

    ev = load_table(spark, sf_dir, "events")
    return ab_test_chisq(
        ev, "user_id", F.col("event_type") == "purchase"
    )


ORACLE_AB_TEST = (
    """
WITH units AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), tagged AS (
  SELECT (AB_FOLD % 2) AS variant, conv FROM units
), cells AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS a_conv,
    CAST(SUM(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS a_fail,
    CAST(SUM(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS b_conv,
    CAST(SUM(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS b_fail
  FROM tagged
)
SELECT a_conv, a_fail, b_conv, b_fail,
  CASE WHEN (CAST(a_conv AS DOUBLE) + a_fail) * (CAST(b_conv AS DOUBLE) + b_fail)
         * (CAST(a_conv AS DOUBLE) + b_conv) * (CAST(a_fail AS DOUBLE) + b_fail) > 0
  THEN (CAST(a_conv AS DOUBLE) + a_fail + b_conv + b_fail)
       * (CAST(a_conv AS DOUBLE) * b_fail - CAST(a_fail AS DOUBLE) * b_conv)
       * (CAST(a_conv AS DOUBLE) * b_fail - CAST(a_fail AS DOUBLE) * b_conv)
       / ((CAST(a_conv AS DOUBLE) + a_fail) * (CAST(b_conv AS DOUBLE) + b_fail)
          * (CAST(a_conv AS DOUBLE) + b_conv) * (CAST(a_fail AS DOUBLE) + b_fail))
  END AS chisq
FROM cells
"""
).replace(
    "AB_FOLD", _HEX12.format(h="md5('ab:' || CAST(user_id AS VARCHAR))")
)


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope per source (operators/text.py::zipf_slope): OLS of
    ln(freq) on ln(rank) over the top-200 terms — the corpus-health
    scalar (natural text ≈ −1; templated sources drift). Logs snap to
    e6 integers via the proven floor(ln·1e6+0.5) recipe; the slope is
    scale-invariant so the fixed-point factor cancels."""
    from data_pipeline_ine_spark.operators.text import zipf_slope

    return zipf_slope(_docs_parallel(spark, sf_dir))


ORACLE_ZIPF_SLOPE = """
WITH freqs AS (
  SELECT source AS grp, tok AS term, COUNT(*) AS cnt
  FROM (
    SELECT source,
      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
    FROM documents
  ) GROUP BY 1, 2
), ranked AS (
  SELECT grp,
    CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
  FROM (
    SELECT grp, cnt,
      row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, term) AS rk
    FROM freqs
  ) WHERE rk <= 200
), m AS (
  SELECT grp, COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(25,0))) AS sx,
    SUM(CAST(y AS DECIMAL(25,0))) AS sy,
    SUM(CAST(x AS DECIMAL(25,0)) * CAST(y AS DECIMAL(25,0))) AS sxy,
    SUM(CAST(x AS DECIMAL(25,0)) * CAST(x AS DECIMAL(25,0))) AS sxx
  FROM ranked GROUP BY 1
)
SELECT grp AS source, CAST(n AS BIGINT) AS n_terms,
  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope
FROM m
"""


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals
    (operators/quality.py::benford_leading_digit): observed leading-
    digit counts vs the log10(1+1/d) expectation — the synthetic-data
    / fraud / capped-field smell test. Digits come from exact integer
    cents; the only float is the snapped-e6 Benford constant."""
    from data_pipeline_ine_spark.operators.quality import benford_leading_digit

    orders = load_table(spark, sf_dir, "orders")
    return benford_leading_digit(orders, "o_totalprice")


ORACLE_BENFORD = """
WITH units AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS u FROM orders
), counts AS (
  SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         COUNT(*) AS n_obs
  FROM units WHERE u > 0 GROUP BY 1
), total AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS t FROM counts
)
SELECT digit, n_obs,
  CAST((t * CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6
                       + 0.5) AS BIGINT)) // 10000 AS BIGINT) AS expected_e2
FROM counts, total
ORDER BY digit
"""


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment Gini coefficient of customer revenue
    concentration (operators/quality.py::gini_concentration): ranked
    closed form over exact integer cents — whale-account risk next to
    pareto_parts' top-heavy cut. The within-segment rank rides the
    two-pass distributed rank, never a few-groups one-task window."""
    from data_pipeline_ine_spark.operators.quality import gini_concentration

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("decimal(25,0)"))
            .cast("bigint")
            .alias("rev_cents")
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "o_custkey", "rev_cents")
    )
    return gini_concentration(
        rev, "rev_cents", "c_mktsegment", "o_custkey"
    ).orderBy("c_mktsegment")


ORACLE_REVENUE_GINI = """
WITH rev AS (
  SELECT c_mktsegment, o_custkey,
    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_mktsegment, x,
    row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY x, o_custkey) AS rk
  FROM rev
), m AS (
  SELECT c_mktsegment, COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(rk AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS srx
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n_units,
  CASE WHEN sx > 0 THEN
    ROUND((2.0 * CAST(srx AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0)
           * CAST(sx AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
  END AS gini
FROM m
ORDER BY c_mktsegment
"""


def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of per-user inter-event
    gaps (operators/timeseries.py::interarrival_burstiness): exact
    integer second gaps and DECIMAL moments, the statistic one fixed
    sqrt expression — separates binge users from metronomic bots at
    identical event counts."""
    from data_pipeline_ine_spark.operators.timeseries import (
        interarrival_burstiness,
    )

    ev = load_table(spark, sf_dir, "events")
    return interarrival_burstiness(ev)


ORACLE_BURSTINESS = """
WITH sec AS (
  SELECT user_id, event_id,
    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
  FROM events
), gaps AS (
  SELECT user_id,
    s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS g
  FROM sec
), m AS (
  SELECT user_id, COUNT(*) AS n,
    SUM(CAST(g AS DECIMAL(25,0))) AS sg,
    SUM(CAST(g AS DECIMAL(25,0)) * CAST(g AS DECIMAL(25,0))) AS sg2
  FROM gaps WHERE g IS NOT NULL GROUP BY 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
  CAST(sg AS BIGINT) AS gap_sum_s,
  CASE WHEN sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(sg2 AS DOUBLE)
                          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE), 0.0))
            + CAST(sg AS DOUBLE) > 0 THEN
    ROUND((sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(sg2 AS DOUBLE)
                         - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE), 0.0))
           - CAST(sg AS DOUBLE))
          / (sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(sg2 AS DOUBLE)
                           - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE), 0.0))
             + CAST(sg AS DOUBLE)), 6)
  END AS burstiness
FROM m
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of event values, first half of
    January vs the rest (operators/quality.py::psi_drift): log2-bucket
    histograms, each shared bin's (aB−bA)·ln_e6 contribution exact
    integer work, one final divide — the monitoring-dashboard drift
    magnitude next to ks_drift's sharp test."""
    from data_pipeline_ine_spark.operators.quality import psi_drift

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    return psi_drift(
        ev.filter(F.to_date("ts") < cut),
        ev.filter(F.to_date("ts") >= cut),
        "value",
    )


ORACLE_PSI = """
WITH ref AS (
  SELECT CASE WHEN CAST(floor(value * 100) AS BIGINT) > 0
    THEN length(bin(CAST(floor(value * 100) AS BIGINT))) ELSE 0 END AS bucket
  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
), cur AS (
  SELECT CASE WHEN CAST(floor(value * 100) AS BIGINT) > 0
    THEN length(bin(CAST(floor(value * 100) AS BIGINT))) ELSE 0 END AS bucket
  FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
), ac AS (
  SELECT bucket, COUNT(*) AS a FROM ref GROUP BY 1
), bc AS (
  SELECT bucket, COUNT(*) AS b FROM cur GROUP BY 1
), cells AS (
  SELECT COALESCE(ac.bucket, bc.bucket) AS bucket,
    COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
  FROM ac FULL OUTER JOIN bc ON ac.bucket = bc.bucket
), tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
  FROM cells
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_bins,
  CAST(SUM(CASE WHEN a = 0 OR b = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_one_sided,
  ROUND(CAST(SUM(CASE WHEN a > 0 AND b > 0 THEN
      CAST(a * tb - b * ta AS DECIMAL(19,0))
      * CAST(floor(ln(CAST(a * tb AS DOUBLE) / CAST(b * ta AS DOUBLE))
                   * 1e6 + 0.5) AS DECIMAL(19,0))
    ELSE CAST(0 AS DECIMAL(19,0)) END) AS DOUBLE)
    / CAST(MIN(ta) * MIN(tb) AS DOUBLE) / 1e6, 6) AS psi
FROM cells, tot
"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the part co-purchase graph
    (operators/graph.py::degree_assortativity): Pearson correlation of
    endpoint degrees over edge stubs from exact DECIMAL moments — does
    this graph link hubs to hubs (clique risk) or hubs to leaves
    (star risk)? Decides whether max_degree cuts / hot-key salting hit
    a community or a spoke set."""
    from data_pipeline_ine_spark.operators.graph import (
        cooccurrence_edges,
        degree_assortativity,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_count=2)
    return degree_assortativity(edges)


ORACLE_ASSORTATIVITY = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), e AS (
  SELECT a.item AS u, b.item AS v
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
  ) GROUP BY 1
), m AS (
  SELECT COUNT(*) AS n_edges,
    SUM(CAST(da.d AS DECIMAL(19,0)) + CAST(db.d AS DECIMAL(19,0))) AS sx,
    SUM(CAST(da.d AS DECIMAL(19,0)) * CAST(da.d AS DECIMAL(19,0))
        + CAST(db.d AS DECIMAL(19,0)) * CAST(db.d AS DECIMAL(19,0))) AS sxx,
    SUM(CAST(da.d AS DECIMAL(19,0)) * CAST(db.d AS DECIMAL(19,0)) * 2) AS sxy
  FROM e JOIN deg da ON e.u = da.n JOIN deg db ON e.v = db.n
)
SELECT CAST(n_edges AS BIGINT) AS n_edges,
  CASE WHEN CAST(n_edges * 2 AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
    ROUND((CAST(n_edges * 2 AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          / (CAST(n_edges * 2 AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
  END AS assortativity
FROM m
"""


def q_novel_trigram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-accretion novelty curve (operators/text.py::
    novel_ngram_rate): per 100-doc ingestion snapshot, the share of
    trigram occurrences whose trigram first appears in that snapshot —
    exact integers end-to-end; the is-this-crawl-still-finding-new-text
    dial that schedules dedup and re-crawl budgets."""
    from data_pipeline_ine_spark.operators.text import novel_ngram_rate

    return novel_ngram_rate(_docs_parallel(spark, sf_dir))


ORACLE_NOVEL_TRIGRAM = """
WITH t AS (
  SELECT doc_id // 100 AS snapshot,
    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), g AS (
  SELECT snapshot,
    unnest(list_transform(range(1, GREATEST(len(toks) - 2, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS ngram
  FROM t
), occ AS (
  SELECT snapshot, ngram, COUNT(*) AS c FROM g GROUP BY 1, 2
), fs AS (
  SELECT ngram, MIN(snapshot) AS first_snap FROM occ GROUP BY 1
)
SELECT snapshot,
  CAST(SUM(c) AS BIGINT) AS n_occ,
  CAST(SUM(CASE WHEN snapshot = first_snap THEN c ELSE 0 END) AS BIGINT)
    AS n_novel,
  CAST((1000000 * SUM(CASE WHEN snapshot = first_snap THEN c ELSE 0 END))
       // SUM(c) AS BIGINT) AS novel_rate_e6
FROM occ JOIN fs USING (ngram)
GROUP BY 1
"""


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of user lifetimes under right censoring
    (operators/timeseries.py::kaplan_meier): users last seen within 2
    days of the 2024-01-31 horizon are censored, not churned; survival
    ships as the exact integer ln_surv_e6 (snapped step logs, BIGINT
    window sum — never a float product or a libm exp)."""
    from data_pipeline_ine_spark.operators.timeseries import kaplan_meier

    ev = load_table(spark, sf_dir, "events")
    return kaplan_meier(ev, "ts", "user_id", "2024-01-31", 2)


ORACLE_KAPLAN_MEIER = """
WITH lives AS (
  SELECT user_id,
    CAST(datediff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
      AS BIGINT) AS dur,
    CASE WHEN datediff('day', MAX(CAST(ts AS DATE)), DATE '2024-01-31') >= 2
      THEN 1 ELSE 0 END AS ev
  FROM events GROUP BY 1
), per AS (
  SELECT dur, COUNT(*) AS c_all, CAST(SUM(ev) AS BIGINT) AS c_evt
  FROM lives GROUP BY 1
), risk AS (
  SELECT dur, c_evt,
    CAST(SUM(c_all) OVER (ORDER BY dur DESC) AS BIGINT) AS n_risk
  FROM per
), stepped AS (
  SELECT dur, c_evt, n_risk,
    CASE WHEN c_evt = 0 THEN CAST(0 AS BIGINT)
         WHEN n_risk > c_evt THEN
           CAST(floor(ln(CAST(n_risk - c_evt AS DOUBLE)
                         / CAST(n_risk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
    END AS lns
  FROM risk
), cum AS (
  SELECT dur, c_evt, n_risk, lns,
    SUM(lns) OVER (ORDER BY dur) AS cums
  FROM stepped
)
SELECT dur AS duration_days, n_risk, c_evt AS n_events,
  CASE WHEN lns IS NOT NULL THEN CAST(cums AS BIGINT) END AS ln_surv_e6
FROM cum WHERE c_evt > 0
"""


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of daily event value
    (operators/timeseries.py::theil_sen_daily): lower-median pairwise
    slope as an explicit order statistic over exact integer cents —
    the flash-sale-immune trend next to grouped_ols' least squares.
    The pair frame is calendar²-bounded, never corpus-sized."""
    from data_pipeline_ine_spark.operators.timeseries import theil_sen_daily

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_daily(ev, "ts", "value")


ORACLE_THEIL_SEN = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
    AS BIGINT) AS d,
    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM events GROUP BY 1
), pairs AS (
  SELECT a.d AS di, b.d AS dj,
    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON b.d > a.d
), ranked AS (
  SELECT slope, di, dj,
    row_number() OVER (ORDER BY slope, di, dj) AS rk,
    COUNT(*) OVER () AS np
  FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
  CAST(np AS BIGINT) AS n_pairs,
  slope AS ts_slope_cents_per_day
FROM ranked WHERE rk = (np + 1) // 2
"""


def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag bivariate Mahalanobis outliers over lineitem
    (quantity, extendedprice) cents
    (operators/features.py::mahalanobis_outliers_2d): rows off the
    group's quantity-price covariance structure (d² > 5 tail under the
    bounded-support synthetic mix) — the fat-finger/price-integrity audit both univariate
    z-score and MAD miss. Closed-form 2×2 inverse from DECIMAL-exact
    moments; composite line id packed numerically (orderkey·10 +
    linenumber)."""
    from data_pipeline_ine_spark.operators.features import (
        mahalanobis_outliers_2d,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("bigint")
        .alias("line_id"),
        F.floor(F.col("l_quantity") * 100).cast("bigint").alias("_q"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("_p"),
    )
    return mahalanobis_outliers_2d(
        li, "_q", "_p", ["l_returnflag"], id_col="line_id", threshold=5.0
    )


ORACLE_MAHALANOBIS = """
WITH rows_ AS (
  SELECT l_returnflag AS g,
    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS line_id,
    CAST(floor(l_quantity * 100) AS BIGINT) AS x,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT g, CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
  FROM rows_ GROUP BY 1
), j AS (
  SELECT g, line_id,
    CAST(n AS DOUBLE) AS nd,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
    CAST(sxy AS DOUBLE) AS sxyd,
    CAST(x AS DOUBLE) AS xd, CAST(y AS DOUBLE) AS yd
  FROM rows_ JOIN m USING (g)
), e AS (
  SELECT g, line_id,
    nd * sxxd - sxd * sxd AS cxx,
    nd * syyd - syd * syd AS cyy,
    nd * sxyd - sxd * syd AS cxy,
    nd * xd - sxd AS u,
    nd * yd - syd AS v
  FROM j
)
SELECT g AS l_returnflag, line_id,
  ROUND((u * u * cyy - 2.0 * u * v * cxy + v * v * cxx)
        / (cxx * cyy - cxy * cxy), 6) AS d2
FROM e
WHERE cxx * cyy - cxy * cxy > 0
  AND ROUND((u * u * cyy - 2.0 * u * v * cxy + v * v * cxx)
            / (cxx * cyy - cxy * cxy), 6) > 5.0
"""


def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily event value at lags 1..7
    (operators/timeseries.py::acf_daily) — the seasonality/AR-order
    diagnostic: Pearson over the aligned (xₜ, xₜ₊ₖ) pair series from
    exact DECIMAL moments, one fixed double expression per lag. Lag
    expansion is a generator explode; the self-join and windows are
    calendar-bounded, never corpus-sized."""
    from data_pipeline_ine_spark.operators.timeseries import acf_daily

    ev = load_table(spark, sf_dir, "events")
    return acf_daily(ev, "ts", "value", max_lag=7)


ORACLE_ACF = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM events GROUP BY 1
), idx AS (
  SELECT row_number() OVER (ORDER BY day) AS rn, rev FROM daily
), lagged AS (
  SELECT i.rn, i.rev AS x, l.lag, j.rev AS y
  FROM idx i
  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
  JOIN idx j ON j.rn = i.rn + l.lag
), m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    SUM(CAST(x AS DECIMAL(25,0))) AS sx,
    SUM(CAST(y AS DECIMAL(25,0))) AS sy,
    SUM(CAST(x AS DECIMAL(25,0)) * CAST(y AS DECIMAL(25,0))) AS sxy,
    SUM(CAST(x AS DECIMAL(25,0)) * CAST(x AS DECIMAL(25,0))) AS sxx,
    SUM(CAST(y AS DECIMAL(25,0)) * CAST(y AS DECIMAL(25,0))) AS syy
  FROM lagged GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
  ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
FROM m ORDER BY lag
"""


def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index of order value
    (operators/timeseries.py::dow_seasonality): per weekday
    (0=Sunday), the ratio of that weekday's mean order price to the
    overall mean — exact integer cents into one fixed double divide.
    One 7-rows-out aggregate + a 1-row totals broadcast."""
    from data_pipeline_ine_spark.operators.timeseries import dow_seasonality

    od = load_table(spark, sf_dir, "orders")
    return dow_seasonality(od, "o_orderdate", "o_totalprice")


ORACLE_DOW = """
WITH per AS (
  SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(CAST(floor(o_totalprice * 100) AS DECIMAL(25,0)))
      AS BIGINT) AS sum_cents
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS n_tot,
    CAST(SUM(sum_cents) AS BIGINT) AS s_tot
  FROM per
)
SELECT CAST(dow AS BIGINT) AS dow, n_rows, sum_cents,
  ROUND((CAST(sum_cents AS DOUBLE) * CAST(n_tot AS DOUBLE))
        / (CAST(n_rows AS DOUBLE) * CAST(s_tot AS DOUBLE)), 6) AS dow_index
FROM per, tot ORDER BY dow
"""


def q_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift monitor on daily event value
    (operators/timeseries.py::cusum_alarm): the sequential recurrence
    ``Sₜ = max(0, Sₜ₋₁ + xₜ − μ − k)`` computed relationally as
    prefix-sum minus running-min — all-BIGINT surfaces, alarm when S
    exceeds 20% of the daily mean. Catches persistent small drift a
    per-day z-score misses."""
    from data_pipeline_ine_spark.operators.timeseries import cusum_alarm

    ev = load_table(spark, sf_dir, "events")
    return cusum_alarm(ev, "ts", "value", slack_permille=50, h_permille=200)


ORACLE_CUSUM = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x_cents
  FROM events GROUP BY 1
), mu AS (
  SELECT CAST(SUM(x_cents) // COUNT(*) AS BIGINT) AS m FROM daily
), y AS (
  SELECT day, x_cents,
    x_cents - m - CAST((m * 50) // 1000 AS BIGINT) AS yv, m
  FROM daily, mu
), p AS (
  SELECT day, x_cents, m,
    CAST(SUM(yv) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pv
  FROM y
), s AS (
  SELECT day, x_cents, m, pv,
    CAST(pv - least(CAST(0 AS BIGINT), MIN(pv) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    AS BIGINT) AS s_cents
  FROM p
)
SELECT day, x_cents, s_cents,
  CAST(CASE WHEN s_cents > (m * 200) // 1000 THEN 1 ELSE 0 END
    AS BIGINT) AS alarm
FROM s ORDER BY day
"""


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-user sketch per event type
    (operators/sketches.py::kmv_distinct): the oracle-checkable
    distinct estimator — k smallest md5 hashes, estimate
    (k−1)·2⁴⁸ div h₍ₖ₎, exact count carried for auditability. The
    per-group bottom-k is WindowGroupLimit-pushed, never a full
    materialization."""
    from data_pipeline_ine_spark.operators.sketches import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", ["event_type"], k=32)


ORACLE_KMV = """
WITH h AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS key
  FROM events
), hh AS (
  SELECT event_type, key,
    CAST(('0x' || substr(md5('kmv:' || key), 1, 12)) AS BIGINT) AS hv
  FROM h
), r AS (
  SELECT event_type, hv,
    row_number() OVER (PARTITION BY event_type ORDER BY hv, key) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n_all
  FROM hh
)
SELECT event_type,
  CAST(MAX(n_all) AS BIGINT) AS n_exact,
  CAST(COALESCE(MAX(CASE WHEN rn = 32 THEN hv END), 0) AS BIGINT)
    AS kth_hash,
  CAST(CASE WHEN MAX(n_all) < 32 THEN MAX(n_all)
       ELSE (CAST(31 AS BIGINT) * CAST(281474976710656 AS BIGINT))
            // MAX(CASE WHEN rn = 32 THEN hv END) END AS BIGINT)
    AS kmv_estimate
FROM r WHERE rn <= 32 GROUP BY 1 ORDER BY 1
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders
    (operators/features.py::rfm_segments): recency/frequency/monetary
    quintile scores (5 = best) rolled up to segment cells — ntile
    under total orders, exact datediff recency, integer cents. One
    customer-grain aggregate + segment-sized output."""
    from data_pipeline_ine_spark.operators.features import rfm_segments

    od = load_table(spark, sf_dir, "orders")
    return rfm_segments(od, "o_custkey", "o_orderdate", "o_totalprice")


ORACLE_RFM = """
WITH per AS (
  SELECT o_custkey,
    MAX(CAST(o_orderdate AS DATE)) AS last_d,
    CAST(COUNT(*) AS BIGINT) AS f_orders,
    CAST(SUM(CAST(floor(o_totalprice * 100) AS DECIMAL(25,0)))
      AS BIGINT) AS m_cents
  FROM orders GROUP BY 1
), hz AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS hmax FROM orders
), s AS (
  SELECT o_custkey, f_orders, m_cents,
    CAST(datediff('day', last_d, hmax) AS BIGINT) AS r_days
  FROM per, hz
), sc AS (
  SELECT m_cents,
    CAST(6 - ntile(5) OVER (ORDER BY r_days ASC, o_custkey ASC)
      AS BIGINT) AS r_score,
    CAST(ntile(5) OVER (ORDER BY f_orders ASC, o_custkey ASC)
      AS BIGINT) AS f_score,
    CAST(ntile(5) OVER (ORDER BY m_cents ASC, o_custkey ASC)
      AS BIGINT) AS m_score
  FROM s
)
SELECT r_score, f_score, m_score,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(m_cents) AS BIGINT) AS segment_cents
FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy column profile of events
    (operators/quality.py::column_entropy): per column, N, distinct,
    and e6 fixed-point entropy from snapped per-category logs — the
    catalog screening stat (≈0 flags constants, ≈ln N flags ids).
    Generator-explode melt, map-side-combinable counts."""
    from data_pipeline_ine_spark.operators.quality import column_entropy

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.col("ts").cast("date").alias("day")
    )
    return column_entropy(ev, ["event_type", "user_id", "day"])


ORACLE_COLUMN_ENTROPY = """
WITH src AS (
  SELECT CAST(event_type AS VARCHAR) AS event_type,
    CAST(user_id AS VARCHAR) AS user_id,
    CAST(CAST(ts AS DATE) AS VARCHAR) AS day
  FROM events
), melted AS (
  SELECT 'event_type' AS col_name, event_type AS val FROM src
  UNION ALL SELECT 'user_id', user_id FROM src
  UNION ALL SELECT 'day', day FROM src
), counts AS (
  SELECT col_name, val, CAST(COUNT(*) AS BIGINT) AS c
  FROM melted GROUP BY 1, 2
), prof AS (
  SELECT col_name,
    CAST(SUM(c) AS BIGINT) AS n_rows,
    CAST(COUNT(*) AS BIGINT) AS n_distinct,
    CAST(SUM(CAST(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
      AS BIGINT) AS DECIMAL(38,0))) AS BIGINT) AS sum_c_lnc_e6
  FROM counts GROUP BY 1
)
SELECT col_name, n_rows, n_distinct, sum_c_lnc_e6,
  CAST(CAST(floor(ln(CAST(n_rows AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
    - sum_c_lnc_e6 // n_rows AS BIGINT) AS entropy_e6
FROM prof ORDER BY col_name
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph
    (operators/graph.py::k_core): iterative peeling of degree-<3
    nodes, run for a FIXED 8 rounds so the oracle can mirror the
    rounds structurally (fixpoint lands much earlier —
    tests/test_graph.py asserts a 9th round is a no-op). Each round is
    one degree aggregate + two node-keyed semi-joins; localCheckpoint
    keeps plans flat."""
    from data_pipeline_ine_spark.operators.graph import (
        cooccurrence_edges,
        k_core,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_count=2)
    return k_core(edges, k=3, rounds=8)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Mirror k_core's fixed peeling rounds as chained CTEs — output is
    identical by construction whether or not the fixpoint landed."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and each round
    # references the previous one 4x — unmaterialized that's 4^rounds
    # re-scans (blows the fd limit); materialized each round runs once.
    sql = [
        "WITH bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket,"
        " l_partkey AS item FROM lineitem),",
        "e0 AS MATERIALIZED (SELECT a.item AS u, b.item AS v FROM bi a"
        " JOIN bi b ON a.basket = b.basket AND a.item < b.item"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        sql.append(
            f", d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM"
            f" (SELECT u AS node FROM {prev}"
            f" UNION ALL SELECT v FROM {prev}) GROUP BY 1)"
            f", s{i} AS MATERIALIZED (SELECT node FROM d{i}"
            f" WHERE deg >= {k})"
            f", e{i} AS MATERIALIZED (SELECT u, v FROM {prev}"
            f" WHERE u IN (SELECT node FROM s{i})"
            f" AND v IN (SELECT node FROM s{i}))"
        )
        prev = f"e{i}"
    sql.append(
        f" SELECT node, CAST(deg AS BIGINT) AS deg FROM"
        f" (SELECT node, COUNT(*) AS deg FROM"
        f" (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})"
        f" GROUP BY 1) WHERE deg >= {k} ORDER BY node"
    )
    return "\n".join(sql)


ORACLE_KCORE = _kcore_oracle(k=3, rounds=8)


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document
    (operators/text.py::readability_scores): pure-regex integer counts
    (words, sentence runs, vowel-group syllables) into two fixed
    double expressions — the audience-level curation gate. Row-
    parallel JVM regexps, zero shuffles."""
    from data_pipeline_ine_spark.operators.text import readability_scores

    docs = load_table(spark, sf_dir, "documents")
    return readability_scores(docs, "text", "doc_id")


ORACLE_READABILITY = """
WITH c AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
      AS BIGINT) AS n_words,
    CAST(greatest(1, len(regexp_extract_all(lower(text), '[.!?]+')))
      AS BIGINT) AS n_sentences,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  ROUND(206.835
        - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
        4) AS flesch_ease,
  ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        - 15.59, 4) AS fk_grade
FROM c WHERE n_words > 0
"""


def q_loo_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out m-estimate target encoding of order priority by
    order value (operators/features.py::loo_target_encode): row i's
    encoding excludes its own target, so the feature can't memorize
    its label — all-integer surfaces (floor-division prior and
    encoding). One category aggregate + broadcast join back."""
    from data_pipeline_ine_spark.operators.features import (
        loo_target_encode,
    )

    od = load_table(spark, sf_dir, "orders")
    return loo_target_encode(
        od, "o_orderpriority", "o_totalprice", "o_orderkey", m_smooth=100
    )


ORACLE_LOO_ENCODE = """
WITH rows_ AS (
  SELECT o_orderkey, o_orderpriority AS cat,
    CAST(floor(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
), per AS (
  SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(x AS DECIMAL(25,0))) AS BIGINT) AS s
  FROM rows_ GROUP BY 1
), pr AS (
  SELECT CAST(CAST(SUM(CAST(x AS DECIMAL(25,0))) AS BIGINT)
    // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS gm
  FROM rows_
)
SELECT o_orderkey, cat AS o_orderpriority, n AS n_cat,
  CAST((s - x + 100 * gm) // (n - 1 + 100) AS BIGINT) AS enc_cents
FROM rows_ JOIN per USING (cat) CROSS JOIN pr
"""


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language
    (operators/text.py::token_fertility): subword tokens per
    whitespace word as an e6 integer ratio — the context-window cost
    lens on a multilingual mix. Row-parallel regex counts, one
    group aggregate."""
    from data_pipeline_ine_spark.operators.text import token_fertility

    docs = load_table(spark, sf_dir, "documents")
    return token_fertility(docs, "text", "lang")


ORACLE_FERTILITY = r"""
WITH c AS (
  SELECT lang,
    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
      AS BIGINT) AS t,
    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT) AS w
  FROM documents
), agg AS (
  SELECT lang,
    CAST(SUM(CAST(t AS DECIMAL(25,0))) AS BIGINT) AS n_tokens,
    CAST(SUM(CAST(w AS DECIMAL(25,0))) AS BIGINT) AS n_words
  FROM c GROUP BY 1
)
SELECT lang, n_tokens, n_words,
  CAST((n_tokens * 1000000) // n_words AS BIGINT) AS fertility_e6
FROM agg ORDER BY lang
"""


def q_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and weekday
    (operators/features.py::categorical_mi): the model-free
    feature-selection score — e6-snapped cell log-ratios of exact
    integer products, BIGINT term sum, one double divide for the nats.
    One (x,y) count is the corpus-sized work."""
    from data_pipeline_ine_spark.operators.features import categorical_mi

    ev = load_table(spark, sf_dir, "events")
    return categorical_mi(
        ev,
        F.col("event_type"),
        (F.dayofweek(F.col("ts").cast("date")) - 1).cast("bigint"),
    )


ORACLE_FEATURE_MI = """
WITH cells AS (
  SELECT event_type AS x, dayofweek(CAST(ts AS DATE)) AS y,
    CAST(COUNT(*) AS BIGINT) AS cxy
  FROM events GROUP BY 1, 2
), mx AS (
  SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM cells GROUP BY 1
), my AS (
  SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cxy) AS BIGINT) AS n,
    CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM cells
), terms AS (
  SELECT cxy, n, n_cells,
    CAST(floor(ln(CAST(cxy * n AS DOUBLE) / CAST(cx * cy AS DOUBLE))
      * 1e6 + 0.5) AS DECIMAL(19,0)) AS lr
  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
), s AS (
  SELECT CAST(MIN(n) AS BIGINT) AS n_rows,
    CAST(MIN(n_cells) AS BIGINT) AS n_cells,
    CAST(CAST(SUM(CAST(cxy AS DECIMAL(19,0)) * lr) AS DECIMAL(38,0))
      AS BIGINT) AS sum_terms_e6
  FROM terms
)
SELECT n_rows, n_cells, sum_terms_e6,
  ROUND(CAST(sum_terms_e6 AS DOUBLE) / CAST(n_rows AS DOUBLE) / 1e6, 6)
    AS mi_nats
FROM s
"""


def q_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search on order value vs urgent priority
    (operators/features.py::gini_split): weighted Gini impurity at
    every log2-bucket boundary (≤64 candidates at any corpus size),
    cumulative class counts over the bucket frame, one fixed double
    expression per boundary."""
    from data_pipeline_ine_spark.operators.features import gini_split

    od = load_table(spark, sf_dir, "orders")
    return gini_split(
        od,
        "o_totalprice",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
    )


ORACLE_GINI_SPLIT = """
WITH per AS (
  SELECT CASE WHEN CAST(floor(o_totalprice * 100) AS BIGINT) > 0
    THEN CAST(length(bin(CAST(floor(o_totalprice * 100) AS BIGINT)))
      AS BIGINT) ELSE 0 END AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM orders GROUP BY 1
), cum AS (
  SELECT bucket,
    CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
      AND CURRENT ROW) AS BIGINT) AS n_left,
    CAST(SUM(p) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
      AND CURRENT ROW) AS BIGINT) AS pos_left
  FROM per
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(p) AS BIGINT) AS pt
  FROM per
), st AS (
  SELECT bucket, n_left, pos_left,
    CAST(nt - n_left AS BIGINT) AS n_right,
    CAST(pt - pos_left AS BIGINT) AS pos_right, nt
  FROM cum, tot
)
SELECT bucket, n_left, pos_left, n_right, pos_right,
  ROUND(((CAST(n_left AS DOUBLE)
    - (CAST(pos_left AS DOUBLE) * CAST(pos_left AS DOUBLE)
       + (CAST(n_left AS DOUBLE) - CAST(pos_left AS DOUBLE))
         * (CAST(n_left AS DOUBLE) - CAST(pos_left AS DOUBLE)))
      / CAST(n_left AS DOUBLE))
    + (CAST(n_right AS DOUBLE)
    - (CAST(pos_right AS DOUBLE) * CAST(pos_right AS DOUBLE)
       + (CAST(n_right AS DOUBLE) - CAST(pos_right AS DOUBLE))
         * (CAST(n_right AS DOUBLE) - CAST(pos_right AS DOUBLE)))
      / CAST(n_right AS DOUBLE)))
    / CAST(nt AS DOUBLE), 6) AS gini_weighted
FROM st WHERE n_right > 0 ORDER BY bucket
"""


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on event value
    (operators/quality.py::diff_in_diff): users md5-split 50/50,
    time split at mid-January — the causal workhorse netting out group
    baseline and shared trend. Eight exact integer cells, one fixed
    double expression."""
    from data_pipeline_ine_spark.operators.quality import diff_in_diff

    ev = load_table(spark, sf_dir, "events")
    return diff_in_diff(ev, "user_id", "ts", "value", "2024-01-16")


ORACLE_DID = (
    """
WITH tagged AS (
  SELECT (DID_FOLD % 2) AS v,
    CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 ELSE 0 END
      AS post,
    CAST(floor(value * 100) AS BIGINT) AS x
  FROM events
), cells AS (
  SELECT
    CAST(SUM(CASE WHEN v = 0 AND post = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS c_pre_n,
    CAST(SUM(CASE WHEN v = 0 AND post = 0 THEN CAST(x AS DECIMAL(25,0))
      ELSE CAST(0 AS DECIMAL(25,0)) END) AS BIGINT) AS c_pre_cents,
    CAST(SUM(CASE WHEN v = 0 AND post = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS c_post_n,
    CAST(SUM(CASE WHEN v = 0 AND post = 1 THEN CAST(x AS DECIMAL(25,0))
      ELSE CAST(0 AS DECIMAL(25,0)) END) AS BIGINT) AS c_post_cents,
    CAST(SUM(CASE WHEN v = 1 AND post = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS t_pre_n,
    CAST(SUM(CASE WHEN v = 1 AND post = 0 THEN CAST(x AS DECIMAL(25,0))
      ELSE CAST(0 AS DECIMAL(25,0)) END) AS BIGINT) AS t_pre_cents,
    CAST(SUM(CASE WHEN v = 1 AND post = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS t_post_n,
    CAST(SUM(CASE WHEN v = 1 AND post = 1 THEN CAST(x AS DECIMAL(25,0))
      ELSE CAST(0 AS DECIMAL(25,0)) END) AS BIGINT) AS t_post_cents
  FROM tagged
)
SELECT c_pre_n, c_post_n, t_pre_n, t_post_n,
  ROUND((CAST(t_post_cents AS DOUBLE) / CAST(t_post_n AS DOUBLE)
         - CAST(t_pre_cents AS DOUBLE) / CAST(t_pre_n AS DOUBLE))
        - (CAST(c_post_cents AS DOUBLE) / CAST(c_post_n AS DOUBLE)
           - CAST(c_pre_cents AS DOUBLE) / CAST(c_pre_n AS DOUBLE)), 6)
    AS did_cents
FROM cells
""".replace(
        "DID_FOLD", _HEX12.format(h="md5('did:' || CAST(user_id AS VARCHAR))")
    )
)


def q_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence (hubness) histogram of the label-blocked kNN graph
    (operators/similarity.py::knn_hubness): per label, how many vectors
    appear in n other top-5 lists — the ANN health diagnostic for the
    high-dimensional hub pathology. Composition over the exact blocked
    kNN; antihubs kept via a left join."""
    from data_pipeline_ine_spark.operators.similarity import knn_hubness

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_hubness(
        emb, k=5, memo_key=_table_fingerprint(sf_dir, "embeddings")
    )


ORACLE_KNN_HUBNESS = """
WITH e AS (
  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, a.label AS block,
    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM p
), occ AS (
  SELECT block AS label, neighbor_id AS vec_id,
    CAST(COUNT(*) AS BIGINT) AS nk
  FROM ranked WHERE rank <= 5 GROUP BY 1, 2
), per_vec AS (
  SELECT e.label, COALESCE(occ.nk, 0) AS n_k
  FROM e LEFT JOIN occ ON e.label = occ.label AND e.vec_id = occ.vec_id
)
SELECT label, CAST(n_k AS BIGINT) AS n_k,
  CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM per_vec GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    (operators/timeseries.py::markov_stationary): 4 power iterations in
    exact e6 integer fixed point over the transition matrix — where
    behavior settles if today's dynamics hold. Corpus work is one
    keyed window; every iteration runs on the ≤|types|² matrix."""
    from data_pipeline_ine_spark.operators.timeseries import (
        markov_stationary,
    )

    ev = load_table(spark, sf_dir, "events")
    return markov_stationary(ev, "user_id", "event_type", "ts", "event_id")


def _markov_oracle(iters: int) -> str:
    sql = [
        """WITH seq AS (
  SELECT user_id, event_type AS cur_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
), counts AS (
  SELECT cur_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), totals AS (
  SELECT cur_type, CAST(SUM(n) AS BIGINT) AS tot FROM counts GROUP BY 1
), p AS MATERIALIZED (
  SELECT c.cur_type, c.next_type,
    CAST((c.n * 1000000) // t.tot AS BIGINT) AS p_e6
  FROM counts c JOIN totals t USING (cur_type)
), states AS MATERIALIZED (
  SELECT DISTINCT state FROM (
    SELECT cur_type AS state FROM p
    UNION ALL SELECT next_type FROM p)
), r0 AS MATERIALIZED (
  SELECT state,
    CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT) AS r
  FROM states
)"""
    ]
    for i in range(1, iters + 1):
        sql.append(
            f""", r{i} AS MATERIALIZED (
  SELECT s.state, CAST(COALESCE(m.rn, 0) AS BIGINT) AS r
  FROM states s LEFT JOIN (
    SELECT p.next_type AS state,
      CAST(SUM(rr.r * p.p_e6) // 1000000 AS BIGINT) AS rn
    FROM p JOIN r{i - 1} rr ON rr.state = p.cur_type GROUP BY 1
  ) m USING (state)
)"""
        )
    sql.append(
        f"\nSELECT state, r AS stationary_e6 FROM r{iters} ORDER BY state"
    )
    return "".join(sql)


ORACLE_MARKOV = _markov_oracle(iters=4)


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval half-width per event type
    (operators/features.py::conformal_interval): the ⌈(n+1)·0.9⌉-th
    order statistic of absolute OLS residuals — the distribution-free
    ±q̂ with finite-sample coverage, over the same decimal-exact
    trend fit as grouped_ols."""
    from data_pipeline_ine_spark.operators.features import (
        conformal_interval,
    )

    ev = load_table(spark, sf_dir, "events")
    return conformal_interval(
        ev,
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))),
        F.col("value"),
        ["event_type"],
        id_col="event_id",
        alpha_permille=100,
    )


ORACLE_CONFORMAL = """
WITH b AS (
  SELECT event_type, event_id, value,
    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x
  FROM events
), m AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(25,4))) AS sx,
    SUM(CAST(value AS DECIMAL(25,4))) AS sy,
    SUM(CAST(x AS DECIMAL(25,4)) * CAST(value AS DECIMAL(25,4))) AS sxy,
    SUM(CAST(x AS DECIMAL(25,4)) * CAST(x AS DECIMAL(25,4))) AS sxx
  FROM b GROUP BY 1
), fit AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
    ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
    ROUND((CAST(sy AS DOUBLE)
           - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
  FROM m
), resid AS (
  SELECT b.event_type, b.event_id, fit.n,
    abs(CAST(b.value AS DOUBLE)
        - (fit.intercept + fit.slope * CAST(b.x AS DOUBLE))) AS r
  FROM b JOIN fit USING (event_type)
), ranked AS (
  SELECT event_type, n, r,
    row_number() OVER (PARTITION BY event_type ORDER BY r, event_id)
      AS rk
  FROM resid
)
SELECT event_type, n AS n_rows,
  CAST(least(n, ((n + 1) * 900) // 1000) AS BIGINT) AS conformal_rank,
  ROUND(r, 6) AS q_hat
FROM ranked WHERE rk = least(n, ((n + 1) * 900) // 1000)
ORDER BY event_type
"""


def q_pq_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC index vs exact integer-space search over
    10 held-out queries (operators/similarity.py::pq_recall_curve) —
    the measure-don't-guess harness for the quantization tier. Ground
    truth and ADC share the same fixed-point integers, so the curve
    isolates codebook loss; recall = hits + one fixed divide."""
    from data_pipeline_ine_spark.operators.similarity import (
        pq_recall_curve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_recall_curve(emb, m=4, n_codes=8, ks=(1, 5, 10), n_queries=10)


ORACLE_PQ_RECALL = _PQ_ENC_CTE + """
, qids AS (
  SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 10
), exact_d AS (
  SELECT q.qid, v.vec_id AS cand,
    CAST(SUM((qv.vi - v.vi) * (qv.vi - v.vi)) AS BIGINT) AS d
  FROM qids q
  JOIN vint qv ON qv.vec_id = q.qid
  JOIN vint v ON v.i = qv.i AND v.vec_id <> q.qid
  GROUP BY 1, 2
), exact_rk AS (
  SELECT qid, cand,
    row_number() OVER (PARTITION BY qid ORDER BY d, cand) AS erk
  FROM exact_d
), lut AS (
  SELECT q.qid, cb2.s, cb2.c,
    CAST(SUM((qv.vi - cb2.cv) * (qv.vi - cb2.cv)) AS BIGINT) AS d
  FROM qids q
  JOIN vint qv ON qv.vec_id = q.qid
  JOIN cbdims cb2 ON cb2.i = qv.i
  GROUP BY 1, 2, 3
), pqd AS (
  SELECT l.qid, e.vec_id AS cand, CAST(SUM(l.d) AS BIGINT) AS d
  FROM enc e JOIN lut l ON l.s = e.s AND l.c = e.c
  WHERE e.vec_id <> l.qid
  GROUP BY 1, 2
), pq_rk AS (
  SELECT qid, cand,
    row_number() OVER (PARTITION BY qid ORDER BY d, cand) AS prk
  FROM pqd
), ks AS (
  SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k
), joined AS (
  SELECT e.qid, e.cand, e.erk, p.prk
  FROM exact_rk e JOIN pq_rk p ON e.qid = p.qid AND e.cand = p.cand
), hits AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS hits
  FROM joined, ks WHERE erk <= ks.k AND prk <= ks.k GROUP BY 1
)
SELECT ks.k, CAST(10 AS BIGINT) AS n_queries,
  CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits,
  ROUND(CAST(COALESCE(hits.hits, 0) AS DOUBLE)
        / CAST(ks.k * 10 AS DOUBLE), 6) AS recall
FROM ks LEFT JOIN hits USING (k) ORDER BY k
"""


def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature table over order dates
    (operators/features.py::calendar_features): dow/dom/ISO-week/
    month/quarter/is_weekend at date grain — built once, broadcast
    back to facts, never widened in place. Pure integer calendar
    math both engines share."""
    from data_pipeline_ine_spark.operators.features import (
        calendar_features,
    )

    od = load_table(spark, sf_dir, "orders")
    return calendar_features(od, "o_orderdate")


ORACLE_CALENDAR = """
WITH d AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
)
SELECT day,
  CAST(dayofweek(day) AS BIGINT) AS dow,
  CAST(day(day) AS BIGINT) AS dom,
  CAST(weekofyear(day) AS BIGINT) AS iso_week,
  CAST(month(day) AS BIGINT) AS month,
  CAST(quarter(day) AS BIGINT) AS quarter,
  CAST(CASE WHEN dayofweek(day) IN (0, 6) THEN 1 ELSE 0 END AS BIGINT)
    AS is_weekend
FROM d ORDER BY day
"""


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling of order value per priority
    (operators/features.py::robust_scale): explicit order-statistic
    quartiles under a total order, exact integer centering, one fixed
    double divide for the scaled value — the outlier-immune
    standardization next to group_zscore."""
    from data_pipeline_ine_spark.operators.features import robust_scale

    od = load_table(spark, sf_dir, "orders")
    return robust_scale(
        od, "o_totalprice", ["o_orderpriority"], id_col="o_orderkey"
    )


ORACLE_ROBUST_SCALE = """
WITH rows_ AS (
  SELECT o_orderpriority AS g, o_orderkey AS id,
    CAST(floor(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
), ranked AS (
  SELECT g, id, x,
    row_number() OVER (PARTITION BY g ORDER BY x, id) AS rk,
    COUNT(*) OVER (PARTITION BY g) AS n
  FROM rows_
), stats AS (
  SELECT g,
    MAX(CASE WHEN rk = (n + 1) // 2 THEN x END) AS med,
    MAX(CASE WHEN rk = (n + 1) // 4 THEN x END) AS q1,
    MAX(CASE WHEN rk = (3 * (n + 1)) // 4 THEN x END) AS q3
  FROM ranked
  WHERE rk = (n + 1) // 2 OR rk = (n + 1) // 4
     OR rk = (3 * (n + 1)) // 4
  GROUP BY 1
)
SELECT r.g AS o_orderpriority, r.id AS o_orderkey,
  CAST(r.x - s.med AS BIGINT) AS centered_units,
  CAST(s.q3 - s.q1 AS BIGINT) AS iqr_units,
  CASE WHEN s.q3 > s.q1
    THEN ROUND(CAST(r.x - s.med AS DOUBLE)
               / CAST(s.q3 - s.q1 AS DOUBLE), 6)
  END AS scaled
FROM rows_ r JOIN stats s USING (g)
"""


def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF cell-probed index vs exact search at
    n_probe ∈ {1,2,4} (operators/similarity.py::ivf_recall_curve) —
    prices the probe budget the way pq_recall_curve prices
    quantization loss. Shared rounded-cosine total order keeps the
    curve engine-exact."""
    from data_pipeline_ine_spark.operators.similarity import (
        ivf_recall_curve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return ivf_recall_curve(emb, qvec, n_probes=(1, 2, 4), k=10)


def _ivf_recall_oracle(n_probes=(1, 2, 4), k=10) -> str:
    head = """WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
), cent AS MATERIALIZED (
  SELECT label, list(c ORDER BY d) AS centroid FROM dims GROUP BY label
), exact AS MATERIALIZED (
  SELECT e.vec_id FROM e, q
  ORDER BY ROUND(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, e.vec_id
  LIMIT {k}
)""".format(k=k)
    blocks, selects = [], []
    for p in n_probes:
        blocks.append(
            """, pr{p} AS (
  SELECT label FROM cent, q
  ORDER BY ROUND(list_dot_product(centroid, qv)
        / (sqrt(list_dot_product(centroid, centroid))
           * sqrt(list_dot_product(qv, qv))), 6) DESC, label
  LIMIT {p}
), top{p} AS (
  SELECT e.vec_id FROM e JOIN pr{p} USING (label), q
  ORDER BY ROUND(list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, e.vec_id
  LIMIT {k}
), h{p} AS (
  SELECT CAST({p} AS BIGINT) AS n_probe, CAST({k} AS BIGINT) AS k,
    CAST(COUNT(*) AS BIGINT) AS hits
  FROM top{p} JOIN exact USING (vec_id)
)""".format(p=p, k=k)
        )
        selects.append(f"SELECT * FROM h{p}")
    tail = (
        "\nSELECT n_probe, k, hits, "
        f"ROUND(CAST(hits AS DOUBLE) / {float(k)}, 6) AS recall\n"
        "FROM (" + " UNION ALL ".join(selects) + ") ORDER BY n_probe"
    )
    return head + "".join(blocks) + tail


ORACLE_IVF_RECALL = _ivf_recall_oracle()


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling over a 10% basket slice of the
    order→part positives (operators/sampling.py::negative_samples):
    k=2 hash-drawn catalog items per positive, accidental positives
    anti-joined away — the contrastive counterexamples a two-tower
    trainer needs, reproducible on any engine with no RNG state."""
    from data_pipeline_ine_spark.operators.sampling import (
        negative_samples,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_orderkey % 10 = 0")
    )
    part = load_table(spark, sf_dir, "part")
    return negative_samples(
        li, part, "l_orderkey", "l_partkey", "p_partkey", k=2
    )


ORACLE_NEG_SAMPLES = (
    """
WITH parts AS (
  SELECT p_partkey AS neg_item,
    row_number() OVER (ORDER BY p_partkey) - 1 AS rn
  FROM (SELECT DISTINCT p_partkey FROM part)
), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM parts),
pos AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
  FROM lineitem WHERE l_orderkey % 10 = 0
), draws AS (
  SELECT basket, item, CAST(d.draw AS BIGINT) AS draw,
    (NEG_FOLD % n) AS rn
  FROM pos CROSS JOIN np
  CROSS JOIN (SELECT unnest([0, 1]) AS draw) d
), cand AS (
  SELECT basket, item, draw, p.neg_item
  FROM draws JOIN parts p USING (rn)
)
SELECT c.basket, c.item, c.draw, c.neg_item
FROM cand c
LEFT JOIN pos p2 ON p2.basket = c.basket AND p2.item = c.neg_item
WHERE p2.item IS NULL
""".replace(
        "NEG_FOLD",
        _HEX12.format(
            h="md5('neg:' || CAST(draw AS VARCHAR) || ':' || "
            "CAST(basket AS VARCHAR) || ':' || CAST(item AS VARCHAR))"
        ),
    )
)


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the k_anonymity release surface
    (operators/quality.py::l_diversity): distinct sensitive langs per
    (source, chars-bucket) class — catches the homogeneity attack a
    pure class-size audit misses. Two hash aggregates, risk-sized
    output."""
    from data_pipeline_ine_spark.operators.quality import l_diversity

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 50").alias("chars_bucket")
    )
    return l_diversity(docs, ["source", "chars_bucket"], "lang")


ORACLE_L_DIVERSITY = """
WITH classes AS (
  SELECT source, n_chars // 50 AS chars_bucket,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS l
  FROM documents GROUP BY 1, 2
), hist AS (
  SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes FROM classes GROUP BY 1
)
SELECT l, n_classes, (SELECT CAST(MIN(l) AS BIGINT) FROM hist) AS min_l
FROM hist ORDER BY l
"""


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median stage-to-stage conversion delay under the funnel's
    first-touch semantics (operators/timeseries.py::funnel_latency) —
    how long the funnel takes next to funnel_conversion's how many
    make it. Explicit order-statistic medians over exact field-
    arithmetic epoch seconds (DST-immune under any session TZ)."""
    from data_pipeline_ine_spark.operators.timeseries import funnel_latency

    ev = load_table(spark, sf_dir, "events")
    return funnel_latency(ev, stages=("view", "click", "purchase"))


ORACLE_FUNNEL_LATENCY = """
WITH t0 AS (
  SELECT user_id, ts, event_type,
    MIN(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS s0
  FROM events
), t1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > s0 THEN ts END)
      OVER (PARTITION BY user_id) AS s1
  FROM t0
), t2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > s1 THEN ts END)
      OVER (PARTITION BY user_id) AS s2
  FROM t1
), per_user AS (
  SELECT user_id, MIN(s0) AS s0, MIN(s1) AS s1, MIN(s2) AS s2
  FROM t2 GROUP BY 1
), d1 AS (
  SELECT user_id,
    CAST(floor(epoch(s1)) - floor(epoch(s0)) AS BIGINT) AS d
  FROM per_user WHERE s1 IS NOT NULL
), r1 AS (
  SELECT d, row_number() OVER (ORDER BY d, user_id) AS rk,
    COUNT(*) OVER () AS n
  FROM d1
), m1 AS (
  SELECT CAST(n AS BIGINT) AS n_converted, d AS median_delay_s
  FROM r1 WHERE rk = (n + 1) // 2
), d2 AS (
  SELECT user_id,
    CAST(floor(epoch(s2)) - floor(epoch(s1)) AS BIGINT) AS d
  FROM per_user WHERE s2 IS NOT NULL
), r2 AS (
  SELECT d, row_number() OVER (ORDER BY d, user_id) AS rk,
    COUNT(*) OVER () AS n
  FROM d2
), m2 AS (
  SELECT CAST(n AS BIGINT) AS n_converted, d AS median_delay_s
  FROM r2 WHERE rk = (n + 1) // 2
)
SELECT 'view->click' AS transition, CAST(0 AS BIGINT) AS stage_idx,
  n_converted, median_delay_s FROM m1
UNION ALL
SELECT 'click->purchase', CAST(1 AS BIGINT), n_converted, median_delay_s
FROM m2
ORDER BY stage_idx
"""


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document
    (operators/text.py::doc_keywords) — the auto-tagging primitive
    next to tfidf_top_terms' per-source summary. Rational-smoothed idf
    (no libm logs), WindowGroupLimit-cut per-doc ranking."""
    from data_pipeline_ine_spark.operators.text import doc_keywords

    docs = load_table(spark, sf_dir, "documents")
    return doc_keywords(docs, k=3)


ORACLE_DOC_KEYWORDS = """
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
), df_ AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docfreq
  FROM toks GROUP BY 1
), nd AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df_.docfreq,
    ROUND(tf.tf * (CAST(nd.n_docs + 1 AS DOUBLE)
                   / CAST(df_.docfreq + 1 AS DOUBLE)), 6) AS score
  FROM tf JOIN df_ USING (term) CROSS JOIN nd
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, docfreq, score
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag
    (operators/features.py::weighted_median): the value where running
    weight crosses half the total — integer comparisons only, the
    lower weighted median. The typical-unit statistic the row-median
    silently gets wrong."""
    from data_pipeline_ine_spark.operators.features import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"]
    )


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price QUARTILES per return flag
    (operators/features.py::weighted_quantiles): the values where
    running weight first reaches 1/4, 2/4, 3/4 of the total — all
    three cut points from one conditional-min aggregate over the same
    two-pass distributed running weight the median rides. Weighted
    IQR = P75 − P25."""
    from data_pipeline_ine_spark.operators.features import (
        weighted_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_quantiles(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"]
    )


ORACLE_WEIGHTED_QUANTILES = """
WITH vals AS (
  SELECT l_returnflag AS g,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
    CAST(floor(l_quantity * 100) AS BIGINT) AS w
  FROM lineitem
), run AS (
  SELECT g, v, w,
    CAST(SUM(w) OVER (PARTITION BY g ORDER BY v, w
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS wr
  FROM vals
), tot AS (
  SELECT g, CAST(SUM(CAST(w AS DECIMAL(25,0))) AS BIGINT) AS wt
  FROM vals GROUP BY 1
)
SELECT r.g AS l_returnflag,
  CAST(MIN(CASE WHEN 4 * r.wr >= 1 * t.wt THEN r.v END) AS BIGINT)
    AS wq1_4_units,
  CAST(MIN(CASE WHEN 4 * r.wr >= 2 * t.wt THEN r.v END) AS BIGINT)
    AS wq2_4_units,
  CAST(MIN(CASE WHEN 4 * r.wr >= 3 * t.wt THEN r.v END) AS BIGINT)
    AS wq3_4_units,
  CAST(MIN(t.wt) AS BIGINT) AS total_weight_units
FROM run r JOIN tot t USING (g)
GROUP BY 1 ORDER BY 1
"""


ORACLE_WEIGHTED_MEDIAN = """
WITH vals AS (
  SELECT l_returnflag AS g,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
    CAST(floor(l_quantity * 100) AS BIGINT) AS w
  FROM lineitem
), run AS (
  SELECT g, v, w,
    CAST(SUM(w) OVER (PARTITION BY g ORDER BY v, w
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS wr
  FROM vals
), tot AS (
  SELECT g, CAST(SUM(CAST(w AS DECIMAL(25,0))) AS BIGINT) AS wt
  FROM vals GROUP BY 1
)
SELECT r.g AS l_returnflag,
  CAST(MIN(CASE WHEN 2 * r.wr >= t.wt THEN r.v END) AS BIGINT)
    AS wmedian_units,
  CAST(MIN(t.wt) AS BIGINT) AS total_weight_units
FROM run r JOIN tot t USING (g)
GROUP BY 1 ORDER BY 1
"""


def q_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density (DBSCAN-lite) hotspot clustering of the customer
    placement field (operators/layout.py::grid_density_clusters):
    dense eps-cells connected through their 8-neighborhood by
    fixed-round min-label propagation — per-point work is one integer
    cell key; everything else lives on the domain-bounded grid."""
    from data_pipeline_ine_spark.operators.layout import (
        grid_density_clusters,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.expr("(c_custkey * 48271) % 18000").cast("bigint").alias("xu"),
        F.expr("(c_custkey * 16807) % 36000").cast("bigint").alias("yu"),
    )
    return grid_density_clusters(
        cust, "xu", "yu", cell_units=1000, min_pts=4, rounds=8
    )


def _grid_cluster_oracle(cell_units=1000, min_pts=4, rounds=8) -> str:
    head = f"""WITH pts AS (
  SELECT (c_custkey * 48271) % 18000 AS xu,
    (c_custkey * 16807) % 36000 AS yu
  FROM customer
), cells AS MATERIALIZED (
  SELECT xu // {cell_units} AS cx, yu // {cell_units} AS cy,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2
), dense AS MATERIALIZED (
  SELECT cx, cy, n, CAST(cx * 100000 + cy AS BIGINT) AS cell
  FROM cells WHERE n >= {min_pts}
), offs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                        (0,1),(1,-1),(1,0),(1,1)) AS t(dx, dy)
), edges AS MATERIALIZED (
  SELECT d.cell,
    CAST((d.cx + o.dx) * 100000 + (d.cy + o.dy) AS BIGINT) AS nbr
  FROM dense d CROSS JOIN offs o
  WHERE EXISTS (SELECT 1 FROM dense d2
    WHERE d2.cell = CAST((d.cx + o.dx) * 100000 + (d.cy + o.dy)
      AS BIGINT))
), l0 AS MATERIALIZED (SELECT cell, cell AS lbl FROM dense)"""
    blocks = []
    for i in range(1, rounds + 1):
        blocks.append(
            f""", l{i} AS MATERIALIZED (
  SELECT c.cell, LEAST(c.lbl, COALESCE(m.nmin, c.lbl)) AS lbl
  FROM l{i - 1} c LEFT JOIN (
    SELECT e.cell, MIN(ln.lbl) AS nmin
    FROM edges e JOIN l{i - 1} ln ON ln.cell = e.nbr GROUP BY 1
  ) m USING (cell)
)"""
        )
    tail = f"""
SELECT l.lbl AS cluster_label, CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(d.n) AS BIGINT) AS n_points
FROM l{rounds} l JOIN dense d USING (cell)
GROUP BY 1 ORDER BY 1"""
    return head + "".join(blocks) + tail


ORACLE_GRID_CLUSTERS = _grid_cluster_oracle()


def q_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT on the treatment arm's purchase conversion, day by
    day (operators/quality.py::sprt_ab) — the anytime-valid sequential
    test (peeking daily is the design): H0 p=0.4 vs H1 p=0.5, LLR
    increments embedded as design-time e6 integers (zero runtime libm),
    Wald ±ln(19) exits. Calendar-bounded cumulative windows."""
    from data_pipeline_ine_spark.operators.quality import sprt_ab

    ev = load_table(spark, sf_dir, "events")
    # ln(0.5/0.4)·1e6 = 223144; ln(0.5/0.6)·1e6 = −182322 (design consts)
    return sprt_ab(
        ev,
        "user_id",
        "ts",
        F.col("event_type") == "purchase",
        llr_conv_e6=223144,
        llr_fail_e6=-182322,
    )


ORACLE_SPRT = (
    """
WITH units AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), treat AS (
  SELECT day, conv FROM units WHERE (AB_FOLD % 2) = 1
), daily AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(conv) AS BIGINT) AS c
  FROM treat GROUP BY 1
), cum AS (
  SELECT day,
    CAST(SUM(n) OVER w AS BIGINT) AS n_units_cum,
    CAST(SUM(c) OVER w AS BIGINT) AS conv_cum,
    CAST(SUM(c * 223144 + (n - c) * (-182322)) OVER w AS BIGINT)
      AS llr_e6
  FROM daily
  WINDOW w AS (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, n_units_cum, conv_cum, llr_e6,
  CAST(CASE WHEN llr_e6 >= 2944439 THEN 1
            WHEN llr_e6 <= -2944439 THEN -1 ELSE 0 END AS BIGINT)
    AS decision
FROM cum ORDER BY day
""".replace(
        "AB_FOLD", _HEX12.format(h="md5('ab:' || CAST(user_id AS VARCHAR))")
    )
)


def q_binseg_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint scan of daily event value
    (operators/timeseries.py::binseg_split): per candidate split, the
    two-segment SSE from decimal-exact prefix moments — where the
    level changed in hindsight, next to CUSUM's is-it-drifting-now.
    Calendar-bounded candidate frame."""
    from data_pipeline_ine_spark.operators.timeseries import binseg_split

    ev = load_table(spark, sf_dir, "events")
    return binseg_split(ev, "ts", "value")


ORACLE_BINSEG = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
), pre AS (
  SELECT day, x,
    row_number() OVER (ORDER BY day) AS rn,
    SUM(CAST(x AS DECIMAL(25,0))) OVER w AS s1,
    SUM(CAST(CAST(x AS DECIMAL(25,0)) * x AS DECIMAL(38,0))) OVER w AS q1
  FROM daily
  WINDOW w AS (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT CAST(MAX(rn) AS BIGINT) AS n, MAX(s1) AS st, MAX(q1) AS qt
  FROM pre
)
SELECT day, CAST(rn AS BIGINT) AS n_left,
  ROUND((CAST(q1 AS DOUBLE)
         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(rn AS DOUBLE))
        + (CAST(qt - q1 AS DOUBLE)
           - CAST(st - s1 AS DOUBLE) * CAST(st - s1 AS DOUBLE)
             / CAST(n - rn AS DOUBLE)), 4) AS split_cost
FROM pre, tot WHERE rn < n ORDER BY day
"""


def q_image_augment_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash of horizontally-flipped and 90°-rotated views of every
    raster (operators/multimodal.py::image_augment_dhash): real PNG/GIF
    decode, pure-integer numpy view transforms, the standard hash —
    the augmentation-survival check for vision dedup. The oracle never
    touches a byte: flip and rotation are closed-form index maps over
    the synthetic gradient, so any decode/transform/packing bug flips
    bits."""
    from data_pipeline_ine_spark.operators.multimodal import (
        image_augment_dhash,
        with_synthetic_media,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("n_chars", F.lit(0)).alias("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = with_synthetic_media(docs)  # non-raster blobs emit no row
    return image_augment_dhash(media, ops=("fliph", "rot90"))


ORACLE_AUG_DHASH = """
WITH d AS (
  SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 4 + doc_id % 64 AS w, 4 + doc_id % 32 AS h
  FROM documents WHERE doc_id % 4 = 1
), rws AS (
  SELECT doc_id, w, h, unnest(generate_series(0, 7)) AS r FROM d
), cells AS (
  SELECT doc_id, w, h, r, unnest(generate_series(0, 7)) AS c FROM rws
), bits_f AS (
  -- fliph: pixel(row, col) = (row + (w-1-col) + id) % 256, dims (w, h)
  SELECT doc_id, 'fliph' AS aug, w AS width, h AS height, r, c,
    CASE WHEN ((r * h) // 8 + (w - 1 - ((c + 1) * w) // 9) + doc_id) % 256
            > ((r * h) // 8 + (w - 1 - (c * w) // 9) + doc_id) % 256
         THEN 1 ELSE 0 END AS bit
  FROM cells
), bits_r AS (
  -- rot90 cw: pixel(row, col) = ((h-1-col) + row + id) % 256 over the
  -- SWAPPED dims (width h, height w)
  SELECT doc_id, 'rot90' AS aug, h AS width, w AS height, r, c,
    CASE WHEN ((h - 1 - ((c + 1) * h) // 9) + (r * w) // 8 + doc_id) % 256
            > ((h - 1 - (c * h) // 9) + (r * w) // 8 + doc_id) % 256
         THEN 1 ELSE 0 END AS bit
  FROM cells
), bits AS (
  SELECT * FROM bits_f UNION ALL SELECT * FROM bits_r
)
SELECT doc_id, aug, CAST(width AS INT) AS width,
  CAST(height AS INT) AS height,
  CAST(SUM(CASE WHEN r * 8 + c >= 32
                THEN bit * (CAST(1 AS BIGINT) << (r * 8 + c - 32))
                ELSE 0 END) AS BIGINT) AS dhash_hi,
  CAST(SUM(CASE WHEN r * 8 + c < 32
                THEN bit * (CAST(1 AS BIGINT) << (r * 8 + c))
                ELSE 0 END) AS BIGINT) AS dhash_lo
FROM bits GROUP BY doc_id, aug, width, height
"""


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over user journeys
    (operators/timeseries.py::markov_attribution): conversion mass of
    the absorbing journey chain with each channel present vs knocked
    out — the counterfactual credit rule-based models fake. e6 integer
    power steps; one user-keyed window is the corpus-sized work."""
    from data_pipeline_ine_spark.operators.timeseries import (
        markov_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return markov_attribution(ev, iters=6)


def _markov_attr_oracle(
    channels=("click", "error", "signup", "view"), iters=6
) -> str:
    base = """WITH seq AS MATERIALIZED (
  SELECT user_id AS u,
    CASE WHEN event_type = 'purchase' THEN 'CONV'
         ELSE event_type END AS state,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), fc AS (
  SELECT u, MIN(rn) AS fcrn FROM seq WHERE state = 'CONV' GROUP BY 1
), ev2 AS MATERIALIZED (
  SELECT s.u, s.state, s.rn,
    row_number() OVER (PARTITION BY s.u ORDER BY s.rn) AS rn2,
    lead(s.state) OVER (PARTITION BY s.u ORDER BY s.rn) AS nxt
  FROM seq s LEFT JOIN fc ON fc.u = s.u
  WHERE fc.fcrn IS NULL OR s.rn <= fc.fcrn
), edges AS (
  SELECT 'START' AS cur, state AS nxt FROM ev2 WHERE rn2 = 1
  UNION ALL
  SELECT state AS cur, COALESCE(nxt, 'NULL') AS nxt
  FROM ev2 WHERE state <> 'CONV'
), counts AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM edges GROUP BY 1, 2
), tot AS (
  SELECT cur, CAST(SUM(n) AS BIGINT) AS t FROM counts GROUP BY 1
), p_full AS MATERIALIZED (
  SELECT c.cur, c.nxt, CAST((c.n * 1000000) // t.t AS BIGINT) AS p
  FROM counts c JOIN tot t USING (cur)
  UNION ALL SELECT 'CONV', 'CONV', CAST(1000000 AS BIGINT)
  UNION ALL SELECT 'NULL', 'NULL', CAST(1000000 AS BIGINT)
)"""
    models = [("full", None)] + [
        (f"k{i}", ch) for i, ch in enumerate(channels)
    ]
    blocks = []
    for name, ch in models:
        pm = "p_full" if ch is None else f"p_{name}"
        if ch is not None:
            blocks.append(
                f""", {pm} AS MATERIALIZED (
  SELECT cur, CASE WHEN nxt = '{ch}' THEN 'NULL' ELSE nxt END AS nxt,
    CAST(SUM(p) AS BIGINT) AS p
  FROM p_full WHERE cur <> '{ch}' GROUP BY 1, 2
)"""
            )
        blocks.append(
            f""", st_{name} AS MATERIALIZED (
  SELECT DISTINCT state FROM (
    SELECT cur AS state FROM {pm} UNION ALL SELECT nxt FROM {pm})
), r_{name}_0 AS MATERIALIZED (
  SELECT state, CAST(CASE WHEN state = 'START' THEN 1000000 ELSE 0 END
    AS BIGINT) AS r
  FROM st_{name}
)"""
        )
        for i in range(1, iters + 1):
            blocks.append(
                f""", r_{name}_{i} AS MATERIALIZED (
  SELECT s.state, CAST(COALESCE(m.rn, 0) AS BIGINT) AS r
  FROM st_{name} s LEFT JOIN (
    SELECT pp.nxt AS state,
      CAST(SUM(rr.r * pp.p) // 1000000 AS BIGINT) AS rn
    FROM {pm} pp JOIN r_{name}_{i - 1} rr ON rr.state = pp.cur
    GROUP BY 1
  ) m USING (state)
)"""
            )
        blocks.append(
            f""", conv_{name} AS (
  SELECT r AS p_conv FROM r_{name}_{iters} WHERE state = 'CONV'
)"""
        )
    selects = [
        f"SELECT '{ch}' AS channel, f.p_conv AS p_full_e6,"
        f" k.p_conv AS p_removed_e6,"
        f" CAST(f.p_conv - k.p_conv AS BIGINT) AS removal_e6"
        f" FROM conv_full f CROSS JOIN conv_k{i} k"
        for i, ch in enumerate(channels)
    ]
    return (
        base
        + "".join(blocks)
        + "\n"
        + " UNION ALL ".join(selects)
        + " ORDER BY channel"
    )


ORACLE_MARKOV_ATTR = _markov_attr_oracle()


def q_rank_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of order value as a predictor of urgent priority
    (operators/features.py::rank_auc): the Mann–Whitney rank identity
    over doubled tie-averaged ranks — one BIGINT numerator, one fixed
    double divide, no threshold sweep."""
    from data_pipeline_ine_spark.operators.features import rank_auc

    od = load_table(spark, sf_dir, "orders")
    return rank_auc(
        od,
        F.floor(F.col("o_totalprice") * 100).cast("bigint"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
    )


ORACLE_RANK_AUC = """
WITH rows_ AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS s,
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END AS y
  FROM orders
), ranked AS (
  SELECT y,
    CAST(2 * rank() OVER (ORDER BY s)
         + COUNT(*) OVER (PARTITION BY s) - 1 AS BIGINT) AS r2
  FROM rows_
), agg AS (
  SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
    CAST(SUM(1 - y) AS BIGINT) AS n_neg,
    CAST(SUM(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT) AS sum_r2
  FROM ranked
)
SELECT n_pos, n_neg,
  CAST(sum_r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num2,
  ROUND(CAST(sum_r2 - n_pos * (n_pos + 1) AS DOUBLE)
        / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
FROM agg
"""


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort LTV curve (operators/timeseries.py::cohort_ltv):
    per (first-activity cohort, week offset), that week's revenue and
    the running cumulative — the money companion to the retention
    triangle. Exact cents; the cumulative lives on the calendar²
    triangle."""
    from data_pipeline_ine_spark.operators.timeseries import cohort_ltv

    ev = load_table(spark, sf_dir, "events")
    return cohort_ltv(ev)


ORACLE_COHORT_LTV = """
WITH firsts AS (
  SELECT user_id,
    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY 1
), cells AS (
  SELECT f.cohort_week,
    CAST(datediff('day', f.cohort_week,
      CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
      AS week_offset,
    CAST(SUM(CAST(floor(e.value * 100) AS DECIMAL(25,0))) AS BIGINT)
      AS week_cents
  FROM events e JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, week_cents,
  CAST(SUM(week_cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_cents
FROM cells ORDER BY 1, 2
"""


def q_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall vs exact Jaccard ground truth at band counts
    2/4/8 (operators/dedup.py::lsh_recall_curve) — the banding-
    threshold half of the measure-don't-guess trio. Truth via the
    shared-shingle equi-join (complete for tau > 0, never corpus²);
    run on the doc_id < 300 sample (the harness samples at scale)."""
    from data_pipeline_ine_spark.operators.dedup import lsh_recall_curve

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    return lsh_recall_curve(docs, band_configs=(2, 4, 8), tau=0.5)


def _lsh_recall_oracle(band_configs=(2, 4, 8), tau=0.5) -> str:
    head = (
        r"""WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS tokens
  FROM documents WHERE doc_id < 300
), s AS (
  SELECT doc_id,
    list_transform(range(1, GREATEST(len(tokens) - 2, 1) + 1),
                   i -> array_to_string(list_slice(tokens, i, i + 2), ' '))
      AS shingles
  FROM t
), hashed AS (
  SELECT doc_id, shingles,
    list_transform(list_distinct(shingles), sh -> struct_pack(
      ha := HA_FOLD,
      hb := HB_FOLD)) AS hs
  FROM s
), sig AS MATERIALIZED (
  SELECT doc_id, list_distinct(shingles) AS shd,
    list_transform(range(0, 8),
      j -> list_min(list_transform(hs,
           h -> (h.ha + j * h.hb) % 2305843009213693951))) AS signature
  FROM hashed
), ex AS (
  SELECT doc_id, unnest(shd) AS sh FROM sig
), tc AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
), truth AS MATERIALIZED (
  SELECT a_id, b_id
  FROM tc
  JOIN sig sa ON sa.doc_id = tc.a_id
  JOIN sig sb ON sb.doc_id = tc.b_id
  WHERE ROUND(len(list_intersect(sa.shd, sb.shd))
        / GREATEST(len(list_distinct(list_concat(sa.shd, sb.shd))), 1), 6)
        >= """
        + repr(tau)
        + "\n)"
    ).replace("HA_FOLD", _HEX12.format(h="md5('a:' || sh)")).replace(
        "HB_FOLD", _HEX12.format(h="md5('b:' || sh)")
    )
    blocks, selects = [], []
    for b in band_configs:
        rpb = 8 // b
        blocks.append(
            f""", k{b} AS (
  SELECT doc_id, unnest(list_transform(range(0, {b}),
    bb -> md5(array_to_string(list_transform(
      list_slice(signature, bb * {rpb} + 1, bb * {rpb} + {rpb}),
      x -> CAST(x AS VARCHAR)), '|')))) AS k
  FROM sig
), c{b} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM k{b} a JOIN k{b} b ON a.k = b.k AND a.doc_id < b.doc_id
)"""
        )
        selects.append(
            f"SELECT CAST({b} AS BIGINT) AS n_bands,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{b}) AS n_candidates,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{b}"
            f" JOIN truth USING (a_id, b_id)) AS hits"
        )
    tail = (
        "\nSELECT n_bands, n_true, n_candidates, hits,"
        " ROUND(CAST(hits AS DOUBLE)"
        " / CAST(GREATEST(n_true, 1) AS DOUBLE), 6) AS recall\nFROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY n_bands"
    )
    return head + "".join(blocks) + tail


ORACLE_LSH_RECALL = _lsh_recall_oracle()


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard routing with its selling point measured
    (operators/sampling.py::rendezvous_shards): per 8-shard assignment
    bucket, the user count and how many users MOVE when a 9th shard
    joins — under HRW a key moves iff the new shard wins its argmax,
    so disruption is ~1/9 (mod-n would reshuffle ~8/9). Pure
    row-parallel md5 argmax, no shuffle until the count."""
    from data_pipeline_ine_spark.operators.sampling import (
        rendezvous_shards,
    )

    users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct()
    )
    a8 = rendezvous_shards(users, "user_id", n_shards=8)
    a9 = rendezvous_shards(users, "user_id", n_shards=9).select(
        "user_id", F.col("shard").alias("_s9")
    )
    return (
        a8.join(a9, "user_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("_s9") == 8, 1).otherwise(0))
            .cast("bigint")
            .alias("n_moved"),
        )
        .orderBy("shard")
    )


def _hrw_oracle(n_shards: int = 8) -> str:
    ws = ", ".join(
        _HEX12.format(h=f"md5('hrw:{s}:' || k)") for s in range(n_shards)
    )
    w_new = _HEX12.format(h=f"md5('hrw:{n_shards}:' || k)")
    return f"""
WITH keys AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
), w AS (
  SELECT k, [{ws}] AS w8, {w_new} AS w_new
  FROM keys
), a AS (
  SELECT k,
    CAST(list_position(w8, list_max(w8)) - 1 AS BIGINT) AS shard,
    CASE WHEN w_new > list_max(w8) THEN 1 ELSE 0 END AS moved
  FROM w
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(moved) AS BIGINT) AS n_moved
FROM a GROUP BY 1 ORDER BY 1
"""


ORACLE_HRW = _hrw_oracle(8)


def q_tsz_compression_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-style delta-of-delta timestamp compression estimate per
    event series (operators/timeseries.py::tsz_compression_estimate):
    the storage-planning ratio from an engine-exact integer bit-cost
    model (length(bin(|DoD|)), never libm). One series-keyed window
    shuffle."""
    from data_pipeline_ine_spark.operators.timeseries import (
        tsz_compression_estimate,
    )

    ev = load_table(spark, sf_dir, "events")
    return tsz_compression_estimate(ev, "event_type", "ts", "event_id")


ORACLE_TSZ = """
WITH s1 AS (
  SELECT event_type,
    row_number() OVER w AS rn,
    CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), s2 AS (
  SELECT event_type, rn,
    s - lag(s) OVER (PARTITION BY event_type ORDER BY rn) AS d
  FROM s1
), s3 AS (
  SELECT event_type, rn,
    d - lag(d) OVER (PARTITION BY event_type ORDER BY rn) AS dod
  FROM s2
), bits AS (
  SELECT event_type,
    CAST(CASE WHEN rn <= 2 THEN 64
              WHEN dod = 0 THEN 1
              ELSE 1 + 6 + length(bin(abs(dod))) END AS BIGINT) AS b
  FROM s3
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(b) AS BIGINT) AS model_bits
  FROM bits GROUP BY 1
)
SELECT event_type, n_events, model_bits,
  CAST(n_events * 64 AS BIGINT) AS raw_bits,
  ROUND(CAST(n_events * 64 AS DOUBLE) / CAST(model_bits AS DOUBLE), 6)
    AS compression_ratio
FROM agg ORDER BY event_type
"""


def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit over the event stream's arrival order
    (operators/timeseries.py::watermark_lateness): per log2 lateness
    bucket, how many events lag the running max event time — the
    distribution every withWatermark in streaming/ must be sized
    against."""
    from data_pipeline_ine_spark.operators.timeseries import (
        watermark_lateness,
    )

    ev = load_table(spark, sf_dir, "events")
    return watermark_lateness(ev, "ts", "event_id")


ORACLE_WATERMARK = """
WITH staged AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id FROM events
), late AS (
  SELECT MAX(s) OVER (ORDER BY event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - s AS late
  FROM staged
)
SELECT CASE WHEN late > 0 THEN CAST(length(bin(late)) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS late_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(MAX(late) AS BIGINT) AS max_late_s
FROM late GROUP BY 1 ORDER BY 1
"""


def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of quantity-weighted lineitem rows
    per return flag (operators/features.py::effective_sample_size):
    (Σw)²/Σw² from decimal-exact sums — how many equal-weight samples
    the weighted set is worth. One map-side-combinable aggregate."""
    from data_pipeline_ine_spark.operators.features import (
        effective_sample_size,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return effective_sample_size(li, "l_quantity", ["l_returnflag"])


ORACLE_ESS = """
WITH agg AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    SUM(CAST(floor(l_quantity * 100) AS DECIMAL(25,0))) AS sw,
    SUM(CAST(CAST(floor(l_quantity * 100) AS DECIMAL(25,0))
        * CAST(floor(l_quantity * 100) AS DECIMAL(25,0))
        AS DECIMAL(38,0))) AS sww
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n_rows,
  ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        / CAST(sww AS DOUBLE), 6) AS ess,
  ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE)
        / CAST(n_rows AS DOUBLE), 6) AS ess_ratio
FROM agg ORDER BY l_returnflag
"""


def q_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size of event type on value
    (operators/features.py::eta_squared): SS_between/SS_total from
    decimal-exact moments; each group's s²/n term floor-snaps to an
    exact integer before the cross-group sum (double SUM order is an
    engine trap). Does the grouping explain any variance at all."""
    from data_pipeline_ine_spark.operators.features import eta_squared

    ev = load_table(spark, sf_dir, "events")
    return eta_squared(ev, "value", "event_type")


ORACLE_ETA_SQ = """
WITH per AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(floor(value * 100) AS DECIMAL(25,0))) AS s,
    SUM(CAST(CAST(floor(value * 100) AS DECIMAL(25,0))
        * CAST(floor(value * 100) AS DECIMAL(25,0))
        AS DECIMAL(38,0))) AS q
  FROM events GROUP BY 1
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
    CAST(SUM(n) AS BIGINT) AS nt,
    CAST(SUM(s) AS DECIMAL(38,0)) AS st,
    CAST(SUM(q) AS DECIMAL(38,0)) AS qt,
    CAST(SUM(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      / CAST(n AS DOUBLE)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sb
  FROM per
)
SELECT n_groups, nt AS n_rows,
  ROUND((CAST(sb AS DOUBLE)
         - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
        / (CAST(qt AS DOUBLE)
           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
             / CAST(nt AS DOUBLE)), 6) AS eta_squared
FROM agg
"""


def q_series_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type calendar-gap audit
    (operators/timeseries.py::series_gap_audit): present vs span days,
    longest gap, coverage — the ingestion-SLA completeness report that
    says whether gap_fill would paper over a real outage. One distinct
    aggregate + calendar-bounded key windows."""
    from data_pipeline_ine_spark.operators.timeseries import (
        series_gap_audit,
    )

    ev = load_table(spark, sf_dir, "events")
    return series_gap_audit(ev, "event_type", "ts")


ORACLE_GAP_AUDIT = """
WITH days AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
), staged AS (
  SELECT event_type, day,
    CAST(datediff('day', lag(day) OVER (PARTITION BY event_type
      ORDER BY day), day) - 1 AS BIGINT) AS gap
  FROM days
), agg AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS present_days,
    CAST(datediff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS span_days,
    CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS longest_gap
  FROM staged GROUP BY 1
)
SELECT event_type, present_days, span_days,
  CAST(span_days - present_days AS BIGINT) AS missing_days,
  longest_gap,
  ROUND(CAST(present_days AS DOUBLE) / CAST(span_days AS DOUBLE), 6)
    AS coverage
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Round 11 — closing the cluster-boundary blind spot (r10 verdict tasks 2+4):
# the SemDeDup dedup rung gets a MEASURED recall curve with a 2-nearest-cell
# multi-probe variant, and hard-negative mining gets the same multi-probe
# candidate key.
# ---------------------------------------------------------------------------
def q_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair recall of cluster-blocked semantic dedup vs the EXACT >=tau
    pair set at n_clusters in {4,8,16} x n_probe in {1,2} (operators/
    similarity.py::semantic_dedup_recall) — the dedup rung of the
    accuracy ladder next to ivf/pq/sq8_recall_curve: it PRICES the
    cluster-boundary blind spot semantic_dedup's docstring previously
    only asserted, and shows multi-probe (each vector also tested in
    its second-closest cell) closing most of it. The exact pair
    self-join is the deliberately quadratic measurement tier, so the
    row applies the sample discipline IN the contract (the id-prefix
    cap below — a no-op at sf<=0.01, half the corpus at sf0.1,
    exactly how the measurement runs against 100 TB: on a bounded
    sample); every configuration after it is an equi-join."""
    from data_pipeline_ine_spark.operators.similarity import (
        semantic_dedup_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 1000
    )
    return semantic_dedup_recall(
        emb, tau=0.3, n_clusters_list=(4, 8, 16), n_probes=(1, 2),
        iters=2, memo_key=_table_fingerprint(sf_dir, "embeddings") + ":s1k",
    )


# one MATERIALIZED exact >=tau pair set, one Lloyd chain per k (suffixed
# CTE names), one 1-row coverage SELECT per (k, p) — coverage rule:
# either side's primary cell (rn=1) lies in the other side's n_probe
# nearest cells, exactly semantic_dedup's multi-probe candidate rule
def _semdedup_recall_oracle() -> str:
    cos = (
        "ROUND(list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    chains = []
    selects = []
    for k in (4, 8, 16):
        sfx = f"_{k}"
        chains.append(_lloyd_chain_cte(k, sfx))
        chains.append(
            f"a3{sfx} AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c=f'c2{sfx}')}),\n"
            f"asg{sfx} AS MATERIALIZED (SELECT vec_id, cid, rn FROM a3{sfx} WHERE rn <= 2),\n"
        )
        for p in (1, 2):
            selects.append(f"""SELECT CAST({k} AS BIGINT) AS n_clusters, CAST({p} AS BIGINT) AS n_probe,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS exact_pairs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs pr WHERE EXISTS (
     SELECT 1 FROM asg{sfx} ai JOIN asg{sfx} aj ON ai.cid = aj.cid
     WHERE ai.vec_id = pr.i AND aj.vec_id = pr.j
       AND ai.rn <= {p} AND aj.rn <= {p}
       AND (ai.rn = 1 OR aj.rn = 1))) AS covered_pairs,
  ROUND(CAST((SELECT COUNT(*) FROM pairs pr WHERE EXISTS (
     SELECT 1 FROM asg{sfx} ai JOIN asg{sfx} aj ON ai.cid = aj.cid
     WHERE ai.vec_id = pr.i AND aj.vec_id = pr.j
       AND ai.rn <= {p} AND aj.rn <= {p}
       AND (ai.rn = 1 OR aj.rn = 1))) AS DOUBLE)
    / GREATEST((SELECT COUNT(*) FROM pairs), 1), 6) AS recall""")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings WHERE vec_id < 1000),\n"
        "pairs AS MATERIALIZED (\n"
        "  SELECT x.vec_id AS i, y.vec_id AS j\n"
        "  FROM e x JOIN e y ON y.vec_id > x.vec_id\n"
        f"  WHERE {cos} >= 0.3\n"
        "),\n"
        + "".join(chains).rstrip().rstrip(",")
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY n_clusters, n_probe"
    )


ORACLE_SEMDEDUP_RECALL = _semdedup_recall_oracle()


def q_semantic_dedup_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SemDeDup (operators/similarity.py::semantic_dedup
    with n_probe=2): every vector is also tested inside its
    second-closest cell against that cell's primary members, so a
    near-dup pair straddling one cluster boundary is caught — the
    blind-spot fix semdedup_recall prices (covered pairs roughly
    double at every n_clusters). Pair volume 2·Σ block², one exploded
    side ⋈ one primary side, still knob-bounded."""
    from data_pipeline_ine_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    kept = semantic_dedup(
        emb, tau=0.3, n_clusters=8, iters=2, n_probe=2,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )
    return kept.select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    ).orderBy("vec_id")


# the shared Lloyd chain; probe set = 2 nearest cells (rn <= 2), drop
# rule = GREATEST id of every covered similar pair. One-directionally
# covered pairs (only one side's probe set holds the other's primary
# cell) appear in ONE direction of the exploded ⋈ primary join — that
# suffices, because GREATEST(a,b) is direction-symmetric (ADVICE r11)
ORACLE_SEMANTIC_DEDUP_MP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_LLOYD_CHAIN_CTE}a3 AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2')}),
asg AS (SELECT vec_id, v, cid, rn FROM a3 WHERE rn <= 2),
prim AS (SELECT vec_id, v, cid FROM a3 WHERE rn = 1),
drp AS (
  SELECT DISTINCT GREATEST(a.vec_id, b.vec_id) AS vec_id
  FROM asg a JOIN prim b ON b.cid = a.cid AND b.vec_id <> a.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
)
SELECT vec_id, CAST(cid AS INT) AS cluster FROM prim
WHERE vec_id NOT IN (SELECT vec_id FROM drp)
ORDER BY vec_id
"""


def q_hard_negatives_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hard-negative mining (operators/similarity.py::
    hard_negative_mining with ivf_clusters=16, n_probe=2): anchors
    probe their TWO nearest cells while candidates stay in their
    primary cell (the IVF query shape), so the borderline cross-label
    neighbors that live just across the anchor's nearest boundary —
    exactly where the hardest negatives sit — are no longer missed.
    Pair volume 2·Σ block² at 16 cells ≈ what single-probe pays at 8:
    boundary coverage at the same cost tier."""
    from data_pipeline_ine_spark.operators.similarity import (
        hard_negative_mining,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        emb, k=3, ivf_clusters=16, n_probe=2,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )


# Lloyd chain at k=16 (suffixed so it can't collide with the shared
# k=8 chain if ever composed); anchors rn<=2, candidates rn=1
ORACLE_HARD_NEGATIVES_MP = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_lloyd_chain_cte(16, '_h')}a3_h AS ({_KM_ASSIGN.format(d=_sql_sq_dist('v', 'cv'), c='c2_h')}),
anch AS (
  SELECT a3_h.vec_id, e.label, a3_h.cid, a3_h.v,
         sqrt(list_dot_product(a3_h.v, a3_h.v)) AS nrm
  FROM a3_h JOIN e ON e.vec_id = a3_h.vec_id WHERE a3_h.rn <= 2
), cand AS (
  SELECT a3_h.vec_id, e.label, a3_h.cid, a3_h.v,
         sqrt(list_dot_product(a3_h.v, a3_h.v)) AS nrm
  FROM a3_h JOIN e ON e.vec_id = a3_h.vec_id WHERE a3_h.rn = 1
), p AS (
  SELECT a.vec_id AS vec_id, a.label AS anchor_label,
         b.vec_id AS neighbor_id, b.label AS negative_label,
         a.cid AS block,
         ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
  FROM anch a JOIN cand b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id AND a.label <> b.label
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM p
)
SELECT vec_id, anchor_label, neighbor_id, negative_label, block,
       cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Round 11 — close the tokenizer loop (r10 verdict task 3): train BPE,
# APPLY the merges back, read the fertility curve.
# ---------------------------------------------------------------------------
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer sizing curve (operators/text.py::bpe_fertility_curve):
    bpe_train learns the ranked merge list, each merge-count prefix
    {0,2,4,8} is applied BACK to the weighted word vocabulary with
    bpe_apply's JVM aggregate fold, and fertility (tokens/word) is
    read at every rung — merge 0 is character fertility, the knee of
    the curve is the vocabulary-size decision. Training and
    application both run on the Heaps-collapsed vocab frame: the
    corpus is scanned once for word counts, never re-tokenized."""
    from data_pipeline_ine_spark.operators.text import bpe_fertility_curve

    docs = load_table(spark, sf_dir, "documents")
    return bpe_fertility_curve(docs, merge_counts=(0, 2, 4, 8))


# the same training recipe as an 8-round fixed chain: word vocab with
# counts -> per round, weighted adjacent-pair count over the chr(1)-
# joined symbol strings, top pair by (count DESC, a, b) with the
# min_pair_count >= 2 stop guard (LEFT JOIN keeps the chain alive when
# no pair qualifies), then ONE replace() per round — string replace
# scans left-to-right and resumes AFTER each replacement, which is
# exactly bpe_train's greedy aggregate-fold semantics (pinned by
# tests/test_curation.py::test_bpe_fertility_hand_anchored)
def _bpe_round_cte(r: int) -> str:
    return f"""p{r} AS (
  SELECT pr[1] AS a, pr[2] AS b, n FROM (
    SELECT unnest(list_zip(syms, syms[2:], true)) AS pr, n FROM (
      SELECT list_filter(string_split(s, chr(1)), x -> x <> '') AS syms, n
      FROM w{r - 1}))
), t{r} AS (
  SELECT a, b FROM p{r} GROUP BY a, b HAVING SUM(n) >= 2
  ORDER BY SUM(n) DESC, a, b LIMIT 1
), w{r} AS MATERIALIZED (
  SELECT CASE WHEN t{r}.a IS NULL THEN w{r - 1}.s
         ELSE replace(w{r - 1}.s, chr(1) || t{r}.a || chr(1) || t{r}.b || chr(1),
                      chr(1) || t{r}.a || t{r}.b || chr(1)) END AS s, n
  FROM w{r - 1} LEFT JOIN t{r} ON TRUE
)"""


def _bpe_fertility_oracle(merge_counts=(0, 2, 4, 8)) -> str:
    head = r"""WITH w0 AS MATERIALIZED (
  SELECT chr(1) || regexp_replace(w, '(.)', '\1' || chr(1), 'g') AS s, n
  FROM (SELECT w, COUNT(*) AS n FROM (
          SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
          FROM documents) WHERE w <> '' GROUP BY w)
)"""
    chain = head + "".join(
        "," + _bpe_round_cte(r) for r in range(1, max(merge_counts) + 1)
    )
    tok = "SUM(n * len(list_filter(string_split(s, chr(1)), x -> x <> '')))"
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({m} AS BIGINT) AS n_merges,
  (SELECT CAST(SUM(n) AS BIGINT) FROM w0) AS total_words,
  CAST({tok} AS BIGINT) AS total_tokens,
  ROUND(CAST({tok} AS DOUBLE)
        / CAST((SELECT SUM(n) FROM w0) AS DOUBLE), 6) AS fertility
FROM w{m}"""
        for m in merge_counts
    )
    return chain + "\n" + selects + "\nORDER BY n_merges"


ORACLE_BPE_FERTILITY = _bpe_fertility_oracle()


# ---------------------------------------------------------------------------
# Round 11 — curation_v3 (r10 verdict task 5): the round-10 gates composed
# in production order, proving they chain without materialization barriers.
# ---------------------------------------------------------------------------
def q_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 curation gates composed the way a CCNet-style
    production stack runs them, in order: Gopher repetition gate →
    frozen-src0-LM quality gate → 5-gram test-set decontamination
    (benchmark cohort = the FULL src19, fixed regardless of upstream
    gates — the eval suite is external) → DSIR selection to an
    8000-token budget (the importance LMs train on the SURVIVORS:
    score what remains) → 32/24 token-window chunking, summarized per
    source (docs kept, chunks cut, chunk tokens). One lazy plan
    end-to-end except the documented materialization points: the
    frozen LM's O(1) totals collect, two_pass_cumsum's range-boundary
    checkpoint (dsir_select's distributed running sum — the price of
    never sorting the corpus in one task), and the lineage cuts below
    (r12 ``s3``/``picked``, guide §3.3/§5; left lazy, every reference
    re-executed the ENTIRE upstream gate stack as its own
    broadcast-subtree job — measured: 44 scans of ``documents`` in one
    plan, 81 broadcast jobs/run, ~180 s-core at sf0.1). r13 (guide
    §2.3/§3.3, verdict task 1): the corpus is TOKENIZED ONCE — every
    gate consumed its own ``regexp_extract_all`` re-tokenization of
    ``documents`` (gopher ×2, the ref vocab, the LM gate, decontam ×2,
    DSIR ×2, chunking: 8+ corpus-wide regex passes per run), now one
    ``toks`` cut feeds them all via the operators' ``tokens_col``
    hooks, and the gates intersect as per-doc id-flag semi-joins —
    restriction-invariant (each doc's flag depends only on its own
    tokens and frozen totals), exactly the oracle's own CTE structure,
    so the survivor set is definitionally unchanged. Nothing is
    cached across runs — all cuts materialize inside the timed query.
    Plan shape pinned in test_plan_quality.py (full lazy plan under
    ``checkpoints_disabled()``)."""
    from data_pipeline_ine_spark.functions.lineage import cut
    from data_pipeline_ine_spark.operators.text import (
        WORD_PATTERN,
        chunk_token_windows,
        dsir_select,
        gopher_repetition,
        ngram_decontaminate,
    )
    from data_pipeline_ine_spark.streaming.quality import lm_gate_ids

    docs = _docs_parallel(spark, sf_dir)
    # ONE tokenization of the corpus feeds every gate below
    toks = cut(
        docs.select(
            "doc_id",
            "source",
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(WORD_PATTERN), 0
            ).alias("_ts"),
        )
    )
    # stage 1: Gopher repetition gate (per-doc integer rules)
    gpass = gopher_repetition(toks, tokens_col="_ts").filter(
        F.col("pass_repetition") == 1
    ).select("doc_id")
    # stage 2: LM gate under the FROZEN full-corpus src0 reference LM
    ref_toks = toks.filter(F.col("source") == "src0").select(
        F.explode("_ts").alias("term")
    )
    vocab = cut(
        ref_toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    )
    n_total, v_size = vocab.agg(F.sum("c"), F.count(F.lit(1))).first()
    lmpass = lm_gate_ids(
        toks, vocab, int(n_total), int(v_size),
        threshold_e12=3_420_000_000_000, tokens_col="_ts",
    )
    # stage 3: decontamination vs the full src19 benchmark cohort
    clean = ngram_decontaminate(
        toks, F.col("source") == "src19", n=5, tokens_col="_ts"
    ).filter(F.col("contaminated") == 0).select("doc_id")
    s3 = cut(
        toks.filter(F.col("source") != "src19")
        .join(gpass, "doc_id")
        .join(lmpass, "doc_id")
        .join(clean, "doc_id")
    )
    # stage 4: DSIR selection on the survivors, 8000-token budget
    sel = dsir_select(
        s3, F.col("source") == "src0", budget_tokens=8000,
        tokens_col="_ts",
    ).select("doc_id")
    picked = cut(s3.join(sel, "doc_id"))
    # stage 5: context-window chunking + per-source summary
    chunks = chunk_token_windows(
        picked, window=32, stride=24, tokens_col="_ts"
    )
    return (
        chunks.join(picked.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("chunk_tokens"),
        )
        .orderBy("source")
    )


# the composed oracle: every gate's CTE chain scoped exactly as the
# Spark stages — gopher + LM-gate flags per-doc over the full corpus
# (restriction-invariant), bench grams from the FULL src19, DSIR LMs
# re-fit on the SURVIVOR set, running-sum budget, then the chunk
# closed form — all integer/e12 surfaces shared with the single-gate
# oracles above
ORACLE_CURATION_V3 = r"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents
), gg2 AS (
  SELECT doc_id, list_aggregate(ts[i:i+1], 'string_agg', ' ') AS g
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
), gc2 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM gg2 GROUP BY 1, 2
), gs2 AS (
  SELECT doc_id, SUM(c) AS n_2grams, MAX(c) AS top_2gram_n FROM gc2 GROUP BY 1
), gg3 AS (
  SELECT doc_id, list_aggregate(ts[i:i+2], 'string_agg', ' ') AS g
  FROM toks, unnest(generate_series(1, len(ts) - 2)) AS u(i)
), gc3 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM gg3 GROUP BY 1, 2
), gs3 AS (
  SELECT doc_id, SUM(c) AS n_3grams, SUM(c) - COUNT(*) AS dup_3gram_n
  FROM gc3 GROUP BY 1
), gpass AS (
  SELECT d.doc_id FROM documents d
  LEFT JOIN gs2 USING (doc_id) LEFT JOIN gs3 USING (doc_id)
  WHERE (COALESCE(gs2.top_2gram_n, 0) < 2
         OR COALESCE(gs2.top_2gram_n, 0) * 100 <= 5 * COALESCE(gs2.n_2grams, 0))
    AND COALESCE(gs3.dup_3gram_n, 0) * 100 <= 2 * COALESCE(gs3.n_3grams, 0)
), rvocab AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(ts) AS term FROM toks WHERE source = 'src0') GROUP BY 1
), rtotals AS (
  SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM rvocab
), ltf AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest(ts) AS term FROM toks) GROUP BY 1, 2
), lscored AS (
  SELECT ltf.doc_id, CAST(SUM(ltf.cnt) AS BIGINT) AS n_tokens,
    CAST(SUM(ltf.cnt * CAST(FLOOR(
          -ln(CAST(COALESCE(v.c, 0) + 1 AS DOUBLE)
              / (rtotals.n_total + rtotals.v_size)) * 1e12 + 0.5
        ) AS BIGINT)) AS BIGINT) AS sum_neg_logp_e12
  FROM ltf LEFT JOIN rvocab v USING (term) CROSS JOIN rtotals
  GROUP BY 1
), lmpass AS (
  SELECT doc_id FROM lscored
  WHERE sum_neg_logp_e12 // n_tokens <= 3420000000000
), dg AS (
  SELECT doc_id, source, list_aggregate(ts[i:i+4], 'string_agg', ' ') AS gram
  FROM toks, unnest(generate_series(1, len(ts) - 4)) AS u(i)
), dbench AS (
  SELECT DISTINCT gram FROM dg WHERE source = 'src19'
), dshared AS (
  SELECT c.doc_id, COUNT(*) AS shared_ngrams
  FROM (SELECT DISTINCT doc_id, gram FROM dg WHERE source <> 'src19') c
  JOIN dbench USING (gram) GROUP BY 1
), clean AS (
  SELECT d.doc_id FROM documents d LEFT JOIN dshared USING (doc_id)
  WHERE d.source <> 'src19' AND COALESCE(dshared.shared_ngrams, 0) = 0
), surv AS MATERIALIZED (
  SELECT d.doc_id, d.source, d.text FROM documents d
  JOIN gpass USING (doc_id) JOIN lmpass USING (doc_id)
  JOIN clean USING (doc_id)
  WHERE d.source <> 'src19'
), dtoks AS (
  SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM surv
), dtf AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM dtoks GROUP BY 1, 2
), dvocab AS (
  SELECT term, COUNT(*) AS c_all,
         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_tgt
  FROM dtoks GROUP BY 1
), dtotals AS (
  SELECT SUM(c_all) AS n_all, SUM(c_tgt) AS n_tgt, COUNT(*) AS v_size
  FROM dvocab
), dscored AS (
  SELECT dtf.doc_id, CAST(SUM(dtf.cnt) AS BIGINT) AS n_tokens,
    CAST(SUM(dtf.cnt * (
        CAST(FLOOR(-ln(CAST(dvocab.c_all + 1 AS DOUBLE)
                       / (dtotals.n_all + dtotals.v_size)) * 1e12 + 0.5)
             AS BIGINT)
      - CAST(FLOOR(-ln(CAST(dvocab.c_tgt + 1 AS DOUBLE)
                       / (dtotals.n_tgt + dtotals.v_size)) * 1e12 + 0.5)
             AS BIGINT)
    )) AS BIGINT) AS llr_e12
  FROM dtf JOIN dvocab USING (term) CROSS JOIN dtotals
  GROUP BY dtf.doc_id
), ranked AS (
  SELECT doc_id,
    SUM(n_tokens) OVER (
      ORDER BY 0 - llr_e12, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM dscored WHERE n_tokens > 0
), picked AS (
  SELECT doc_id FROM ranked WHERE cum_tokens <= 8000
), cmeta AS (
  SELECT s.doc_id, s.source,
    len(regexp_extract_all(lower(s.text), '[a-z0-9]+')) AS n,
    CASE WHEN len(regexp_extract_all(lower(s.text), '[a-z0-9]+')) <= 0 THEN 0
         ELSE 1 + GREATEST(0,
           (len(regexp_extract_all(lower(s.text), '[a-z0-9]+')) - 32 + 24 - 1) // 24)
    END AS m
  FROM surv s JOIN picked USING (doc_id)
), chunks AS (
  SELECT doc_id, source, LEAST(32, n - u.k * 24) AS n_tokens
  FROM cmeta, unnest(generate_series(0, m - 1)) AS u(k)
  WHERE m > 0
)
SELECT source,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
FROM chunks GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Round 11 — 1-bit binary quantization: the ladder's bottom rung (8 B/vec,
# Hamming shortlist + exact rescore — the vector-DB "BQ + rescore" pattern).
# ---------------------------------------------------------------------------
def q_ann_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary serving (operators/similarity.py::
    binary_topk_rerank): one sign bit per dimension against the
    per-dim (min+max)/2 midpoint, packed into 32-bit words inside
    BIGINTs — 8 bytes per 64-dim vector, 32x below float32 — ranked
    by bit_count(XOR) per word (integer, whole-stage-codegen
    SIMD-class), Hamming shortlist of 50, exact cosine rescore to
    top-10. The corpus pass never touches a float."""
    from data_pipeline_ine_spark.operators.similarity import (
        binary_topk_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return binary_topk_rerank(
        emb, qvec, k=10, shortlist=50,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )


_BQ_CODES_CTE = """mids AS (
  SELECT g.d AS d, (MIN(v[g.d]) + MAX(v[g.d])) / 2.0 AS mid
  FROM e, generate_series(1, 64) AS g(d) GROUP BY 1
), codes AS (
  SELECT vec_id, v,
    CAST(SUM(CASE WHEN m.d <= 32 AND v[m.d] > m.mid
             THEN 1::BIGINT << (m.d - 1) ELSE 0::BIGINT END) AS BIGINT) AS w1,
    CAST(SUM(CASE WHEN m.d > 32 AND v[m.d] > m.mid
             THEN 1::BIGINT << (m.d - 33) ELSE 0::BIGINT END) AS BIGINT) AS w2
  FROM e, mids m GROUP BY vec_id, v
), q AS (SELECT v AS qv, w1 AS qw1, w2 AS qw2 FROM codes WHERE vec_id = 0)"""

ORACLE_ANN_BINARY_RERANK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_BQ_CODES_CTE},
short AS (
  SELECT c.vec_id, c.v,
    CAST(bit_count(xor(c.w1, q.qw1)) + bit_count(xor(c.w2, q.qw2))
         AS BIGINT) AS hamming
  FROM codes c, q
  ORDER BY hamming, c.vec_id LIMIT 50
)
SELECT vec_id, hamming,
  ROUND(list_dot_product(v, qv)
        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
        6) AS cosine_sim
FROM short, q
ORDER BY cosine_sim DESC, vec_id LIMIT 10
"""


def q_binary_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescore-budget curve for the binary rung (operators/similarity
    .py::binary_recall_curve): recall@10 of Hamming-shortlist + exact
    rescore vs global exact cosine at shortlist sizes {10,25,50,100} —
    the knob a binary-quantized serving tier tunes, completing the
    measured accuracy ladder downward: flat probes (ivf_recall_curve),
    SQ8 grid, PQ codes, and now sign bits. The Hamming ranking is
    computed once; every smaller budget is a prefix."""
    from data_pipeline_ine_spark.operators.similarity import (
        binary_recall_curve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return binary_recall_curve(
        emb, qvec, shortlists=(10, 25, 50, 100), k=10,
        memo_key=_table_fingerprint(sf_dir, "embeddings"),
    )


def _binary_recall_oracle(shortlists=(10, 25, 50, 100), k: int = 10) -> str:
    cos = (
        "ROUND(list_dot_product(c.v, q.qv)"
        " / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(q.qv, q.qv))), 6)"
    )
    head = f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_BQ_CODES_CTE},
ranked AS MATERIALIZED (
  SELECT c.vec_id, {cos} AS cos,
    ROW_NUMBER() OVER (
      ORDER BY bit_count(xor(c.w1, q.qw1)) + bit_count(xor(c.w2, q.qw2)),
               c.vec_id) AS pos
  FROM codes c, q
), exact AS MATERIALIZED (
  SELECT c.vec_id FROM codes c, q ORDER BY {cos} DESC, c.vec_id LIMIT {k}
)"""
    selects = []
    for s in shortlists:
        selects.append(f"""SELECT CAST({s} AS BIGINT) AS shortlist, CAST({k} AS BIGINT) AS k,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
     SELECT vec_id FROM ranked WHERE pos <= {s}
     ORDER BY cos DESC, vec_id LIMIT {k}) a
   JOIN exact USING (vec_id)) AS hits,
  ROUND(CAST((SELECT COUNT(*) FROM (
     SELECT vec_id FROM ranked WHERE pos <= {s}
     ORDER BY cos DESC, vec_id LIMIT {k}) a
   JOIN exact USING (vec_id)) AS DOUBLE) / {float(k)}, 6) AS recall""")
    return head + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY shortlist"


ORACLE_BINARY_RECALL_CURVE = _binary_recall_oracle()


# ---------------------------------------------------------------------------
# Round 11 — Matryoshka prefix-dimension serving: the DIMENSION axis of the
# ladder (truncate components), orthogonal to the precision axis (SQ8/PQ/
# binary truncate bits).
# ---------------------------------------------------------------------------
def q_ann_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style two-stage serving (operators/similarity.py::
    prefix_dim_topk_rerank): first-pass cosine over the FIRST 16 of 64
    components (4x less vector payload scanned; at 100 TB the prefix
    is its own stored column and full vectors are fetched only for the
    shortlist), shortlist 50, exact full-dim rescore to top-10."""
    from data_pipeline_ine_spark.operators.similarity import (
        prefix_dim_topk_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return prefix_dim_topk_rerank(emb, qvec, k=10, shortlist=50,
                                  prefix_dims=16)


def _sql_cos(a: str, b: str) -> str:
    return (
        f"ROUND(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6)"
    )


ORACLE_ANN_PREFIX_RERANK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
short AS (
  SELECT e.vec_id, e.v, {_sql_cos('e.v[1:16]', 'q.qv[1:16]')} AS prefix_sim
  FROM e, q
  ORDER BY prefix_sim DESC, e.vec_id LIMIT 50
)
SELECT vec_id, prefix_sim, {_sql_cos('short.v', 'q.qv')} AS cosine_sim
FROM short, q
ORDER BY cosine_sim DESC, vec_id LIMIT 10
"""


def q_prefix_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall curve (operators/similarity.py::
    prefix_dim_recall_curve): recall@10 of prefix-cosine shortlist-50
    + exact rescore at prefix {8,16,32,64} of 64 dims — how many
    leading components the first pass needs before the shortlist stops
    losing true neighbors; prefix=64 makes the first pass exact, so
    the curve ends at 1.0 by construction (built-in sanity anchor)."""
    from data_pipeline_ine_spark.operators.similarity import (
        prefix_dim_recall_curve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return prefix_dim_recall_curve(
        emb, qvec, prefixes=(8, 16, 32, 64), k=10, shortlist=50
    )


def _prefix_recall_oracle(prefixes=(8, 16, 32, 64), k: int = 10,
                          shortlist: int = 50) -> str:
    head = f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
exact AS MATERIALIZED (
  SELECT e.vec_id FROM e, q
  ORDER BY {_sql_cos('e.v', 'q.qv')} DESC, e.vec_id LIMIT {k}
)"""
    selects = []
    for p in prefixes:
        selects.append(f"""SELECT CAST({p} AS BIGINT) AS prefix_dims, CAST({k} AS BIGINT) AS k,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
     SELECT s.vec_id FROM (
       SELECT e.vec_id, e.v FROM e, q
       ORDER BY {_sql_cos(f'e.v[1:{p}]', f'q.qv[1:{p}]')} DESC, e.vec_id
       LIMIT {shortlist}) s, q
     ORDER BY {_sql_cos('s.v', 'q.qv')} DESC, s.vec_id LIMIT {k}) a
   JOIN exact USING (vec_id)) AS hits,
  ROUND(CAST((SELECT COUNT(*) FROM (
     SELECT s.vec_id FROM (
       SELECT e.vec_id, e.v FROM e, q
       ORDER BY {_sql_cos(f'e.v[1:{p}]', f'q.qv[1:{p}]')} DESC, e.vec_id
       LIMIT {shortlist}) s, q
     ORDER BY {_sql_cos('s.v', 'q.qv')} DESC, s.vec_id LIMIT {k}) a
   JOIN exact USING (vec_id)) AS DOUBLE) / {float(k)}, 6) AS recall""")
    return head + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY prefix_dims"


ORACLE_PREFIX_RECALL_CURVE = _prefix_recall_oracle()


# ---------------------------------------------------------------------------
# Round 11 — dup_span_scrub: exact duplicated-span dedup EXECUTED (the
# rewrite dup_span_ratio only reports on).
# ---------------------------------------------------------------------------
def q_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup applied (operators/text.py::
    dup_span_scrub — Lee et al.'s removal pass at the word-3-gram
    grain): every token covered by a 3-gram occurring in >= 2 distinct
    documents is dropped and the document reassembled from the
    survivors in order; short docs pass untouched, all-boilerplate
    docs scrub to ''. Spans shuffle as 48-bit hashes with positions;
    the rewrite is one narrow indexed-lambda filter — doc bodies never
    shuffle."""
    from data_pipeline_ine_spark.operators.text import dup_span_scrub

    docs = _docs_parallel(spark, sf_dir)
    return dup_span_scrub(docs, k=3)


ORACLE_DUP_SPAN_SCRUB = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents
), grams AS (
  SELECT doc_id, u.i AS i,
    {_HEX12.format(h="md5(list_aggregate(ts[u.i:u.i+2], 'string_agg', ' '))")} AS h
  FROM toks, unnest(generate_series(1, len(ts) - 2)) AS u(i)
), dup AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT g.doc_id, u2.j
  FROM grams g JOIN dup USING (h),
       unnest(generate_series(g.i, g.i + 2)) AS u2(j)
), removed AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed FROM cov GROUP BY 1
), idx AS (
  SELECT doc_id, ts[u.j] AS tok, u.j AS j
  FROM toks, unnest(generate_series(1, len(ts))) AS u(j)
), scrubbed AS (
  SELECT i.doc_id, string_agg(i.tok, ' ' ORDER BY i.j) AS txt
  FROM idx i
  WHERE NOT EXISTS (
    SELECT 1 FROM cov WHERE cov.doc_id = i.doc_id AND cov.j = i.j)
  GROUP BY 1
)
SELECT t.doc_id,
  CAST(len(t.ts) AS BIGINT) AS n_tokens,
  COALESCE(r.n_removed, 0) AS n_removed,
  COALESCE(s.txt, '') AS scrubbed_text
FROM toks t
LEFT JOIN removed r USING (doc_id)
LEFT JOIN scrubbed s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Round 11 — the binary rung as STORED codes (sources/ivf_index.py::
# write_binary_index / read_binary_probe): index-backed serving, not just
# the in-plan operator.
# ---------------------------------------------------------------------------
def q_ann_binary_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary-quantization serving layout (sources/ivf_index.py::
    write_binary_index/read_binary_probe) — the bottom rung of the
    INDEX ladder (flat=ann_index_probe / SQ8=ann_sq8_probe / PQ=
    ann_ivfpq_probe / binary=this): the corpus stored as sign bits
    against per-dim (min+max)/2 midpoints packed into 32-bit words in
    BIGINT columns ONLY (8 B per 64-dim vector), partitioned by the
    coarse bucket with centroid and midpoint sidecars. The probe
    prunes to n_probe buckets at the parquet scan and ranks by
    bit_count(XOR) per word — the query packed driver-side onto the
    SAME grid, so the oracle reproduces words AND ranking
    bit-for-bit (MIN/MAX midpoints are order-invariant)."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_binary_probe,
        write_binary_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    path = os.path.join(
        "/tmp", f"spark_graft_bq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_bqparams"):
        write_binary_index(emb, path, part_col="label")
    return read_binary_probe(spark, path, qvec, k=10, n_probe=2)


ORACLE_ANN_BINARY_PROBE = """
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims
         GROUP BY label),
mm AS MATERIALIZED (
  SELECT g.d, (MIN(v[g.d]) + MAX(v[g.d])) / 2.0 AS mid
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
codes AS MATERIALIZED (
  SELECT e.vec_id, e.label,
    CAST(SUM(CASE WHEN mm.d <= 32 AND v[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 1) ELSE 0::BIGINT END) AS BIGINT) AS w1,
    CAST(SUM(CASE WHEN mm.d > 32 AND v[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 33) ELSE 0::BIGINT END) AS BIGINT) AS w2
  FROM e, mm GROUP BY e.vec_id, e.label
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
probes AS (
  SELECT label FROM cent, q
  ORDER BY ROUND(list_dot_product(centroid, qv)
        / (sqrt(list_dot_product(centroid, centroid))
           * sqrt(list_dot_product(qv, qv))), 6)
        DESC, label
  LIMIT 2
),
qc AS (
  SELECT
    CAST(SUM(CASE WHEN mm.d <= 32 AND qv[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 1) ELSE 0::BIGINT END) AS BIGINT) AS qw1,
    CAST(SUM(CASE WHEN mm.d > 32 AND qv[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 33) ELSE 0::BIGINT END) AS BIGINT) AS qw2
  FROM mm, q
)
SELECT c.vec_id,
  CAST(bit_count(xor(c.w1, qc.qw1)) + bit_count(xor(c.w2, qc.qw2))
       AS BIGINT) AS hamming
FROM codes c JOIN probes USING (label), qc
ORDER BY hamming, c.vec_id LIMIT 10
"""


def q_ann_binary_filtered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN at the binary tier (sources/ivf_index.py::
    read_binary_probe ``where=``): the same newer-half payload
    predicate as ann_ivf_filtered_probe/ann_sq8_filtered_probe, pushed
    into the 8-byte CODES scan alongside the bucket pruning — the
    constrained-query serving path at the ladder's cheapest rung,
    ranking only probed-AND-matching codes by Hamming distance."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_binary_probe,
        write_binary_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_bq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_bqparams"):
        write_binary_index(emb, path, part_col="label")
    return read_binary_probe(
        spark, path, qvec, k=10, n_probe=2,
        where=F.col("vec_id") >= cut,
    )


ORACLE_ANN_BINARY_FILTERED = ORACLE_ANN_BINARY_PROBE.replace(
    "FROM codes c JOIN probes USING (label), qc",
    "FROM codes c JOIN probes USING (label), qc\n"
    "WHERE c.vec_id >= (SELECT max(vec_id) // 2 FROM e)",
)




# --- quantized-tier index lifecycle (VERDICT r11 task 2) -------------------
# write -> append (FROZEN quant params) -> quant-drift report -> rebuild
# from source, at the SQ8 and binary rungs; plus the binary batch reader
# (task 4) and the stored Matryoshka prefix tier (task 3).


def _sq8_append_fixture(spark: SparkSession, sf_dir: str):
    """Shared lifecycle fixture for the SQ8 append-tier rows: index
    built from the first half of the corpus (label buckets), second
    half appended under the FROZEN affine grid + frozen-centroid
    routing (sources/ivf_index.py::append_to_ivf_index). Cached per
    (sf, content) like every stored-index row; the exercise-complete
    marker commits after the append so a half-run can never be served.
    Returns (path, cut, emb)."""
    import os
    import shutil

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_sq8_app_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_sqparams", "_app_ok"):
        shutil.rmtree(path, ignore_errors=True)
        write_sq8_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        with open(os.path.join(path, "_app_ok"), "w") as f:
            f.write("ok\n")
    return path, cut, emb


def _bq_append_fixture(spark: SparkSession, sf_dir: str):
    """Binary twin of ``_sq8_append_fixture``: second half appended as
    sign-bit words packed against the FROZEN midpoints."""
    import os
    import shutil

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        write_binary_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_bq_app_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_bqparams", "_app_ok"):
        shutil.rmtree(path, ignore_errors=True)
        write_binary_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        with open(os.path.join(path, "_app_ok"), "w") as f:
            f.write("ok\n")
    return path, cut, emb


# Shared lifecycle-oracle CTE: base cohort bucketed by label with
# 6dp-snapped centroids (the stored sidecar discipline), appended
# cohort routed to its nearest FROZEN centroid (numeric-label
# tiebreak — append_to_ivf_index's rule), members = every vector
# exactly once under its final bucket.
_QAPP_BASE_CTE = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cut AS (SELECT MAX(vec_id) // 2 AS c FROM e),
base AS (SELECT vec_id, label, v FROM e, cut WHERE vec_id < c),
newr AS (SELECT vec_id, v FROM e, cut WHERE vec_id >= c),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS cm
  FROM base, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(cm ORDER BY d) AS centroid FROM dims
         GROUP BY label),
asgn AS (
  SELECT n.vec_id, c.label, ROW_NUMBER() OVER (
    PARTITION BY n.vec_id
    ORDER BY {_sql_sq_dist('n.v', 'c.centroid')}, c.label) AS rn
  FROM newr n, cent c
),
members AS (
  SELECT vec_id, label, v FROM base
  UNION ALL
  SELECT n.vec_id, a.label, n.v
  FROM newr n JOIN asgn a ON a.vec_id = n.vec_id AND a.rn = 1
)"""


def q_sq8_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 index lifecycle, append leg (sources/ivf_index.py::
    append_to_ivf_index dispatching on the _sqparams sidecar): the
    index holds the base cohort's codes plus an appended cohort
    encoded under the FROZEN base-derived affine grid and routed to
    the frozen base centroids — then served exactly like
    ann_sq8_probe. The oracle re-derives grid and centroids from the
    BASE HALF ONLY and must still match every distance bit-for-bit:
    that equality IS the frozen-quantizer discipline (a re-derived
    grid would shift every appended code)."""
    from data_pipeline_ine_spark.sources.ivf_index import read_sq8_probe

    path, _cut, emb = _sq8_append_fixture(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    return read_sq8_probe(spark, path, qvec, k=10, n_probe=2)


ORACLE_SQ8_APPEND_PROBE = (
    _QAPP_BASE_CTE
    + f"""
, mm AS MATERIALIZED (
  SELECT g.d, MIN(v[g.d]) AS mn, MAX(v[g.d]) AS mx
  FROM base, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
codes AS MATERIALIZED (
  SELECT m.vec_id, m.label, mm.d,
    LEAST(255, GREATEST(0, CASE WHEN mm.mx = mm.mn THEN 0
      ELSE CAST(FLOOR((m.v[mm.d] - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                AS INT) END)) AS code
  FROM members m, mm
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
probes AS (
  SELECT label FROM cent, q
  ORDER BY {_sql_cos('centroid', 'qv')} DESC, label
  LIMIT 2
),
qc AS (
  SELECT mm.d,
    LEAST(255, GREATEST(0, CASE WHEN mm.mx = mm.mn THEN 0
      ELSE CAST(FLOOR((qv[mm.d] - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                AS INT) END)) AS qcode
  FROM mm, q
),
dist AS (
  SELECT c.vec_id,
    CAST(SUM(CAST((c.code - qc.qcode) AS BIGINT) * (c.code - qc.qcode))
         AS BIGINT) AS sq8_dist
  FROM codes c JOIN qc USING (d) JOIN probes p ON c.label = p.label
  GROUP BY 1
)
SELECT vec_id, sq8_dist FROM dist ORDER BY sq8_dist, vec_id LIMIT 10
"""
)


def q_binary_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary index lifecycle, append leg: the appended cohort's sign
    bits are packed against the FROZEN base-derived midpoints
    (append_to_ivf_index dispatching on the _bqparams sidecar) and
    routed to the frozen base centroids; served like ann_binary_probe.
    The oracle's base-half-only midpoint derivation matching every
    Hamming distance proves no threshold moved on append."""
    from data_pipeline_ine_spark.sources.ivf_index import (
        read_binary_probe,
    )

    path, _cut, emb = _bq_append_fixture(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    return read_binary_probe(spark, path, qvec, k=10, n_probe=2)


ORACLE_BINARY_APPEND_PROBE = (
    _QAPP_BASE_CTE
    + f"""
, mm AS MATERIALIZED (
  SELECT g.d, (MIN(v[g.d]) + MAX(v[g.d])) / 2.0 AS mid
  FROM base, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
codes AS MATERIALIZED (
  SELECT m.vec_id, m.label,
    CAST(SUM(CASE WHEN mm.d <= 32 AND m.v[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 1) ELSE 0::BIGINT END)
         AS BIGINT) AS w1,
    CAST(SUM(CASE WHEN mm.d > 32 AND m.v[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 33) ELSE 0::BIGINT END)
         AS BIGINT) AS w2
  FROM members m, mm GROUP BY m.vec_id, m.label
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
probes AS (
  SELECT label FROM cent, q
  ORDER BY {_sql_cos('centroid', 'qv')} DESC, label
  LIMIT 2
),
qc AS (
  SELECT
    CAST(SUM(CASE WHEN mm.d <= 32 AND qv[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 1) ELSE 0::BIGINT END)
         AS BIGINT) AS qw1,
    CAST(SUM(CASE WHEN mm.d > 32 AND qv[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 33) ELSE 0::BIGINT END)
         AS BIGINT) AS qw2
  FROM mm, q
)
SELECT c.vec_id,
  CAST(bit_count(xor(c.w1, qc.qw1)) + bit_count(xor(c.w2, qc.qw2))
       AS BIGINT) AS hamming
FROM codes c JOIN probes USING (label), qc
ORDER BY hamming, c.vec_id LIMIT 10
"""
)


def q_sq8_quant_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-drift report at the SQ8 tier (sources/ivf_index
    .py::sq8_quant_drift_report): per dimension, how many RAW appended
    values fall strictly outside the FROZEN affine grid's [vmin, vmax]
    training range (those saturate to code 0/255 on append — contrast
    silently lost), with the integer cross-multiplied >1 percent
    retrain flag. The freshness surface that tells an operator
    rebuild_sq8_index is due — ivf_drift_report's companion one
    frozen artifact over."""
    from data_pipeline_ine_spark.sources.ivf_index import (
        sq8_quant_drift_report,
    )

    path, cut, emb = _sq8_append_fixture(spark, sf_dir)
    return sq8_quant_drift_report(
        spark, path, emb.filter(F.col("vec_id") >= cut).drop("label")
    )


ORACLE_SQ8_QUANT_DRIFT = """
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cut AS (SELECT MAX(vec_id) // 2 AS c FROM e),
base AS (SELECT vec_id, v FROM e, cut WHERE vec_id < c),
newr AS (SELECT vec_id, v FROM e, cut WHERE vec_id >= c),
mm AS (
  SELECT g.d, MIN(v[g.d]) AS mn, MAX(v[g.d]) AS mx
  FROM base, generate_series(1, 64) AS g(d)
  GROUP BY 1
)
SELECT CAST(mm.d AS INT) AS d,
  CAST(COUNT(*) AS BIGINT) AS n_new,
  CAST(SUM(CASE WHEN n.v[mm.d] < mm.mn THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clip_lo,
  CAST(SUM(CASE WHEN n.v[mm.d] > mm.mx THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clip_hi,
  CAST(CASE WHEN (SUM(CASE WHEN n.v[mm.d] < mm.mn THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN n.v[mm.d] > mm.mx THEN 1 ELSE 0 END))
                 * 100 > COUNT(*)
       THEN 1 ELSE 0 END AS INT) AS retrain
FROM newr n, mm
GROUP BY mm.d ORDER BY d
"""


def q_binary_quant_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-drift report at the binary tier (sources/ivf_index
    .py::binary_quant_drift_report): a sign bit never clips, so the
    drift that matters is THRESHOLD MOVEMENT — per dimension, how many
    appended values land between the frozen midpoint and the midpoint
    the appended cohort itself would derive (exactly the bits a
    retrain would flip), e6-snapped midpoints both ways and the >5
    percent integer cross-multiplied retrain flag. Points at
    rebuild_binary_index."""
    from data_pipeline_ine_spark.sources.ivf_index import (
        binary_quant_drift_report,
    )

    path, cut, emb = _bq_append_fixture(spark, sf_dir)
    return binary_quant_drift_report(
        spark, path, emb.filter(F.col("vec_id") >= cut).drop("label")
    )


ORACLE_BINARY_QUANT_DRIFT = """
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cut AS (SELECT MAX(vec_id) // 2 AS c FROM e),
base AS (SELECT vec_id, v FROM e, cut WHERE vec_id < c),
newr AS (SELECT vec_id, v FROM e, cut WHERE vec_id >= c),
fm AS (
  SELECT g.d, (MIN(v[g.d]) + MAX(v[g.d])) / 2.0 AS fmid
  FROM base, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
nm AS (
  SELECT g.d, (MIN(v[g.d]) + MAX(v[g.d])) / 2.0 AS nmid
  FROM newr, generate_series(1, 64) AS g(d)
  GROUP BY 1
)
SELECT CAST(fm.d AS INT) AS d,
  CAST(COUNT(*) AS BIGINT) AS n_new,
  CAST(SUM(CASE WHEN (n.v[fm.d] > fm.fmid) <> (n.v[fm.d] > nm.nmid)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_flip,
  CAST(FLOOR(fm.fmid * 1000000.0 + 0.5) AS BIGINT) AS mid_e6_frozen,
  CAST(FLOOR(nm.nmid * 1000000.0 + 0.5) AS BIGINT) AS mid_e6_new,
  CAST(CASE WHEN SUM(CASE WHEN (n.v[fm.d] > fm.fmid)
                          <> (n.v[fm.d] > nm.nmid) THEN 1 ELSE 0 END)
                 * 20 > COUNT(*)
       THEN 1 ELSE 0 END AS INT) AS retrain
FROM newr n, fm JOIN nm ON nm.d = fm.d
GROUP BY fm.d, fm.fmid, nm.nmid ORDER BY d
"""


def q_sq8_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild closing the SQ8 lifecycle (sources/ivf_index.py::
    rebuild_sq8_index): build from the first half (label buckets),
    append the second under the frozen grid, then rebuild FROM THE
    SOURCE TABLE — a codes-only index cannot retrain from its own
    storage — re-training the k=8 coarse quantizer AND the affine
    grid on the current corpus, staged-and-swapped with replay-marker
    carry. The per-bucket code checksum proves every vector was
    re-encoded under the NEW full-corpus grid (the oracle derives
    both from scratch)."""
    import os
    import shutil

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        rebuild_sq8_index,
        write_sq8_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_sq8_rb_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_sqparams", "_rebuilt_ok"):
        shutil.rmtree(path, ignore_errors=True)
        write_sq8_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        rebuild_sq8_index(
            spark, path, emb.drop("label"), n_clusters=8, iters=2,
            memo_key=_table_fingerprint(sf_dir, "embeddings"),
        )
        with open(os.path.join(path, "_rebuilt_ok"), "w") as f:
            f.write("ok\n")
    code_sum = F.aggregate(
        F.col("sq_codes"), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    return (
        spark.read.parquet(path)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("id_sum"),
            F.sum(code_sum).cast("bigint").alias("code_sum"),
        )
        .orderBy("bucket")
    )


# ground truth: deterministic full-corpus two-iteration Lloyd bucketing
# (the ORACLE_IVF_REBUILD chain) + codes re-derived under the
# FULL-corpus min/max grid — any vector still encoded under the stale
# base grid breaks the checksum.
ORACLE_SQ8_REBUILD = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{{lloyd}}a3 AS ({{assign}}),
asg AS (SELECT vec_id, v, cid FROM a3 WHERE rn = 1),
mm AS (
  SELECT g.d, MIN(v[g.d]) AS mn, MAX(v[g.d]) AS mx
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
vsum AS (
  SELECT a.vec_id, a.cid,
    CAST(SUM(LEAST(255, GREATEST(0, CASE WHEN mm.mx = mm.mn THEN 0
      ELSE CAST(FLOOR((a.v[mm.d] - mm.mn) * 255.0 / (mm.mx - mm.mn) + 0.5)
                AS INT) END))) AS BIGINT) AS csum
  FROM asg a, mm GROUP BY 1, 2
)
SELECT 'b' || CAST(cid AS VARCHAR) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(SUM(vec_id) AS BIGINT) AS id_sum,
  CAST(SUM(csum) AS BIGINT) AS code_sum
FROM vsum GROUP BY 1 ORDER BY 1
"""
ORACLE_SQ8_REBUILD = ORACLE_SQ8_REBUILD.format(
    lloyd=_LLOYD_CHAIN_CTE,
    assign=_KM_ASSIGN.format(d=_sql_sq_dist("v", "cv"), c="c2"),
)


def q_binary_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild closing the binary lifecycle (sources/ivf_index.py
    ::rebuild_binary_index): same exercise as sq8_rebuild one rung
    down — the per-bucket popcount checksum proves every vector's sign
    bits were re-derived against the NEW full-corpus midpoints."""
    import os
    import shutil

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        rebuild_binary_index,
        write_binary_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_bq_rb_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_bqparams", "_rebuilt_ok"):
        shutil.rmtree(path, ignore_errors=True)
        write_binary_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        rebuild_binary_index(
            spark, path, emb.drop("label"), n_clusters=8, iters=2,
            memo_key=_table_fingerprint(sf_dir, "embeddings"),
        )
        with open(os.path.join(path, "_rebuilt_ok"), "w") as f:
            f.write("ok\n")
    bit_sum = F.bit_count(F.col("bq_w0")) + F.bit_count(F.col("bq_w1"))
    return (
        spark.read.parquet(path)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("id_sum"),
            F.sum(bit_sum).cast("bigint").alias("bit_sum"),
        )
        .orderBy("bucket")
    )


ORACLE_BINARY_REBUILD = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{{lloyd}}a3 AS ({{assign}}),
asg AS (SELECT vec_id, v, cid FROM a3 WHERE rn = 1),
mm AS (
  SELECT g.d, (MIN(v[g.d]) + MAX(v[g.d])) / 2.0 AS mid
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
bits AS (
  SELECT a.vec_id, a.cid,
    CAST(SUM(CASE WHEN a.v[mm.d] > mm.mid THEN 1 ELSE 0 END) AS BIGINT)
      AS nbits
  FROM asg a, mm GROUP BY 1, 2
)
SELECT 'b' || CAST(cid AS VARCHAR) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(SUM(vec_id) AS BIGINT) AS id_sum,
  CAST(SUM(nbits) AS BIGINT) AS bit_sum
FROM bits GROUP BY 1 ORDER BY 1
"""
ORACLE_BINARY_REBUILD = ORACLE_BINARY_REBUILD.format(
    lloyd=_LLOYD_CHAIN_CTE,
    assign=_KM_ASSIGN.format(d=_sql_sq_dist("v", "cv"), c="c2"),
)


def q_ann_binary_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched binary serving over the SAME persisted index as
    ann_binary_probe (sources/ivf_index.py::read_binary_probe_batch —
    VERDICT r11 task 4, completing batch symmetry across the full
    ladder flat/PQ/SQ8/binary): three queries share ONE
    partition-pruned 8-byte codes scan, each query's packed sign-bit
    words ride the broadcast (query_id, bucket, qwords) frame, ranking
    is a query-keyed window. Pure integer arithmetic end-to-end."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_binary_probe_batch,
        write_binary_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    path = os.path.join(
        "/tmp", f"spark_graft_bq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_bqparams"):
        write_binary_index(emb, path, part_col="label")
    return read_binary_probe_batch(spark, path, queries, k=10, n_probe=2)


ORACLE_ANN_BINARY_BATCH = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims
         GROUP BY label),
mm AS MATERIALIZED (
  SELECT g.d, (MIN(v[g.d]) + MAX(v[g.d])) / 2.0 AS mid
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1
),
codes AS MATERIALIZED (
  SELECT e.vec_id, e.label,
    CAST(SUM(CASE WHEN mm.d <= 32 AND v[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 1) ELSE 0::BIGINT END)
         AS BIGINT) AS w1,
    CAST(SUM(CASE WHEN mm.d > 32 AND v[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 33) ELSE 0::BIGINT END)
         AS BIGINT) AS w2
  FROM e, mm GROUP BY e.vec_id, e.label
),
q AS (SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e
      WHERE vec_id < 3),
pr AS (
  SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY {_sql_cos('centroid', 'qv')} DESC, label) AS rn
  FROM cent, q
),
probes AS (SELECT query_id, label FROM pr WHERE rn <= 2),
qc AS (
  SELECT q.query_id,
    CAST(SUM(CASE WHEN mm.d <= 32 AND qv[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 1) ELSE 0::BIGINT END)
         AS BIGINT) AS qw1,
    CAST(SUM(CASE WHEN mm.d > 32 AND qv[mm.d] > mm.mid
             THEN 1::BIGINT << (mm.d - 33) ELSE 0::BIGINT END)
         AS BIGINT) AS qw2
  FROM mm, q GROUP BY q.query_id
),
cand AS (
  SELECT p.query_id, c.vec_id,
    CAST(bit_count(xor(c.w1, qc.qw1)) + bit_count(xor(c.w2, qc.qw2))
         AS BIGINT) AS hamming
  FROM codes c
  JOIN probes p ON c.label = p.label
  JOIN qc ON qc.query_id = p.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY hamming, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, hamming, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


def q_ann_prefix_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED Matryoshka prefix tier (sources/ivf_index.py::
    write_prefix_index/read_prefix_rerank — VERDICT r11 task 3): the
    index stores the leading 16 components as their own narrow parquet
    column beside the full vector, so the stage-1 shortlist scan reads
    ONLY (id, prefix) — ~1/4 of the vector bytes; the full vectors are
    fetched exclusively for the 50-id shortlist's pushed-down point
    lookups (plan-pinned in tests/test_plan_quality.py: the stage-1
    ReadSchema must not contain the embedding column). This makes the
    in-plan ann_prefix_rerank's 100 TB claim a real I/O saving, not
    just a compute saving."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_prefix_rerank,
        write_prefix_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    path = os.path.join(
        "/tmp", f"spark_graft_pref_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_prefixparams"):
        write_prefix_index(emb, path, prefix_dims=16, part_col="label")
    return read_prefix_rerank(
        spark, path, qvec, k=10, shortlist=50, n_probe=2
    )


ORACLE_ANN_PREFIX_STORED = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims
         GROUP BY label),
q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
probes AS (
  SELECT label FROM cent, q
  ORDER BY {_sql_cos('centroid', 'qv')} DESC, label
  LIMIT 2
),
short AS (
  SELECT e.vec_id, e.v
  FROM e JOIN probes USING (label), q
  ORDER BY {_sql_cos('e.v[1:16]', 'q.qv[1:16]')} DESC, e.vec_id
  LIMIT 50
)
SELECT s.vec_id, {_sql_cos('s.v', 'q.qv')} AS cosine_sim
FROM short s, q
ORDER BY cosine_sim DESC, vec_id LIMIT 10
"""




def q_ann_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN at the stored prefix tier (sources/ivf_index.py::
    read_prefix_rerank ``where=``): the same newer-half payload
    predicate as ann_ivf/sq8/binary_filtered_probe, pushed into the
    NARROW (id, prefix) stage-1 scan beside the bucket pruning — the
    constrained-query path with the tier's I/O saving intact (the
    full-vector column still never enters the stage-1 ReadSchema)."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_prefix_rerank,
        write_prefix_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_pref_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_prefixparams"):
        write_prefix_index(emb, path, prefix_dims=16, part_col="label")
    return read_prefix_rerank(
        spark, path, qvec, k=10, shortlist=50, n_probe=2,
        where=F.col("vec_id") >= cut,
    )


ORACLE_ANN_PREFIX_FILTERED = ORACLE_ANN_PREFIX_STORED.replace(
    "FROM e JOIN probes USING (label), q\n  ORDER BY",
    "FROM e JOIN probes USING (label), q\n"
    "  WHERE e.vec_id >= (SELECT MAX(vec_id) // 2 FROM e)\n  ORDER BY",
)


def q_ann_prefix_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched serving at the stored prefix tier (sources/ivf_index
    .py::read_prefix_rerank_batch), completing batch symmetry across
    ALL FIVE rungs (flat/PQ/SQ8/binary/prefix): three queries share
    ONE pruned (id, prefix)-only stage-1 scan, shortlists rank per
    query in a single window, and ONE pushed-down id-set fetch of the
    full vectors serves every query's exact rescore."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_prefix_rerank_batch,
        write_prefix_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    path = os.path.join(
        "/tmp", f"spark_graft_pref_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_prefixparams"):
        write_prefix_index(emb, path, prefix_dims=16, part_col="label")
    return read_prefix_rerank_batch(
        spark, path, queries, k=10, shortlist=50, n_probe=2
    )


ORACLE_ANN_PREFIX_BATCH = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT label, g.d, ROUND(AVG(v[g.d]), 6) AS c
  FROM e, generate_series(1, 64) AS g(d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY d) AS centroid FROM dims
         GROUP BY label),
q AS (SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e
      WHERE vec_id < 3),
pr AS (
  SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY {_sql_cos('centroid', 'qv')} DESC, label) AS rn
  FROM cent, q
),
probes AS (SELECT query_id, label FROM pr WHERE rn <= 2),
scored AS (
  SELECT p.query_id, e.vec_id, e.v, q.qv,
    ROW_NUMBER() OVER (PARTITION BY p.query_id
      ORDER BY {_sql_cos('e.v[1:16]', 'q.qv[1:16]')} DESC, e.vec_id)
      AS srn
  FROM e
  JOIN probes p ON e.label = p.label
  JOIN q ON q.query_id = p.query_id
),
rr AS (
  SELECT query_id, vec_id, {_sql_cos('v', 'qv')} AS cosine_sim
  FROM scored WHERE srn <= 50
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM rr
)
SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""




# --- PQ-tier lifecycle completion (round 12, self-directed symmetry) -------


def _pq_append_fixture(spark: SparkSession, sf_dir: str):
    """PQ twin of ``_sq8_append_fixture``: codes-only IVF-PQ index
    built from the first half (label buckets, untrained lowest-id
    codebook), second half appended as codes ENCODED UNDER THE FROZEN
    CODEBOOK and routed to the frozen centroids. Returns
    (path, cut, emb)."""
    import os
    import shutil

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_pq_app_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_codebook", "_app_ok"):
        shutil.rmtree(path, ignore_errors=True)
        write_ivfpq_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        with open(os.path.join(path, "_app_ok"), "w") as f:
            f.write("ok\n")
    return path, cut, emb


def q_ann_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN at the PQ tier (sources/ivf_index.py::
    read_ivfpq_probe ``where=``): the same newer-half payload predicate
    as the flat/SQ8/binary/prefix filtered rows, pushed into the
    4-byte CODES scan beside the bucket pruning — the last rung of the
    filtered-serving symmetry, ranking only probed-AND-matching codes
    by the exact integer ADC distance."""
    import os

    from data_pipeline_ine_spark.sources.ivf_index import (
        read_ivfpq_probe,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.orderBy(F.desc("vec_id")).select("embedding").head()[0]
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_ivfpq_index_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_codebook"):
        write_ivfpq_index(emb, path, part_col="label")
    return read_ivfpq_probe(
        spark, path, qvec, k=10, n_probe=2,
        where=F.col("vec_id") >= cut,
    )


ORACLE_ANN_IVFPQ_FILTERED = ORACLE_ANN_IVFPQ.replace(
    "JOIN lut l ON l.s = e.s AND l.c = e.c\nGROUP BY e.vec_id",
    "JOIN lut l ON l.s = e.s AND l.c = e.c\n"
    "WHERE e.vec_id >= (SELECT MAX(vec_id) // 2 FROM e2)\n"
    "GROUP BY e.vec_id",
)


def q_pq_quant_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-drift report at the PQ tier (sources/ivf_index.py
    ::pq_quant_drift_report): PQ staleness is RECONSTRUCTION ERROR —
    per subspace, the exact BIGINT mean squared distance of the raw
    appended cohort to its nearest FROZEN codeword versus to a
    codebook the cohort itself would derive (same untrained lowest-id
    recipe as the writer), integer cross-multiplied 3/2 retrain flag.
    Completes the drift-report family across all three codes-only
    tiers (SQ8 clip counts / binary threshold flips / PQ
    reconstruction error). Numpy reference twin in
    tests/test_plan_quality.py."""
    from data_pipeline_ine_spark.sources.ivf_index import (
        pq_quant_drift_report,
    )

    path, cut, emb = _pq_append_fixture(spark, sf_dir)
    return pq_quant_drift_report(
        spark, path, emb.filter(F.col("vec_id") >= cut).drop("label")
    )


ORACLE_PQ_QUANT_DRIFT = """
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cut AS (SELECT MAX(vec_id) // 2 AS c FROM e),
dims AS (
  SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e
),
vint AS MATERIALIZED (
  SELECT vec_id, i, CAST((i - 1) // 16 AS INT) AS s,
         CAST(floor(x * 10000 + 0.5) AS BIGINT) AS vi
  FROM dims
),
frocb AS (
  SELECT vec_id AS cb_vec, row_number() OVER (ORDER BY vec_id) - 1 AS c
  FROM e, cut WHERE vec_id < cut.c ORDER BY vec_id LIMIT 8
),
frocells AS (
  SELECT fc.c, v.i, v.s, v.vi AS cv
  FROM frocb fc JOIN vint v ON v.vec_id = fc.cb_vec
),
frecb AS (
  SELECT vec_id AS cb_vec, row_number() OVER (ORDER BY vec_id) - 1 AS c
  FROM e, cut WHERE vec_id >= cut.c ORDER BY vec_id LIMIT 8
),
frecells AS (
  SELECT fc.c, v.i, v.s, v.vi AS cv
  FROM frecb fc JOIN vint v ON v.vec_id = fc.cb_vec
),
newv AS (SELECT v.* FROM vint v, cut WHERE v.vec_id >= cut.c),
df AS (
  SELECT nv.vec_id, nv.s, fc.c,
         SUM((nv.vi - fc.cv) * (nv.vi - fc.cv)) AS d2
  FROM newv nv JOIN frocells fc ON fc.i = nv.i
  GROUP BY 1, 2, 3
),
mf AS (SELECT vec_id, s, MIN(d2) AS ef FROM df GROUP BY 1, 2),
dn AS (
  SELECT nv.vec_id, nv.s, fc.c,
         SUM((nv.vi - fc.cv) * (nv.vi - fc.cv)) AS d2
  FROM newv nv JOIN frecells fc ON fc.i = nv.i
  GROUP BY 1, 2, 3
),
mn AS (SELECT vec_id, s, MIN(d2) AS en FROM dn GROUP BY 1, 2)
SELECT CAST(mf.s AS INT) AS s,
  CAST(COUNT(*) AS BIGINT) AS n_new,
  CAST(SUM(mf.ef) // COUNT(*) AS BIGINT) AS mean_err_frozen,
  CAST(SUM(mn.en) // COUNT(*) AS BIGINT) AS mean_err_fresh,
  CAST(CASE WHEN SUM(mf.ef) * 2 > SUM(mn.en) * 3 THEN 1 ELSE 0 END
       AS INT) AS retrain
FROM mf JOIN mn ON mn.vec_id = mf.vec_id AND mn.s = mf.s
GROUP BY mf.s ORDER BY s
"""


def q_ivfpq_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild closing the PQ lifecycle (sources/ivf_index.py::
    rebuild_ivfpq_index): build from the first half (label buckets),
    append the second under the frozen codebook, then rebuild FROM THE
    SOURCE TABLE — re-training the k=8 coarse quantizer AND the
    untrained lowest-id codebook on the current corpus, staged and
    swapped with replay-marker carry. The per-bucket code checksum
    proves every vector re-encoded under the NEW full-corpus codebook
    (the oracle re-derives bucketing, codebook, and codes from
    scratch)."""
    import os
    import shutil

    from data_pipeline_ine_spark.sources.ivf_index import (
        append_to_ivf_index,
        rebuild_ivfpq_index,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).first()[0]) // 2
    path = os.path.join(
        "/tmp", f"spark_graft_pq_rb_{_IVF_LAYOUT_V}",
        os.path.basename(sf_dir.rstrip("/"))
        + "_" + _table_fingerprint(sf_dir, "embeddings"),
    )
    if not _ivf_index_ready(path, "_centroids", "_codebook", "_rebuilt_ok"):
        shutil.rmtree(path, ignore_errors=True)
        write_ivfpq_index(
            emb.filter(F.col("vec_id") < cut), path, part_col="label"
        )
        append_to_ivf_index(
            emb.filter(F.col("vec_id") >= cut).drop("label"), path
        )
        rebuild_ivfpq_index(
            spark, path, emb.drop("label"), n_clusters=8, iters=2,
            memo_key=_table_fingerprint(sf_dir, "embeddings"),
        )
        with open(os.path.join(path, "_rebuilt_ok"), "w") as f:
            f.write("ok\n")
    code_sum = F.aggregate(
        F.col("pq_codes"), F.lit(0).cast("bigint"),
        lambda a, x: a + x.cast("bigint"),
    )
    return (
        spark.read.parquet(path)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("id_sum"),
            F.sum(code_sum).cast("bigint").alias("code_sum"),
        )
        .orderBy("bucket")
    )


ORACLE_IVFPQ_REBUILD = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{{lloyd}}a3 AS ({{assign}}),
asg AS (SELECT vec_id, cid FROM a3 WHERE rn = 1),
dims AS (
  SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e
),
vint AS MATERIALIZED (
  SELECT vec_id, i, CAST((i - 1) // 16 AS INT) AS s,
         CAST(floor(x * 10000 + 0.5) AS BIGINT) AS vi
  FROM dims
),
cb AS (
  SELECT vec_id AS cb_vec, row_number() OVER (ORDER BY vec_id) - 1 AS c
  FROM e ORDER BY vec_id LIMIT 8
),
cbdims AS (
  SELECT cb.c, v.i, v.s, v.vi AS cv
  FROM cb JOIN vint v ON v.vec_id = cb.cb_vec
),
enc_dist AS (
  SELECT v.vec_id, v.s, cb.c,
         SUM((v.vi - cb.cv) * (v.vi - cb.cv)) AS d
  FROM vint v JOIN cbdims cb ON cb.i = v.i
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rk
    FROM enc_dist) WHERE rk = 1
),
csum AS (SELECT vec_id, CAST(SUM(c) AS BIGINT) AS cs FROM enc GROUP BY 1)
SELECT 'b' || CAST(a.cid AS VARCHAR) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(SUM(a.vec_id) AS BIGINT) AS id_sum,
  CAST(SUM(cs.cs) AS BIGINT) AS code_sum
FROM asg a JOIN csum cs ON cs.vec_id = a.vec_id
GROUP BY 1 ORDER BY 1
"""
ORACLE_IVFPQ_REBUILD = ORACLE_IVFPQ_REBUILD.format(
    lloyd=_LLOYD_CHAIN_CTE,
    assign=_KM_ASSIGN.format(d=_sql_sq_dist("v", "cv"), c="c2"),
)


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_v_consolidation(spark, os.environ.get("SPARK_GRAFT_SMOKE_DIR", SF_SMOKE))


# Driver-facing enumeration order. The driver records CORRECTNESS rows for
# the first 50 queries() entries per round, so insertion order is a priority
# ranking for evidence freshness. The list below is GENERATED — run
# tools/rotate_check_order.py at the start of each round (and again after
# adding queries mid-round): reds from the latest CORRECTNESS file first,
# then strict oldest-driver-row-first with never-checked (new) queries
# slotted immediately after the single oldest stale cohort. Round-9
# rotation (final, 271-query contract): no reds; the 9 queries whose
# newest green row is r03 lead, the 17 queries new this round follow
# (9 first-wave promotions + 8 second-wave operators), then the r04
# cohort fills the remaining 24 window slots — with 271 queries and a
# 50-slot window the steady-state worst-case evidence age is ~5-6
# rounds, which the committed GATES_rN.json all-contract sweeps cover.
_CHECK_ORDER = [
    # generated by tools/rotate_check_order.py — reds from the
    # latest CORRECTNESS file first, then queries touched since
    # their last green driver row (tools/touched_since_green
    # .json, stalest row first), then strict oldest-driver-row-
    # first with never-checked queries slotted right after the
    # oldest stale cohort. The driver records the first 50
    # entries each round.
    "ann_binary_rerank",
    "ann_prefix_rerank",
    "binary_recall_curve",
    "embedding_near_dup",
    "image_dhash",
    "media_pixel_stats",
    "video_frame_stats",
    "ann_binary_batch",
    "ann_ivfpq_filtered",
    "ann_prefix_batch",
    "ann_prefix_filtered",
    "ann_prefix_stored",
    "binary_append_probe",
    "image_augment_dhash",
    "ivf_recall_curve",
    "knn_hubness",
    "pq_recall_curve",
    "effective_sample_size",
    "eta_squared",
    "q11_important_stock",
    "q12_priority_class",
    "q13_order_distribution",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_qty_revenue",
    "q19_or_predicates",
    "q1_pricing_summary",
    "q20_qualified_suppliers",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "q8_market_share",
    "q9_profit_by_nation",
    "quantile_bins",
    "repetition_stats",
    "revenue_gini",
    "rfm_segments",
    "robust_scale",
    "rolling_7d_users",
    "rolling_fingerprint",
    "salted_join_totals",
    "sequence_packing",
    "series_gap_audit",
    "sessionize_batch",
    "shard_manifest",
    "simhash_fingerprints",
    "simhash_near_dup",
    "snapshot_diff",
    "source_ngram_diversity",
    "sparse_entity_counts",
    "spearman_corr",
    "split_leakage",
    "sprt_ab",
    "tfidf_top_terms",
    "theil_sen_trend",
    "token_fertility",
    "trailing_7d_value",
    "train_val_test_split",
    "tsz_compression_estimate",
    "user_max_gap",
    "user_value_ranks",
    "v_estaciones",
    "value_histogram",
    "watermark_lateness",
    "weighted_doc_sample",
    "weighted_median",
    "zipf_slope",
    "zscore_outliers",
    "asof_last_click",
    "bm25_scores",
    "containment_pairs",
    "customers_no_big_orders",
    "dedup_catalog_docs",
    "dedup_components",
    "dedup_survivors",
    "distinct_event_types",
    "embedding_cluster_profile",
    "entity_catalog",
    "exact_dup_groups",
    "except_users",
    "filtered_net_price",
    "funnel_conversion",
    "intersect_users",
    "jaccard_pairs",
    "label_join_orders",
    "lag_daily_delta",
    "language_id",
    "minhash_signature",
    "mixture_pipeline",
    "multimodal_features",
    "numeric_coercion_ratio",
    "orders_stats",
    "percentiles_by_type",
    "q10_returned_items",
    "q14_promo_share",
    "q18_large_volume",
    "q2_min_price_parts",
    "q3_shipping_priority",
    "q4_priority_semi",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "quality_scores",
    "range_click_attribution",
    "rollup_revenue",
    "temperature_mixture",
    "token_budget_cap",
    "weighted_quantiles",
    "bigram_logloss",
    "cdc_merge",
    "cdc_roundtrip",
    "centered_moving_avg",
    "copurchase_lift",
    "cross_source_duplication",
    "curriculum_order",
    "daily_vwap",
    "domain_mixture",
    "dq_audit",
    "dsir_weights",
    "dup_cluster_sizes",
    "entity_resolution",
    "event_transitions",
    "grouped_correlation",
    "grouping_sets_revenue",
    "ivm_revenue",
    "key_skew_profile",
    "lateral_topk_sql",
    "mad_outliers",
    "media_decode",
    "nearest_station",
    "order_value_extremes",
    "overlap_shipments",
    "packing_efficiency",
    "part_bfs_hops",
    "perplexity_buckets",
    "scd2_intervals",
    "seasonal_decompose",
    "skyline_parts",
    "sliding_6h_3h",
    "source_quality_gate",
    "t_closeness",
    "text_normalize",
    "text_stats",
    "top5_users",
    "tumbling_6h",
    "union_scaffold",
    "users_per_event_type",
    "window_top_day",
    "asof_next_click",
    "audio_dominant_freq",
    "audio_signature",
    "bloom_membership",
    "boilerplate_scrub",
    "bpe_token_total",
    "chunk_documents",
    "cms_heavy_hitters",
    "contamination_overlap",
    "corpus_datacard",
    "cube_order_stats",
    "part_pagerank",
    "part_triangles",
    "ppjoin_exact",
    "profile_orders",
    "pyds_observations",
    "quantile_normalize",
    "recursive_bfs_sql",
    "retention_cohorts",
    "scd2_apply_incremental",
    "session_paths",
    "session_window_batch",
    "shuffle_rank",
    "source_divergence",
    "state_occupancy",
    "stratified_sample",
    "temporal_state_lookup",
    "unigram_logloss",
    "upsample_epochs",
    "user_growth_curve",
    "v_consolidation",
    "variant_props",
    "vocab_coverage",
    "weekly_active_users",
    "winsorized_revenue",
    "zorder_keys",
    "ab_test_chisq",
    "acf_daily_revenue",
    "benford_digits",
    "binseg_split",
    "bootstrap_ci",
    "bpe_fertility",
    "calendar_features",
    "curation_pipeline",
    "dup_span_ratio",
    "dup_span_scrub",
    "ewma_value",
    "fuzzy_part_names",
    "gap_fill_locf",
    "grid_nearest_depot",
    "grouped_ols",
    "hashed_features",
    "inverted_index",
    "json_props_sum",
    "ks_drift",
    "level_shift",
    "linkage_scores",
    "log2_histogram",
    "melt_lineitem",
    "nb_source_prediction",
    "pareto_parts",
    "peak_concurrency",
    "pii_redaction",
    "pmi_collocations",
    "ra_link_prediction",
    "rp_cosine_consecutive",
    "snm_part_pairs",
    "table_reconcile",
    "value_drift",
    "video_signature",
    "cascade_rollup",
    "cohort_ltv",
    "column_entropy",
    "conformal_interval",
    "cusum_alarm",
    "decile_lift",
    "degree_assortativity",
    "diff_in_diff",
    "doc_keywords",
    "dow_seasonality",
    "dup_weighted_docs",
    "embedding_drift",
    "feature_mi",
    "funnel_latency",
    "gini_split",
    "grid_density_clusters",
    "interarrival_burstiness",
    "ivm_moments",
    "k_anonymity",
    "k_core",
    "kaplan_meier",
    "kmv_distinct_users",
    "l_diversity",
    "linear_attribution",
    "loo_target_encode",
    "lsh_recall_curve",
    "mahalanobis_outliers",
    "markov_attribution",
    "markov_stationary",
    "modal_event_type",
    "nb_confusion",
    "nb_kappa",
    "negative_samples",
    "novel_trigram_rate",
    "poisson_bootstrap",
    "pseudonymize_users",
    "psi_drift",
    "rank_auc",
    "readability_scores",
    "rendezvous_shards",
    "ann_batch_probe",
    "ann_binary_filtered_probe",
    "ann_binary_probe",
    "ann_index_probe",
    "ann_ivf_filtered_probe",
    "ann_ivf_topk",
    "ann_ivfpq_batch_probe",
    "ann_ivfpq_probe",
    "ann_ivfpq_rerank",
    "ann_ivfpq_rerank_batch",
    "ann_kmeans_topk",
    "ann_lsh_topk",
    "ann_sq8_batch_probe",
    "ann_sq8_filtered_probe",
    "ann_sq8_probe",
    "ann_sq8_rerank",
    "ann_sq8_rerank_batch",
    "ann_topk",
    "binary_quant_drift",
    "binary_rebuild",
    "chunk_windows",
    "cosine_consecutive",
    "curation_semantic",
    "curation_v3",
    "dsir_select",
    "embedding_norms",
    "gopher_repetition",
    "hard_negatives",
    "hard_negatives_mp",
    "incremental_dedup",
    "ivf_append_replay",
    "ivf_drift_report",
    "ivf_rebuild",
    "ivfpq_rebuild",
    "knn_ivf_blocked",
    "knn_within_label",
    "lm_gate_batch",
    "near_dup_buckets",
    "ngram_decontam",
    "pq_dedup_groups",
    "pq_quant_drift",
    "pq_topk",
    "prefix_recall_curve",
    "semantic_dedup",
    "semantic_dedup_mp",
    "semdedup_recall",
    "sq8_append_probe",
    "sq8_quant_drift",
    "sq8_rebuild",
    "sq8_recall_curve",
]


def _check_ordered(reg: dict) -> dict:
    """Reorder a registry dict so _CHECK_ORDER names come first."""
    out = {k: reg[k] for k in _CHECK_ORDER if k in reg}
    out.update({k: v for k, v in reg.items() if k not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _check_ordered({
        "v_consolidation": q_v_consolidation,
        "q1_pricing_summary": q_q1_pricing_summary,
        "sparse_entity_counts": q_sparse_entity_counts,
        "label_join_orders": q_label_join_orders,
        "distinct_event_types": q_distinct_event_types,
        "users_per_event_type": q_users_per_event_type,
        "dedup_catalog_docs": q_dedup_catalog_docs,
        "entity_catalog": q_entity_catalog,
        "top5_users": q_top5_users,
        "union_scaffold": q_union_scaffold,
        "percentiles_by_type": q_percentiles_by_type,
        "numeric_coercion_ratio": q_numeric_coercion_ratio,
        "filtered_net_price": q_filtered_net_price,
        "orders_stats": q_orders_stats,
        "json_props_sum": q_json_props_sum,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q5_local_supplier_volume": q_q5_local_supplier_volume,
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "window_top_day": q_window_top_day,
        "text_stats": q_text_stats,
        "quality_scores": q_quality_scores,
        "curriculum_order": q_curriculum_order,
        "text_normalize": q_text_normalize,
        "language_id": q_language_id,
        "bpe_token_total": q_bpe_token_total,
        "exact_dup_groups": q_exact_dup_groups,
        "minhash_signature": q_minhash_signature,
        "near_dup_buckets": q_near_dup_buckets,
        "jaccard_pairs": q_jaccard_pairs,
        "ppjoin_exact": q_ppjoin_exact,
        "incremental_dedup": q_incremental_dedup,
        "profile_orders": q_profile_orders,
        "winsorized_revenue": q_winsorized_revenue,
        "dedup_components": q_dedup_components,
        "embedding_norms": q_embedding_norms,
        "cosine_consecutive": q_cosine_consecutive,
        "ann_topk": q_ann_topk,
        "tumbling_6h": q_tumbling_6h,
        "sessionize_batch": q_sessionize_batch,
        "sliding_6h_3h": q_sliding_6h_3h,
        "multimodal_features": q_multimodal_features,
        "media_decode": q_media_decode,
        "q7_volume_shipping": q_q7_volume_shipping,
        "q2_min_price_parts": q_q2_min_price_parts,
        "q10_returned_items": q_q10_returned_items,
        "q12_priority_class": q_q12_priority_class,
        "q18_large_volume": q_q18_large_volume,
        "q4_priority_semi": q_q4_priority_semi,
        "customers_no_big_orders": q_customers_no_big_orders,
        "rollup_revenue": q_rollup_revenue,
        "asof_last_click": q_asof_last_click,
        "range_click_attribution": q_range_click_attribution,
        "except_users": q_except_users,
        "intersect_users": q_intersect_users,
        "lag_daily_delta": q_lag_daily_delta,
        "q14_promo_share": q_q14_promo_share,
        "dedup_survivors": q_dedup_survivors,
        "sequence_packing": q_sequence_packing,
        "simhash_fingerprints": q_simhash_fingerprints,
        "rolling_fingerprint": q_rolling_fingerprint,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_index_probe": q_ann_index_probe,
        "ann_ivfpq_probe": q_ann_ivfpq_probe,
        "ann_sq8_probe": q_ann_sq8_probe,
        "ann_sq8_batch_probe": q_ann_sq8_batch_probe,
        "weighted_quantiles": q_weighted_quantiles,
        "embedding_cluster_profile": q_embedding_cluster_profile,
        "token_budget_cap": q_token_budget_cap,
        "ann_kmeans_topk": q_ann_kmeans_topk,
        "v_estaciones": q_v_estaciones,
        "nearest_station": q_nearest_station,
        "pyds_observations": q_pyds_observations,
        "ivm_revenue": q_ivm_revenue,
        "session_window_batch": q_session_window_batch,
        "variant_props": q_variant_props,
        "scd2_apply_incremental": q_scd2_apply_incremental,
        "recursive_bfs_sql": q_recursive_bfs_sql,
        "lateral_topk_sql": q_lateral_topk_sql,
        "q8_market_share": q_q8_market_share,
        "q9_profit_by_nation": q_q9_profit_by_nation,
        "q13_order_distribution": q_q13_order_distribution,
        "q15_top_supplier": q_q15_top_supplier,
        "q16_supplier_part_counts": q_q16_supplier_part_counts,
        "q17_small_qty_revenue": q_q17_small_qty_revenue,
        "q19_or_predicates": q_q19_or_predicates,
        "q20_qualified_suppliers": q_q20_qualified_suppliers,
        "q22_dormant_customers": q_q22_dormant_customers,
        "q11_important_stock": q_q11_important_stock,
        "q21_waiting_suppliers": q_q21_waiting_suppliers,
        "domain_mixture": q_domain_mixture,
        "upsample_epochs": q_upsample_epochs,
        "shuffle_rank": q_shuffle_rank,
        "stratified_sample": q_stratified_sample,
        "repetition_stats": q_repetition_stats,
        "pii_redaction": q_pii_redaction,
        "contamination_overlap": q_contamination_overlap,
        "simhash_near_dup": q_simhash_near_dup,
        "tfidf_top_terms": q_tfidf_top_terms,
        "curation_pipeline": q_curation_pipeline,
        "user_value_ranks": q_user_value_ranks,
        "cube_order_stats": q_cube_order_stats,
        "melt_lineitem": q_melt_lineitem,
        "train_val_test_split": q_train_val_test_split,
        "salted_join_totals": q_salted_join_totals,
        "asof_next_click": q_asof_next_click,
        "chunk_documents": q_chunk_documents,
        "trailing_7d_value": q_trailing_7d_value,
        "gap_fill_locf": q_gap_fill_locf,
        "zscore_outliers": q_zscore_outliers,
        "value_histogram": q_value_histogram,
        "quantile_bins": q_quantile_bins,
        "snapshot_diff": q_snapshot_diff,
        "weighted_doc_sample": q_weighted_doc_sample,
        "fuzzy_part_names": q_fuzzy_part_names,
        "unigram_logloss": q_unigram_logloss,
        "containment_pairs": q_containment_pairs,
        "ann_batch_probe": q_ann_batch_probe,
        "ivf_drift_report": q_ivf_drift_report,
        "mixture_pipeline": q_mixture_pipeline,
        "temperature_mixture": q_temperature_mixture,
        "knn_ivf_blocked": q_knn_ivf_blocked,
        "knn_within_label": q_knn_within_label,
        "scd2_intervals": q_scd2_intervals,
        "funnel_conversion": q_funnel_conversion,
        "event_transitions": q_event_transitions,
        "overlap_shipments": q_overlap_shipments,
        "session_paths": q_session_paths,
        "weekly_active_users": q_weekly_active_users,
        "daily_vwap": q_daily_vwap,
        "source_divergence": q_source_divergence,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "centered_moving_avg": q_centered_moving_avg,
        "order_value_extremes": q_order_value_extremes,
        "source_quality_gate": q_source_quality_gate,
        "bm25_scores": q_bm25_scores,
        "dq_audit": q_dq_audit,
        "retention_cohorts": q_retention_cohorts,
        "cdc_merge": q_cdc_merge,
        "cdc_roundtrip": q_cdc_roundtrip,
        "entity_resolution": q_entity_resolution,
        "temporal_state_lookup": q_temporal_state_lookup,
        "grouped_correlation": q_grouped_correlation,
        "cross_source_duplication": q_cross_source_duplication,
        "vocab_coverage": q_vocab_coverage,
        "copurchase_lift": q_copurchase_lift,
        "part_triangles": q_part_triangles,
        "part_bfs_hops": q_part_bfs_hops,
        "zorder_keys": q_zorder_keys,
        "bigram_logloss": q_bigram_logloss,
        "key_skew_profile": q_key_skew_profile,
        "mad_outliers": q_mad_outliers,
        "inverted_index": q_inverted_index,
        "quantile_normalize": q_quantile_normalize,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "user_growth_curve": q_user_growth_curve,
        "state_occupancy": q_state_occupancy,
        "part_pagerank": q_part_pagerank,
        "grid_nearest_depot": q_grid_nearest_depot,
        "pmi_collocations": q_pmi_collocations,
        "pareto_parts": q_pareto_parts,
        "linkage_scores": q_linkage_scores,
        "value_drift": q_value_drift,
        "media_pixel_stats": q_media_pixel_stats,
        "audio_dominant_freq": q_audio_dominant_freq,
        "video_frame_stats": q_video_frame_stats,
        "dup_span_ratio": q_dup_span_ratio,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "ewma_value": q_ewma_value,
        "pq_topk": q_pq_topk,
        "pq_dedup_groups": q_pq_dedup_groups,
        "grouped_ols": q_grouped_ols,
        "level_shift": q_level_shift,
        "table_reconcile": q_table_reconcile,
        "rp_cosine_consecutive": q_rp_cosine_consecutive,
        "hashed_features": q_hashed_features,
        "nb_source_prediction": q_nb_source_prediction,
        "boilerplate_scrub": q_boilerplate_scrub,
        "image_dhash": q_image_dhash,
        "bloom_membership": q_bloom_membership,
        "ra_link_prediction": q_ra_link_prediction,
        "snm_part_pairs": q_snm_part_pairs,
        "embedding_drift": q_embedding_drift,
        "ivm_moments": q_ivm_moments,
        "ks_drift": q_ks_drift,
        "corpus_datacard": q_corpus_datacard,
        "peak_concurrency": q_peak_concurrency,
        "log2_histogram": q_log2_histogram,
        "poisson_bootstrap": q_poisson_bootstrap,
        "video_signature": q_video_signature,
        "audio_signature": q_audio_signature,
        "cascade_rollup": q_cascade_rollup,
        "dup_weighted_docs": q_dup_weighted_docs,
        "split_leakage": q_split_leakage,
        "source_ngram_diversity": q_source_ngram_diversity,
        "k_anonymity": q_k_anonymity,
        "t_closeness": q_t_closeness,
        "modal_event_type": q_modal_event_type,
        "pseudonymize_users": q_pseudonymize_users,
        "rolling_7d_users": q_rolling_7d_users,
        "decile_lift": q_decile_lift,
        "user_max_gap": q_user_max_gap,
        "nb_confusion": q_nb_confusion,
        "nb_kappa": q_nb_kappa,
        "shard_manifest": q_shard_manifest,
        "bootstrap_ci": q_bootstrap_ci,
        "linear_attribution": q_linear_attribution,
        "spearman_corr": q_spearman_corr,
        "ab_test_chisq": q_ab_test_chisq,
        "zipf_slope": q_zipf_slope,
        "benford_digits": q_benford_digits,
        "revenue_gini": q_revenue_gini,
        "interarrival_burstiness": q_interarrival_burstiness,
        "psi_drift": q_psi_drift,
        "degree_assortativity": q_degree_assortativity,
        "novel_trigram_rate": q_novel_trigram_rate,
        "kaplan_meier": q_kaplan_meier,
        "theil_sen_trend": q_theil_sen_trend,
        "mahalanobis_outliers": q_mahalanobis_outliers,
        "acf_daily_revenue": q_acf_daily_revenue,
        "dow_seasonality": q_dow_seasonality,
        "cusum_alarm": q_cusum_alarm,
        "kmv_distinct_users": q_kmv_distinct_users,
        "rfm_segments": q_rfm_segments,
        "column_entropy": q_column_entropy,
        "k_core": q_k_core,
        "readability_scores": q_readability_scores,
        "loo_target_encode": q_loo_target_encode,
        "token_fertility": q_token_fertility,
        "feature_mi": q_feature_mi,
        "gini_split": q_gini_split,
        "diff_in_diff": q_diff_in_diff,
        "knn_hubness": q_knn_hubness,
        "markov_stationary": q_markov_stationary,
        "conformal_interval": q_conformal_interval,
        "pq_recall_curve": q_pq_recall_curve,
        "calendar_features": q_calendar_features,
        "robust_scale": q_robust_scale,
        "ivf_recall_curve": q_ivf_recall_curve,
        "negative_samples": q_negative_samples,
        "l_diversity": q_l_diversity,
        "funnel_latency": q_funnel_latency,
        "doc_keywords": q_doc_keywords,
        "weighted_median": q_weighted_median,
        "grid_density_clusters": q_grid_density_clusters,
        "sprt_ab": q_sprt_ab,
        "binseg_split": q_binseg_split,
        "image_augment_dhash": q_image_augment_dhash,
        "markov_attribution": q_markov_attribution,
        "rank_auc": q_rank_auc,
        "cohort_ltv": q_cohort_ltv,
        "lsh_recall_curve": q_lsh_recall_curve,
        "rendezvous_shards": q_rendezvous_shards,
        "tsz_compression_estimate": q_tsz_compression_estimate,
        "watermark_lateness": q_watermark_lateness,
        "effective_sample_size": q_effective_sample_size,
        "eta_squared": q_eta_squared,
        "series_gap_audit": q_series_gap_audit,
        "packing_efficiency": q_packing_efficiency,
        "semantic_dedup": q_semantic_dedup,
        "ann_ivfpq_batch_probe": q_ann_ivfpq_batch_probe,
        "ann_ivfpq_rerank": q_ann_ivfpq_rerank,
        "ann_ivfpq_rerank_batch": q_ann_ivfpq_rerank_batch,
        "ivf_append_replay": q_ivf_append_replay,
        "curation_semantic": q_curation_semantic,
        "ivf_rebuild": q_ivf_rebuild,
        "dsir_weights": q_dsir_weights,
        "perplexity_buckets": q_perplexity_buckets,
        "seasonal_decompose": q_seasonal_decompose,
        "skyline_parts": q_skyline_parts,
        "ann_sq8_rerank": q_ann_sq8_rerank,
        "ann_sq8_rerank_batch": q_ann_sq8_rerank_batch,
        "ann_ivf_filtered_probe": q_ann_ivf_filtered_probe,
        "ann_sq8_filtered_probe": q_ann_sq8_filtered_probe,
        "sq8_recall_curve": q_sq8_recall_curve,
        "dsir_select": q_dsir_select,
        "lm_gate_batch": q_lm_gate_batch,
        "gopher_repetition": q_gopher_repetition,
        "ngram_decontam": q_ngram_decontam,
        "chunk_windows": q_chunk_windows,
        "hard_negatives": q_hard_negatives,
        "semdedup_recall": q_semdedup_recall,
        "semantic_dedup_mp": q_semantic_dedup_mp,
        "hard_negatives_mp": q_hard_negatives_mp,
        "bpe_fertility": q_bpe_fertility,
        "curation_v3": q_curation_v3,
        "ann_binary_rerank": q_ann_binary_rerank,
        "binary_recall_curve": q_binary_recall_curve,
        "ann_prefix_rerank": q_ann_prefix_rerank,
        "prefix_recall_curve": q_prefix_recall_curve,
        "dup_span_scrub": q_dup_span_scrub,
        "ann_binary_probe": q_ann_binary_probe,
        "sq8_append_probe": q_sq8_append_probe,
        "binary_append_probe": q_binary_append_probe,
        "sq8_quant_drift": q_sq8_quant_drift,
        "binary_quant_drift": q_binary_quant_drift,
        "sq8_rebuild": q_sq8_rebuild,
        "binary_rebuild": q_binary_rebuild,
        "ann_binary_batch": q_ann_binary_batch,
        "ann_prefix_stored": q_ann_prefix_stored,
        "ann_prefix_filtered": q_ann_prefix_filtered,
        "ann_prefix_batch": q_ann_prefix_batch,
        "ann_ivfpq_filtered": q_ann_ivfpq_filtered,
        "pq_quant_drift": q_pq_quant_drift,
        "ivfpq_rebuild": q_ivfpq_rebuild,
        "ann_binary_filtered_probe": q_ann_binary_filtered_probe,
    })


def oracle_sql() -> dict[str, str]:
    return _check_ordered({
        "v_consolidation": ORACLE_V_CONSOLIDATION,
        "q1_pricing_summary": ORACLE_Q1,
        "sparse_entity_counts": ORACLE_SPARSE,
        "label_join_orders": ORACLE_LABEL_JOIN,
        "distinct_event_types": ORACLE_DISTINCT_TYPES,
        "users_per_event_type": ORACLE_USERS_PER_TYPE,
        "dedup_catalog_docs": ORACLE_DEDUP_CATALOG,
        "entity_catalog": ORACLE_ENTITY_CATALOG,
        "top5_users": ORACLE_TOP5_USERS,
        "union_scaffold": ORACLE_UNION_SCAFFOLD,
        "percentiles_by_type": ORACLE_PERCENTILES,
        "numeric_coercion_ratio": ORACLE_COERCION,
        "filtered_net_price": ORACLE_FILTERED_NET,
        "orders_stats": ORACLE_ORDERS_STATS,
        "json_props_sum": ORACLE_JSON_PROPS,
        "q3_shipping_priority": ORACLE_Q3,
        "q5_local_supplier_volume": ORACLE_Q5,
        "q6_forecast_revenue": ORACLE_Q6,
        "window_top_day": ORACLE_WINDOW_TOP_DAY,
        "text_stats": ORACLE_TEXT_STATS,
        "quality_scores": ORACLE_QUALITY,
        "curriculum_order": ORACLE_CURRICULUM,
        "text_normalize": ORACLE_TEXT_NORMALIZE,
        "language_id": ORACLE_LANGUAGE_ID,
        "bpe_token_total": ORACLE_BPE,
        "exact_dup_groups": ORACLE_EXACT_DUP,
        "minhash_signature": ORACLE_MINHASH_SIG,
        "near_dup_buckets": ORACLE_NEAR_DUP,
        "jaccard_pairs": ORACLE_JACCARD,
        "ppjoin_exact": ORACLE_PPJOIN,
        "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
        "profile_orders": ORACLE_PROFILE,
        "winsorized_revenue": ORACLE_WINSORIZED,
        "dedup_components": ORACLE_COMPONENTS,
        "embedding_norms": ORACLE_EMB_NORMS,
        "cosine_consecutive": ORACLE_COSINE_PAIRS,
        "ann_topk": ORACLE_ANN_TOPK,
        "tumbling_6h": ORACLE_TUMBLING,
        "sessionize_batch": ORACLE_SESSIONIZE,
        "sliding_6h_3h": ORACLE_SLIDING,
        "multimodal_features": ORACLE_MULTIMODAL,
        "media_decode": ORACLE_MEDIA_DECODE,
        "q7_volume_shipping": ORACLE_Q7,
        "q2_min_price_parts": ORACLE_Q2_MIN,
        "q10_returned_items": ORACLE_Q10,
        "q12_priority_class": ORACLE_Q12,
        "q18_large_volume": ORACLE_Q18,
        "q4_priority_semi": ORACLE_Q4_SEMI,
        "customers_no_big_orders": ORACLE_ANTI,
        "rollup_revenue": ORACLE_ROLLUP,
        "asof_last_click": ORACLE_ASOF,
        "range_click_attribution": ORACLE_RANGE_JOIN,
        "except_users": ORACLE_EXCEPT,
        "intersect_users": ORACLE_INTERSECT,
        "lag_daily_delta": ORACLE_LAG_DELTA,
        "q14_promo_share": ORACLE_Q14,
        "dedup_survivors": ORACLE_DEDUP_SURVIVORS,
        "sequence_packing": ORACLE_PACKING,
        "simhash_fingerprints": ORACLE_SIMHASH,
        "rolling_fingerprint": ORACLE_ROLLING_FP,
        "embedding_near_dup": ORACLE_EMB_NEAR_DUP,
        "ann_lsh_topk": ORACLE_ANN_LSH,
        "ann_ivf_topk": ORACLE_ANN_IVF,
        "ann_index_probe": ORACLE_ANN_IVF,
        "ann_ivfpq_probe": ORACLE_ANN_IVFPQ,
        "ann_sq8_probe": ORACLE_ANN_SQ8_PROBE,
        "ann_sq8_batch_probe": ORACLE_ANN_SQ8_BATCH,
        "weighted_quantiles": ORACLE_WEIGHTED_QUANTILES,
        "embedding_cluster_profile": ORACLE_CLUSTER_PROFILE,
        "token_budget_cap": ORACLE_TOKEN_BUDGET,
        "ann_kmeans_topk": ORACLE_ANN_KMEANS,
        "v_estaciones": _oracle_estaciones(),
        "nearest_station": _oracle_nearest_station(),
        "pyds_observations": ORACLE_PYDS,
        "ivm_revenue": ORACLE_IVM,
        "session_window_batch": ORACLE_SESSION_WINDOW,
        "variant_props": ORACLE_VARIANT,
        "scd2_apply_incremental": ORACLE_SCD2,
        "recursive_bfs_sql": _RECURSIVE_BFS_SQL,
        "lateral_topk_sql": _LATERAL_TOPK_SQL,
        "q8_market_share": ORACLE_Q8,
        "q9_profit_by_nation": ORACLE_Q9,
        "q13_order_distribution": ORACLE_Q13,
        "q15_top_supplier": ORACLE_Q15,
        "q16_supplier_part_counts": ORACLE_Q16,
        "q17_small_qty_revenue": ORACLE_Q17,
        "q19_or_predicates": ORACLE_Q19,
        "q20_qualified_suppliers": ORACLE_Q20,
        "q22_dormant_customers": ORACLE_Q22,
        "q11_important_stock": ORACLE_Q11,
        "q21_waiting_suppliers": ORACLE_Q21,
        "domain_mixture": ORACLE_MIXTURE,
        "upsample_epochs": ORACLE_UPSAMPLE,
        "shuffle_rank": ORACLE_SHUFFLE_RANK,
        "stratified_sample": ORACLE_STRATIFIED,
        "repetition_stats": ORACLE_REPETITION,
        "pii_redaction": ORACLE_PII,
        "contamination_overlap": ORACLE_CONTAMINATION,
        "simhash_near_dup": ORACLE_SIMHASH_PAIRS,
        "tfidf_top_terms": ORACLE_TFIDF,
        "curation_pipeline": ORACLE_CURATION,
        "user_value_ranks": ORACLE_USER_RANKS,
        "cube_order_stats": ORACLE_CUBE,
        "melt_lineitem": ORACLE_MELT,
        "train_val_test_split": ORACLE_SPLIT,
        "salted_join_totals": ORACLE_SALTED,
        "asof_next_click": ORACLE_ASOF_FWD,
        "chunk_documents": ORACLE_CHUNKS,
        "trailing_7d_value": ORACLE_TRAILING,
        "gap_fill_locf": ORACLE_GAP_FILL,
        "zscore_outliers": ORACLE_ZSCORE,
        "value_histogram": ORACLE_HISTOGRAM,
        "quantile_bins": ORACLE_QUANTILE_BINS,
        "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
        "weighted_doc_sample": ORACLE_WEIGHTED_SAMPLE,
        "fuzzy_part_names": ORACLE_FUZZY,
        "unigram_logloss": ORACLE_UNIGRAM,
        "containment_pairs": ORACLE_CONTAINMENT,
        "ann_batch_probe": ORACLE_ANN_BATCH_PROBE,
        "ivf_drift_report": ORACLE_IVF_DRIFT,
        "mixture_pipeline": ORACLE_MIXTURE_PIPELINE,
        "temperature_mixture": ORACLE_TEMPERATURE_MIXTURE,
        "knn_ivf_blocked": ORACLE_KNN_IVF_BLOCKED,
        "knn_within_label": ORACLE_KNN_WITHIN_LABEL,
        "scd2_intervals": ORACLE_SCD2,
        "funnel_conversion": ORACLE_FUNNEL,
        "event_transitions": ORACLE_TRANSITIONS,
        "overlap_shipments": ORACLE_OVERLAP_SHIPMENTS,
        "session_paths": ORACLE_SESSION_PATHS,
        "weekly_active_users": ORACLE_WAU,
        "daily_vwap": ORACLE_VWAP,
        "source_divergence": ORACLE_SOURCE_DIVERGENCE,
        "grouping_sets_revenue": ORACLE_GROUPING_SETS,
        "centered_moving_avg": ORACLE_CENTERED_MA,
        "order_value_extremes": ORACLE_VALUE_EXTREMES,
        "source_quality_gate": ORACLE_QUALITY_GATE,
        "bm25_scores": ORACLE_BM25,
        "dq_audit": ORACLE_DQ_AUDIT,
        "retention_cohorts": ORACLE_RETENTION,
        "cdc_merge": ORACLE_CDC_MERGE,
        "cdc_roundtrip": ORACLE_CDC_ROUNDTRIP,
        "entity_resolution": ORACLE_ENTITY_RESOLUTION,
        "temporal_state_lookup": ORACLE_TEMPORAL_LOOKUP,
        "grouped_correlation": ORACLE_GROUPED_CORR,
        "cross_source_duplication": ORACLE_CROSS_SOURCE,
        "vocab_coverage": ORACLE_VOCAB_COVERAGE,
        "copurchase_lift": ORACLE_COPURCHASE,
        "part_triangles": ORACLE_TRIANGLES,
        "part_bfs_hops": ORACLE_BFS,
        "zorder_keys": ORACLE_ZORDER,
        "bigram_logloss": ORACLE_BIGRAM,
        "key_skew_profile": ORACLE_KEY_SKEW,
        "mad_outliers": ORACLE_MAD,
        "inverted_index": ORACLE_INVERTED_INDEX,
        "quantile_normalize": ORACLE_QUANTILE_NORMALIZE,
        "dup_cluster_sizes": ORACLE_DUP_CLUSTER_SIZES,
        "user_growth_curve": ORACLE_USER_GROWTH,
        "state_occupancy": ORACLE_STATE_OCCUPANCY,
        "part_pagerank": ORACLE_PAGERANK,
        "grid_nearest_depot": ORACLE_GRID_NEAREST_DEPOT,
        "pmi_collocations": ORACLE_PMI_COLLOCATIONS,
        "pareto_parts": ORACLE_PARETO_PARTS,
        "linkage_scores": ORACLE_LINKAGE_SCORES,
        "value_drift": ORACLE_VALUE_DRIFT,
        "media_pixel_stats": ORACLE_MEDIA_PIXEL_STATS,
        "audio_dominant_freq": ORACLE_AUDIO_DOMINANT_FREQ,
        "video_frame_stats": ORACLE_VIDEO_FRAME_STATS,
        "dup_span_ratio": ORACLE_DUP_SPAN,
        "cms_heavy_hitters": ORACLE_CMS,
        "ewma_value": ORACLE_EWMA,
        "pq_topk": ORACLE_PQ_TOPK,
        "pq_dedup_groups": ORACLE_PQ_DEDUP,
        "grouped_ols": ORACLE_GROUPED_OLS,
        "level_shift": ORACLE_LEVEL_SHIFT,
        "table_reconcile": ORACLE_TABLE_RECONCILE,
        "rp_cosine_consecutive": ORACLE_RP_COSINE,
        "hashed_features": ORACLE_HASHED_FEATURES,
        "nb_source_prediction": ORACLE_NB,
        "boilerplate_scrub": ORACLE_BOILERPLATE_SCRUB,
        "image_dhash": ORACLE_IMAGE_DHASH,
        "bloom_membership": ORACLE_BLOOM_MEMBERSHIP,
        "ra_link_prediction": ORACLE_RA_LINK,
        "snm_part_pairs": ORACLE_SNM_PART_PAIRS,
        "embedding_drift": ORACLE_EMBEDDING_DRIFT,
        "ivm_moments": ORACLE_IVM_MOMENTS,
        "ks_drift": ORACLE_KS_DRIFT,
        "corpus_datacard": ORACLE_CORPUS_DATACARD,
        "peak_concurrency": ORACLE_PEAK_CONCURRENCY,
        "log2_histogram": ORACLE_LOG2_HISTOGRAM,
        "poisson_bootstrap": ORACLE_POISSON_BOOTSTRAP,
        "video_signature": ORACLE_VIDEO_SIGNATURE,
        "audio_signature": ORACLE_AUDIO_SIGNATURE,
        "cascade_rollup": ORACLE_CASCADE_ROLLUP,
        "dup_weighted_docs": ORACLE_DUP_WEIGHTED,
        "split_leakage": ORACLE_SPLIT_LEAKAGE,
        "source_ngram_diversity": ORACLE_NGRAM_DIVERSITY,
        "k_anonymity": ORACLE_K_ANONYMITY,
        "t_closeness": ORACLE_T_CLOSENESS,
        "modal_event_type": ORACLE_MODAL_EVENT,
        "pseudonymize_users": ORACLE_PSEUDONYMIZE,
        "rolling_7d_users": ORACLE_ROLLING_7D,
        "decile_lift": ORACLE_DECILE_LIFT,
        "user_max_gap": ORACLE_USER_MAX_GAP,
        "nb_confusion": ORACLE_NB_CONFUSION,
        "nb_kappa": ORACLE_NB_KAPPA,
        "shard_manifest": ORACLE_SHARD_MANIFEST,
        "bootstrap_ci": ORACLE_BOOTSTRAP_CI,
        "linear_attribution": ORACLE_LINEAR_ATTRIBUTION,
        "spearman_corr": ORACLE_SPEARMAN,
        "ab_test_chisq": ORACLE_AB_TEST,
        "zipf_slope": ORACLE_ZIPF_SLOPE,
        "benford_digits": ORACLE_BENFORD,
        "revenue_gini": ORACLE_REVENUE_GINI,
        "interarrival_burstiness": ORACLE_BURSTINESS,
        "psi_drift": ORACLE_PSI,
        "degree_assortativity": ORACLE_ASSORTATIVITY,
        "novel_trigram_rate": ORACLE_NOVEL_TRIGRAM,
        "kaplan_meier": ORACLE_KAPLAN_MEIER,
        "theil_sen_trend": ORACLE_THEIL_SEN,
        "mahalanobis_outliers": ORACLE_MAHALANOBIS,
        "acf_daily_revenue": ORACLE_ACF,
        "dow_seasonality": ORACLE_DOW,
        "cusum_alarm": ORACLE_CUSUM,
        "kmv_distinct_users": ORACLE_KMV,
        "rfm_segments": ORACLE_RFM,
        "column_entropy": ORACLE_COLUMN_ENTROPY,
        "k_core": ORACLE_KCORE,
        "readability_scores": ORACLE_READABILITY,
        "loo_target_encode": ORACLE_LOO_ENCODE,
        "token_fertility": ORACLE_FERTILITY,
        "feature_mi": ORACLE_FEATURE_MI,
        "gini_split": ORACLE_GINI_SPLIT,
        "diff_in_diff": ORACLE_DID,
        "knn_hubness": ORACLE_KNN_HUBNESS,
        "markov_stationary": ORACLE_MARKOV,
        "conformal_interval": ORACLE_CONFORMAL,
        "pq_recall_curve": ORACLE_PQ_RECALL,
        "calendar_features": ORACLE_CALENDAR,
        "robust_scale": ORACLE_ROBUST_SCALE,
        "ivf_recall_curve": ORACLE_IVF_RECALL,
        "negative_samples": ORACLE_NEG_SAMPLES,
        "l_diversity": ORACLE_L_DIVERSITY,
        "funnel_latency": ORACLE_FUNNEL_LATENCY,
        "doc_keywords": ORACLE_DOC_KEYWORDS,
        "weighted_median": ORACLE_WEIGHTED_MEDIAN,
        "grid_density_clusters": ORACLE_GRID_CLUSTERS,
        "sprt_ab": ORACLE_SPRT,
        "binseg_split": ORACLE_BINSEG,
        "image_augment_dhash": ORACLE_AUG_DHASH,
        "markov_attribution": ORACLE_MARKOV_ATTR,
        "rank_auc": ORACLE_RANK_AUC,
        "cohort_ltv": ORACLE_COHORT_LTV,
        "lsh_recall_curve": ORACLE_LSH_RECALL,
        "rendezvous_shards": ORACLE_HRW,
        "tsz_compression_estimate": ORACLE_TSZ,
        "watermark_lateness": ORACLE_WATERMARK,
        "effective_sample_size": ORACLE_ESS,
        "eta_squared": ORACLE_ETA_SQ,
        "series_gap_audit": ORACLE_GAP_AUDIT,
        "packing_efficiency": ORACLE_PACKING_EFFICIENCY,
        "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
        "ann_ivfpq_batch_probe": ORACLE_ANN_IVFPQ_BATCH,
        "ann_ivfpq_rerank": ORACLE_ANN_IVFPQ_RERANK,
        "ann_ivfpq_rerank_batch": ORACLE_ANN_IVFPQ_RERANK_BATCH,
        "ivf_append_replay": ORACLE_IVF_APPEND_REPLAY,
        "curation_semantic": ORACLE_CURATION_SEMANTIC,
        "ivf_rebuild": ORACLE_IVF_REBUILD,
        "dsir_weights": ORACLE_DSIR,
        "perplexity_buckets": ORACLE_PERPLEXITY_BUCKETS,
        "seasonal_decompose": ORACLE_SEASONAL_DECOMPOSE,
        "skyline_parts": ORACLE_SKYLINE,
        "ann_sq8_rerank": ORACLE_ANN_SQ8_RERANK,
        "ann_sq8_rerank_batch": ORACLE_ANN_SQ8_RERANK_BATCH,
        "ann_ivf_filtered_probe": ORACLE_ANN_IVF_FILTERED,
        "ann_sq8_filtered_probe": ORACLE_ANN_SQ8_FILTERED,
        "sq8_recall_curve": ORACLE_SQ8_RECALL,
        "dsir_select": ORACLE_DSIR_SELECT,
        "lm_gate_batch": ORACLE_LM_GATE_BATCH,
        "gopher_repetition": ORACLE_GOPHER_REPETITION,
        "ngram_decontam": ORACLE_NGRAM_DECONTAM,
        "chunk_windows": ORACLE_CHUNK_WINDOWS,
        "hard_negatives": ORACLE_HARD_NEGATIVES,
        "semdedup_recall": ORACLE_SEMDEDUP_RECALL,
        "semantic_dedup_mp": ORACLE_SEMANTIC_DEDUP_MP,
        "hard_negatives_mp": ORACLE_HARD_NEGATIVES_MP,
        "bpe_fertility": ORACLE_BPE_FERTILITY,
        "curation_v3": ORACLE_CURATION_V3,
        "ann_binary_rerank": ORACLE_ANN_BINARY_RERANK,
        "binary_recall_curve": ORACLE_BINARY_RECALL_CURVE,
        "ann_prefix_rerank": ORACLE_ANN_PREFIX_RERANK,
        "prefix_recall_curve": ORACLE_PREFIX_RECALL_CURVE,
        "dup_span_scrub": ORACLE_DUP_SPAN_SCRUB,
        "ann_binary_probe": ORACLE_ANN_BINARY_PROBE,
        "sq8_append_probe": ORACLE_SQ8_APPEND_PROBE,
        "binary_append_probe": ORACLE_BINARY_APPEND_PROBE,
        "sq8_quant_drift": ORACLE_SQ8_QUANT_DRIFT,
        "binary_quant_drift": ORACLE_BINARY_QUANT_DRIFT,
        "sq8_rebuild": ORACLE_SQ8_REBUILD,
        "binary_rebuild": ORACLE_BINARY_REBUILD,
        "ann_binary_batch": ORACLE_ANN_BINARY_BATCH,
        "ann_prefix_stored": ORACLE_ANN_PREFIX_STORED,
        "ann_prefix_filtered": ORACLE_ANN_PREFIX_FILTERED,
        "ann_prefix_batch": ORACLE_ANN_PREFIX_BATCH,
        "ann_ivfpq_filtered": ORACLE_ANN_IVFPQ_FILTERED,
        "pq_quant_drift": ORACLE_PQ_QUANT_DRIFT,
        "ivfpq_rebuild": ORACLE_IVFPQ_REBUILD,
        "ann_binary_filtered_probe": ORACLE_ANN_BINARY_FILTERED,
    })
