"""Batch-2 driver-contract queries: DataFrame-API implementations through
the hdk_spark operator/function layer, each with a DuckDB oracle whose
arithmetic mirrors the Spark expression bit-for-bit (see the determinism
rules in __spark_entry__.py).

Split out of __spark_entry__.py to keep the contract file readable; it
imports SPARK_IMPLS / ORACLES / NO_ORACLE from here.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hdk_spark.functions.scalar import round6
from hdk_spark.operators.caches import (
    _attach_caches,
    _caches_of,
    _persist_internal,
    release_caches,
)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _tables(spark: SparkSession, sf_dir: str):
    from __spark_entry__ import load_tables

    load_tables(spark, sf_dir)
    return spark


def _ordered(result: DataFrame, *cols) -> DataFrame:
    """``result.orderBy(*cols)`` carrying the operator's internal
    caches, so ``release_caches`` on the row's frame frees them."""
    return _attach_caches(result.orderBy(*cols), _caches_of(result))


# ---------------------------------------------------------------------------
# §2.5 custom aggregates
# ---------------------------------------------------------------------------


def q_agg_quantile_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE with all five reference interpolation modes
    (reference Shared/quantile.h:300-337)."""
    from hdk_spark.functions import quantile

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    q = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            quantile(q, 0.5, "lower").alias("q_lower"),
            quantile(q, 0.5, "higher").alias("q_higher"),
            quantile(q, 0.5, "nearest").alias("q_nearest"),
            quantile(q, 0.5, "midpoint").alias("q_midpoint"),
            quantile(q, 0.5, "linear").alias("q_linear"),
            quantile(F.col("l_extendedprice"), 0.25, "linear").alias("q25_price"),
        )
        .orderBy("l_returnflag")
    )


_QUANTILE_ORACLE = """
WITH g AS (
  SELECT l_returnflag AS rf,
         list_sort(list(l_quantity)) AS v,
         list_sort(list(l_extendedprice)) AS vp,
         count(*) AS n
  FROM lineitem GROUP BY 1
), p AS (
  SELECT rf, v, vp, CAST(n-1 AS DOUBLE)*0.5 AS pos, CAST(n-1 AS DOUBLE)*0.25 AS pos25 FROM g
)
SELECT rf AS l_returnflag,
       CAST(v[CAST(floor(pos) AS INT)+1] AS DOUBLE) AS q_lower,
       CAST(v[CAST(ceil(pos)  AS INT)+1] AS DOUBLE) AS q_higher,
       CAST(v[CAST(floor(pos+0.5) AS INT)+1] AS DOUBLE) AS q_nearest,
       CAST(v[CAST(floor(pos) AS INT)+1] AS DOUBLE)
         + (CAST(v[CAST(ceil(pos) AS INT)+1] AS DOUBLE) - CAST(v[CAST(floor(pos) AS INT)+1] AS DOUBLE)) * 0.5
         AS q_midpoint,
       CAST(v[CAST(floor(pos) AS INT)+1] AS DOUBLE)
         + (CAST(v[CAST(ceil(pos) AS INT)+1] AS DOUBLE) - CAST(v[CAST(floor(pos) AS INT)+1] AS DOUBLE)) * (pos - floor(pos))
         AS q_linear,
       CAST(vp[CAST(floor(pos25) AS INT)+1] AS DOUBLE)
         + (CAST(vp[CAST(ceil(pos25) AS INT)+1] AS DOUBLE) - CAST(vp[CAST(floor(pos25) AS INT)+1] AS DOUBLE)) * (pos25 - floor(pos25))
         AS q25_price
FROM p ORDER BY rf
"""


def q_agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPK / BOTTOMK array aggregates (reference TopKAggRuntime.h:14),
    row-exploded: the driver's value-hash canonicalizer can't sort
    array cells, so the k-arrays are posexploded to (group, rank,
    value) rows — same information, scalar columns only."""
    from hdk_spark.functions import topk, bottomk

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    agged = li.groupBy("l_returnflag").agg(
        topk(F.col("l_quantity"), 5).alias("top5_qty"),
        bottomk(F.col("l_quantity"), 5).alias("bottom5_qty"),
        topk(F.col("l_extendedprice"), 3).alias("top3_price"),
    )
    # explode a literal 1..5 rank sequence and index with
    # try_element_at (NULL past the end) — arrays_zip would emit fewer
    # rows than the oracle's fixed generate_series(1,5) on any group
    # with < 5 lineitems
    return (
        agged.select(
            "l_returnflag",
            "top5_qty",
            "bottom5_qty",
            "top3_price",
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("rank"),
        )
        .select(
            "l_returnflag",
            F.col("rank").cast("long").alias("rank"),
            F.try_element_at("top5_qty", F.col("rank")).alias("top_qty"),
            F.try_element_at("bottom5_qty", F.col("rank")).alias("bottom_qty"),
            F.try_element_at("top3_price", F.col("rank")).alias("top_price"),
        )
        .orderBy("l_returnflag", "rank")
    )


_TOPK_ORACLE = """
WITH g AS (
  SELECT l_returnflag,
         (list_sort(list(l_quantity), 'DESC'))[1:5] AS t5,
         (list_sort(list(l_quantity), 'ASC'))[1:5]  AS b5,
         (list_sort(list(l_extendedprice), 'DESC'))[1:3] AS t3
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(r.k AS BIGINT) AS rank,
       t5[r.k] AS top_qty, b5[r.k] AS bottom_qty,
       CASE WHEN r.k <= 3 THEN t3[r.k] END AS top_price
FROM g CROSS JOIN generate_series(1, 5) AS r(k)
ORDER BY l_returnflag, rank
"""


def q_agg_sample_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE + SINGLE_VALUE on functionally-dependent columns (every
    group has exactly one distinct value, so 'arbitrary' is determined)."""
    from hdk_spark.functions import sample, single_value

    _tables(spark, sf_dir)
    n = spark.table("nation")
    return (
        n.groupBy("n_nationkey")
        .agg(
            sample(F.col("n_name")).alias("any_name"),
            single_value(F.col("n_regionkey")).alias("the_region"),
        )
        .orderBy("n_nationkey")
    )


_SAMPLE_ORACLE = """
SELECT n_nationkey, min(n_name) AS any_name, min(n_regionkey) AS the_region
FROM nation GROUP BY n_nationkey ORDER BY n_nationkey
"""


def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STDDEV_SAMP / VAR_SAMP / CORR (reference OpTypeEnums.h:91-92,
    expanded compound aggregates). Rounded to 6 — both engines use
    numerically-stable streaming moments; agreement is well past 1e-6."""
    _tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_linenumber,
               round(stddev_samp(l_quantity), 6)  AS sd_qty,
               round(var_samp(l_quantity), 6)     AS var_qty,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(avg(l_discount), 6)          AS avg_disc
        FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
        """
    )


_MOMENTS_ORACLE = """
SELECT l_linenumber,
       round(stddev_samp(l_quantity), 6)  AS sd_qty,
       round(var_samp(l_quantity), 6)     AS var_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(avg(l_discount), 6)          AS avg_disc
FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
"""


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_COUNT_DISTINCT (HLL, reference HyperLogLog.h) and
    APPROX_QUANTILE (reference approx_quantile.h t-digest).

    The sketch estimates themselves are engine-specific, so the
    value-checked contract is the deterministic inequality instead:
    the HLL estimate must land within 3·rsd (rsd=0.05 → ±15%) of the
    exact distinct count computed in the same query, and the t-digest
    median must land inside the exact [p40, p60] percentile band. Both
    engines emit the exact counts plus the boolean verdicts — DuckDB
    asserts TRUE literals, so a drifting sketch flips the hash."""
    from hdk_spark.functions import approx_quantile

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    price = F.col("l_extendedprice").cast("double")
    agged = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("__hll"),
        approx_quantile(F.col("l_extendedprice"), 0.5).alias("__amed"),
        F.percentile(price, F.lit(0.4)).alias("__p40"),
        F.percentile(price, F.lit(0.6)).alias("__p60"),
    )
    exact = F.col("n_exact_parts").cast("double")
    return agged.select(
        "l_returnflag",
        "n_exact_parts",
        (F.abs(F.col("__hll") - exact) / exact <= 0.15).alias("hll_ok"),
        (
            (F.col("__amed") >= F.col("__p40"))
            & (F.col("__amed") <= F.col("__p60"))
        ).alias("median_ok"),
    ).orderBy("l_returnflag")


_AGG_APPROX_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_exact_parts,
       TRUE AS hll_ok,
       TRUE AS median_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# §2.3 expression surface
# ---------------------------------------------------------------------------


def q_expr_bitwise_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and/or/xor/not + /INT + mod (reference OpTypeEnums.h:25-33)."""
    from hdk_spark.functions import div_int

    _tables(spark, sf_dir)
    c = spark.table("customer").filter(F.col("c_custkey") <= 100)
    k = F.col("c_custkey")
    return c.select(
        "c_custkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(16)).alias("bor"),
        k.bitwiseXOR(F.lit(85)).alias("bxor"),
        F.bitwise_not(k).alias("bnot"),
        div_int(k, F.lit(7)).alias("divint"),
        (k % 7).alias("mod7"),
    )


_BITWISE_ORACLE = """
SELECT c_custkey,
       c_custkey & 255 AS band,
       c_custkey | 16  AS bor,
       xor(c_custkey, 85) AS bxor,
       ~c_custkey AS bnot,
       c_custkey // 7 AS divint,
       c_custkey % 7 AS mod7
FROM customer WHERE c_custkey <= 100
"""


def q_expr_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (kBwEq), IS NULL, IN-list over synthesized
    NULLs (reference OpTypeEnums.h:16,35; IR/Expr.h:444 InValues)."""
    from hdk_spark.functions import null_safe_eq

    _tables(spark, sf_dir)
    c = spark.table("customer")
    nullable = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return (
        c.select(
            null_safe_eq(F.col("c_acctbal"), nullable).alias("ns_eq"),
            nullable.isNull().alias("is_neg"),
            F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING").alias("in_seg"),
        )
        .groupBy("ns_eq", "is_neg", "in_seg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("ns_eq", "is_neg", "in_seg")
    )


_NULL_SAFE_ORACLE = """
SELECT (c_acctbal IS NOT DISTINCT FROM (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END)) AS ns_eq,
       (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END) IS NULL AS is_neg,
       c_mktsegment IN ('AUTOMOBILE','BUILDING') AS in_seg,
       count(*) AS n
FROM customer GROUP BY 1,2,3 ORDER BY 1,2,3
"""


def q_expr_width_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDTH_BUCKET histogram over a deterministic SAMPLE_RATIO filter
    (reference IR/Expr.h:698,571)."""
    from hdk_spark.functions import width_bucket, sample_ratio

    _tables(spark, sf_dir)
    c = spark.table("customer")
    return (
        c.filter(sample_ratio(0.25, F.col("c_custkey")))
        .groupBy(
            width_bucket(F.col("c_acctbal"), -1000.0, 10000.0, 11)
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("bucket")
    )


_WIDTH_BUCKET_ORACLE = """
WITH s AS (
  SELECT * FROM customer
  WHERE (c_custkey * 2654435761) % 4294967296 < CAST(0.25 * 4294967296 AS BIGINT)
)
SELECT CAST(CASE WHEN c_acctbal < -1000 THEN 0
                 WHEN c_acctbal >= 10000 THEN 12
                 ELSE CAST(floor((c_acctbal - (-1000.0)) / 1000.0) AS BIGINT) + 1
            END AS BIGINT) AS bucket,
       count(*) AS n, min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM s GROUP BY 1 ORDER BY 1
"""

# identical SQL text runs on both engines
_MATH_SQL = """
SELECT p_partkey,
       round(sqrt(p_retailprice), 6) AS sq,
       abs(p_retailprice - 1000.0)   AS ab,
       CAST(ceil(p_retailprice)  AS BIGINT) AS ce,
       CAST(floor(p_retailprice) AS BIGINT) AS fl,
       CAST(sign(p_retailprice - 1000.0) AS DOUBLE) AS sg,
       round(ln(p_retailprice), 6)    AS lnp,
       round(log10(p_retailprice), 6) AS lg,
       round(pow(p_retailprice, 2), 4) AS p2,
       round(exp(p_retailprice / 1000.0), 6) AS ex,
       round(sin(p_retailprice), 6) AS sn,
       round(cos(p_retailprice), 6) AS cs
FROM part WHERE p_partkey <= 500
"""


# ---------------------------------------------------------------------------
# §2.8 arrays
# ---------------------------------------------------------------------------


def q_array_item_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-based ITEM + CARDINALITY (reference kArrayAt is 1-based,
    test_pyhdk_api.py:927; CardinalityExpr IR/Expr.h:616)."""
    from hdk_spark.functions import item, cardinality

    _tables(spark, sf_dir)
    e = spark.table("embeddings").filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        item(F.col("embedding"), 1).alias("first_elem"),
        item(F.col("embedding"), 64).alias("last_elem"),
        cardinality(F.col("embedding")).cast("long").alias("dim"),
    )


_ARRAY_ITEM_ORACLE = """
SELECT vec_id,
       embedding[1]  AS first_elem,
       embedding[64] AS last_elem,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings WHERE vec_id < 100
"""


def q_unnest_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST (reference kUnnest; ArrayOps.cpp)."""
    from hdk_spark.functions import unnest

    _tables(spark, sf_dir)
    e = spark.table("embeddings").filter(F.col("vec_id") < 5)
    return e.select("vec_id", unnest(F.col("embedding")).alias("val"))


_UNNEST_ORACLE = """
SELECT vec_id, unnest(embedding) AS val FROM embeddings WHERE vec_id < 5
"""


# ---------------------------------------------------------------------------
# §2.8 date/time
# ---------------------------------------------------------------------------


def q_date_add_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATEADD / DATEDIFF across units (reference DateAdd.cpp,
    IR/Expr.h:889-956). o_orderdate is midnight-aligned so day-diff
    semantics coincide across engines."""
    from hdk_spark.functions import date_add, date_diff

    _tables(spark, sf_dir)
    o = spark.table("orders").filter(F.col("o_orderkey") <= 1000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        date_add("month", 3, d).alias("plus3m"),
        date_add("day", 7, d).alias("plus7d"),
        date_add("hour", 36, d).alias("plus36h"),
        date_diff("day", F.lit("1995-01-01 00:00:00").cast("timestamp"), d).alias(
            "days_since"
        ),
    )


_DATE_ADD_ORACLE = """
SELECT o_orderkey,
       o_orderdate + INTERVAL 3 MONTH AS plus3m,
       o_orderdate + INTERVAL 7 DAY   AS plus7d,
       o_orderdate + INTERVAL 36 HOUR AS plus36h,
       date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since
FROM orders WHERE o_orderkey <= 1000
"""


def q_date_trunc_exotic_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc quarterday / week / week_sunday / week_saturday
    (reference DateTruncate.cpp:57,88,93)."""
    from hdk_spark.functions import date_trunc

    _tables(spark, sf_dir)
    e = spark.table("events").filter(F.col("event_id") < 500)
    ts = F.col("ts")
    return e.select(
        "event_id",
        date_trunc("quarterday", ts).alias("t_qday"),
        date_trunc("week", ts).alias("t_week"),
        date_trunc("week_sunday", ts).alias("t_week_sun"),
        date_trunc("week_saturday", ts).alias("t_week_sat"),
    )


_TRUNC_TS_ORACLE = """
SELECT event_id,
       make_timestamp((CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(ts)) AS BIGINT) % 21600) * 1000000) AS t_qday,
       date_trunc('week', ts) AS t_week,
       CAST(ts::DATE - CAST(dayofweek(ts::DATE) AS INT) AS TIMESTAMP) AS t_week_sun,
       CAST(ts::DATE - CAST((dayofweek(ts::DATE) + 1) % 7 AS INT) AS TIMESTAMP) AS t_week_sat
FROM events WHERE event_id < 500
"""


def q_date_trunc_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc decade / century / millennium
    (reference DateTruncate.cpp:219,239,249 — PostgreSQL-style: century
    and millennium start at year x(x)01, decade at year-year%10)."""
    from hdk_spark.functions import date_trunc

    _tables(spark, sf_dir)
    o = spark.table("orders")
    d = F.col("o_orderdate")
    # century/millennium truncs land in year 1001/1901 — outside pandas'
    # datetime64[ns] range — so emit ISO strings (oracle does the same)
    return (
        o.groupBy(
            F.date_format(date_trunc("decade", d), "yyyy-MM-dd").alias("decade"),
            F.date_format(date_trunc("century", d), "yyyy-MM-dd").alias("century"),
            F.date_format(date_trunc("millennium", d), "yyyy-MM-dd").alias("millennium"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("decade")
    )


_TRUNC_EPOCH_ORACLE = """
SELECT strftime(make_date(CAST(year(o_orderdate) - year(o_orderdate) % 10 AS INT), 1, 1), '%Y-%m-%d') AS decade,
       strftime(make_date(CAST((year(o_orderdate) - 1) // 100 * 100 + 1 AS INT), 1, 1), '%Y-%m-%d') AS century,
       strftime(make_date(CAST((year(o_orderdate) - 1) // 1000 * 1000 + 1 AS INT), 1, 1), '%Y-%m-%d') AS millennium,
       count(*) AS n
FROM orders GROUP BY 1,2,3 ORDER BY 1
"""


def q_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG_EXTRACT/DATEPART across the reference field enum
    (reference IR/DateTimeEnums.h:62-82; Utils/ExtractFromTime.cpp)."""
    from hdk_spark.functions import extract

    _tables(spark, sf_dir)
    e = spark.table("events").filter(F.col("event_id") < 500)
    ts = F.col("ts")
    return e.select(
        "event_id",
        extract("year", ts).alias("f_year"),
        extract("quarter", ts).alias("f_quarter"),
        extract("month", ts).alias("f_month"),
        extract("day", ts).alias("f_day"),
        extract("hour", ts).alias("f_hour"),
        extract("minute", ts).alias("f_minute"),
        extract("second", ts).alias("f_second"),
        extract("milli", ts).alias("f_milli"),
        extract("micro", ts).alias("f_micro"),
        extract("dayofweek", ts).alias("f_dow"),
        extract("isodayofweek", ts).alias("f_isodow"),
        extract("dayofyear", ts).alias("f_doy"),
        extract("week", ts).alias("f_week"),
        extract("epoch", ts).alias("f_epoch"),
        extract("quarterday", ts).alias("f_qday"),
    )


_EXTRACT_ORACLE = """
SELECT event_id,
       CAST(year(ts) AS BIGINT)    AS f_year,
       CAST(quarter(ts) AS BIGINT) AS f_quarter,
       CAST(month(ts) AS BIGINT)   AS f_month,
       CAST(day(ts) AS BIGINT)     AS f_day,
       CAST(hour(ts) AS BIGINT)    AS f_hour,
       CAST(minute(ts) AS BIGINT)  AS f_minute,
       CAST(date_part('second', ts) AS BIGINT) AS f_second,
       CAST(floor((epoch_us(ts) % 1000000) / 1000) AS BIGINT) AS f_milli,
       CAST(epoch_us(ts) % 1000000 AS BIGINT) AS f_micro,
       CAST(dayofweek(ts) AS BIGINT) AS f_dow,
       CAST(isodow(ts) AS BIGINT)    AS f_isodow,
       CAST(dayofyear(ts) AS BIGINT) AS f_doy,
       CAST(weekofyear(ts) AS BIGINT) AS f_week,
       CAST(floor(epoch(ts)) AS BIGINT) AS f_epoch,
       CAST(hour(ts) // 6 + 1 AS BIGINT) AS f_qday
FROM events WHERE event_id < 500
"""


# ---------------------------------------------------------------------------
# events: sessionization, tumbling windows, JSON props
# ---------------------------------------------------------------------------


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumsum (window-function
    composition; a Structured Streaming variant lives in
    hdk_spark.streaming)."""
    _tables(spark, sf_dir)
    e = spark.table("events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_seconds(F.col("ts")) - F.unix_seconds(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = e.withColumn(
        "sess_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.countDistinct("sess_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events WHERE user_id < 50
), s AS (
  SELECT user_id,
         SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id, count(DISTINCT sess_id) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""

# identical SQL text on both engines
_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS h, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (beyond-reference;
    the reference has no JSON functions)."""
    _tables(spark, sf_dir)
    e = spark.table("events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(k).alias("n_k"),
        )
        .orderBy("event_type")
    )


_JSON_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k,
       COUNT(CAST(props->>'$.k' AS BIGINT)) AS n_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# LogicalValues
# ---------------------------------------------------------------------------


def q_values_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LogicalValues literal rows (reference IR/Node.h:785)."""
    return spark.createDataFrame(
        [(1, "ALPHA"), (2, "BETA"), (3, "GAMMA")], "id long, name string"
    )


_VALUES_ORACLE = """
SELECT * FROM (VALUES (CAST(1 AS BIGINT),'ALPHA'),(2,'BETA'),(3,'GAMMA')) t(id, name)
"""


# ---------------------------------------------------------------------------
# dedup / similarity / text (beyond-reference pipeline operators)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdk_spark.operators.dedup import exact_dedup

    _tables(spark, sf_dir)
    return exact_dedup(spark.table("documents"), "text", "doc_id")


_DEDUP_EXACT_ORACLE = """
SELECT min(doc_id) AS keep_id, count(*) AS n_dupes FROM documents GROUP BY text
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdk_spark.operators.dedup import ngram_jaccard_pairs

    _tables(spark, sf_dir)
    return ngram_jaccard_pairs(
        spark.table("documents"), "doc_id", "text", n=3, threshold=0.5
    )


_NGRAM_JACCARD_ORACLE = r"""
WITH sh AS (
  SELECT doc_id AS id,
         list_distinct(
           list_transform(
             range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1, 1)),
             i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+2]
           )
         ) AS s_list
  FROM documents
), e AS (
  SELECT id, len(s_list) AS n_sh, unnest(s_list) AS s FROM sh WHERE len(s_list) > 0
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS common
  FROM e a JOIN e b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
"""

_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), (p, q) -> p + q)"
)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdk_spark.operators.dedup import embedding_neardup_pairs

    _tables(spark, sf_dir)
    # LSH candidate generation (the scale path — banded bucket
    # equi-join, never a cross join) + exact rescore. threshold=0.4
    # because the synthetic embeddings carry no planted near-dups (max
    # pairwise cosine ≈ 0.51 at sf0.01 / 0.60 at sf0.1) — 0.4 yields a
    # non-trivial result set. dim=64 is the testdata embedding width
    # (pinned to skip the driver-side dim probe).
    return embedding_neardup_pairs(
        spark.table("embeddings"), "vec_id", "embedding",
        threshold=0.4, mode="lsh", n_planes=8, n_tables=4, seed=7, dim=64,
    )


def _emb_lsh_oracle(
    threshold: float = 0.4,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    dim: int = 64,
) -> str:
    """Exact DuckDB oracle for the LSH-bucketed near-dup pairs: the
    ±1-hyperplane buckets are seed-deterministic constants, so the SAME
    candidate generation (pairs sharing a sign-bucket in ≥1 table) is
    expressed as SQL with inline ±1.0 literal arrays. Dot products fold
    left-to-right in double on both engines → bit-identical buckets and
    cosines; the OR-of-bucket-equalities join is set-equal to the Spark
    side's banded equi-join + dropDuplicates."""
    from hdk_spark.operators.dedup import rademacher_planes

    planes = rademacher_planes(n_planes * n_tables, dim, seed)

    def dot_plane(p: list[float]) -> str:
        lit = "[" + ",".join("1.0" if c > 0 else "-1.0" for c in p) + "]"
        return _DOT.format(a="v", b=lit)

    buckets = []
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN {dot_plane(planes[t * n_planes + i])} >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )
        buckets.append(f"({terms}) AS b{t}")
    bucket_cols = ",\n         ".join(buckets)
    any_match = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
WITH b AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT id, v, sqrt({_DOT.format(a='v', b='v')}) AS norm,
         {bucket_cols}
  FROM b
)
SELECT a.id AS id_a, c.id AS id_b,
       round({_DOT.format(a='a.v', b='c.v')} / (a.norm * c.norm), 6) + 0 AS cosine
FROM n a JOIN n c ON a.id < c.id AND ({any_match})
WHERE {_DOT.format(a='a.v', b='c.v')} / (a.norm * c.norm) >= {threshold}
"""


_EMB_COSINE_ORACLE = _emb_lsh_oracle()


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdk_spark.operators.similarity import cosine_topk

    _tables(spark, sf_dir)
    return cosine_topk(spark.table("embeddings"), [0, 1, 2], k=5)


_SIM_TOPK_ORACLE = f"""
WITH b AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT id, v, sqrt({_DOT.format(a='v', b='v')}) AS norm FROM b
), q AS (
  SELECT id AS qid, v AS qv, norm AS qnorm FROM n WHERE id IN (0, 1, 2)
), scored AS (
  SELECT q.qid, n.id AS neighbor_id,
         {_DOT.format(a='q.qv', b='n.v')} / (q.qnorm * n.norm) AS cos
  FROM q JOIN n ON n.id != q.qid
), ranked AS (
  SELECT qid, neighbor_id,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
         cos
  FROM scored
)
SELECT qid, neighbor_id, rank, round(cos, 6) + 0 AS cosine FROM ranked WHERE rank <= 5
"""


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdk_spark.operators.text import analyze

    _tables(spark, sf_dir)
    return analyze(spark.table("documents"))


_SW = {
    "en": "['the','a','and','of','to','in','is','it','that','for']",
    "de": "['der','die','das','und','ist','ein','eine','zu','mit','von']",
    "fr": "['le','la','les','et','est','un','une','dans','pour','que']",
    "es": "['el','la','los','y','es','un','una','en','por','que']",
}

_TEXT_PROFILE_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks
  FROM documents
), f AS (
  SELECT doc_id, text, toks, ltoks,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct,
         len(list_filter(ltoks, x -> list_contains({_SW['en']}, x))) AS hits_en,
         len(list_filter(ltoks, x -> list_contains({_SW['de']}, x))) AS hits_de,
         len(list_filter(ltoks, x -> list_contains({_SW['fr']}, x))) AS hits_fr,
         len(list_filter(ltoks, x -> list_contains({_SW['es']}, x))) AS hits_es
  FROM t
), g AS (
  SELECT doc_id, text, toks, n_tokens,
         CASE WHEN length(text) > 0
              THEN CAST(n_punct AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio_raw,
         CASE WHEN len(ltoks) > 0
              THEN CAST(hits_en AS DOUBLE) / len(ltoks) ELSE 0.0 END AS sw_ratio_raw,
         greatest(hits_de, hits_en, hits_es, hits_fr) AS max_hits,
         hits_de, hits_en, hits_es, hits_fr
  FROM f
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(toks, w -> CAST(ceil(length(w) / 4) AS BIGINT))),
         (a, b) -> a + b)
         + CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS BIGINT)
         AS n_tokens_bpe,
       round(punct_ratio_raw, 6) AS punct_ratio,
       round(sw_ratio_raw, 6) AS stopword_ratio,
       round(least(length(text) / 500.0, 1.0) * 0.4
             + (1.0 - least(punct_ratio_raw * 5.0, 1.0)) * 0.3
             + least(sw_ratio_raw * 4.0, 1.0) * 0.3, 6) AS quality,
       CASE WHEN max_hits <= 0 THEN 'und'
            WHEN hits_de = max_hits THEN 'de'
            WHEN hits_en = max_hits THEN 'en'
            WHEN hits_es = max_hits THEN 'es'
            ELSE 'fr' END AS lang_pred,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(toks, w -> CAST(ascii(substr(w, 1, 1)) * 10007
                                          + ascii(substr(w, -1, 1)) * 101
                                          + length(w) AS BIGINT))),
         (acc, wv) -> (acc * 1000003 + wv) % 2147483647) AS fingerprint
FROM g
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, fully value-checked: the md5-based
    sketch basis is computable in DuckDB too (md5 + hex cast), so the
    oracle below reproduces signatures, banding, and the agreement
    estimate exactly — candidate generation differs (oracle brute-forces
    all pairs; Spark buckets), but the emitted pair SET is identical.
    Recall vs exact jaccard additionally asserted in tests/test_dedup.py."""
    from hdk_spark.operators.dedup import minhash_lsh_dedup

    _tables(spark, sf_dir)
    # hash_basis='md5' pinned here (production default is crc32 — ~4×
    # cheaper per shingle but not DuckDB-expressible)
    return minhash_lsh_dedup(
        spark.table("documents"), threshold=0.5, hash_basis="md5"
    ).orderBy("id_a", "id_b")


def _minhash_oracle(
    n: int = 3, num_perm: int = 64, bands: int = 16, threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB SQL reproducing minhash_lsh_dedup bit-for-bit: same
    shingles, same md5-derived base hash, same (a·h+b) mod p
    permutation minima (params from the shared _perm_params), band
    equality by true slice comparison (Spark's xxhash64 bucket keys
    collide only at ~2^-64), agreement estimate = matches/num_perm."""
    from hdk_spark.operators.dedup import _MERSENNE, _perm_params

    rpb = num_perm // bands
    params = _perm_params(num_perm, seed)
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE}))"
        for a, b in params
    )
    band_eq = " AND ".join(
        f"sa[b*{rpb}+{r}] = sb[b*{rpb}+{r}]" for r in range(1, rpb + 1)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM documents
), sh AS (
  SELECT id,
         list_distinct(
           list_transform(range(1, greatest(len(tk) - {n - 2}, 1)),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         ) AS s_list
  FROM toks WHERE len(tk) >= {n}
), h AS (
  SELECT id,
         list_transform(s_list,
           s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {_MERSENNE}
         ) AS hs
  FROM sh WHERE len(s_list) > 0
), sig AS (
  SELECT id, [{mins}] AS sg FROM h
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sg AS sa, b.sg AS sb
  FROM sig a JOIN sig b ON a.id < b.id
), scored AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, {num_perm + 1}), i -> sa[i] = sb[i]))
           / {float(num_perm)} AS est,
         len(list_filter(range(0, {bands}), b -> {band_eq})) > 0 AS banded
  FROM pairs
)
SELECT id_a, id_b, round(est, 6) AS jaccard_est
FROM scored WHERE banded AND est >= {threshold}
ORDER BY id_a, id_b
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully value-checked: the md5-derived
    token-hash basis (two 32-bit words from the first 8 md5 bytes) is
    computable in DuckDB, so the oracle reproduces fingerprints and the
    hamming filter exactly; the block-split candidate generation differs
    (oracle brute-forces pairs) but the emitted pair set is identical."""
    from hdk_spark.operators.dedup import simhash_pairs

    _tables(spark, sf_dir)
    # hash_basis='md5' pinned here (production default is xxhash64)
    return (
        simhash_pairs(spark.table("documents"), max_hamming=3, hash_basis="md5")
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB SQL reproducing simhash_pairs bit-for-bit: same md5 word
    split (hi = md5 bytes 1-4 → bits 32-63, lo = bytes 5-8 → bits
    0-31), same +1/-1 bit sums and sign rule, hamming = differing
    fingerprint bits, candidates = pairs agreeing exactly on ≥1 of the
    (max_hamming+1) 16-bit blocks."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    sums = ",\n           ".join(
        "SUM(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END)".format(
            src="lo" if i < 32 else "hi", sh=i % 32
        )
        for i in range(64)
    )
    block_ors = " OR ".join(
        "("
        + " AND ".join(
            f"ba[{bi * width + r}] = bb[{bi * width + r}]"
            for r in range(1, width + 1)
        )
        + ")"
        for bi in range(nblocks)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
  FROM documents
), hashed AS (
  SELECT id,
         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS hi,
         CAST(concat('0x', substr(md5(t), 9, 8)) AS BIGINT) AS lo
  FROM tok
), sums AS (
  SELECT id, [{sums}] AS s
  FROM hashed GROUP BY id
), fp AS (
  SELECT id, list_transform(s, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS b
  FROM sums
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.b AS ba, b.b AS bb
  FROM fp a JOIN fp b ON a.id < b.id
), scored AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, 65), i -> ba[i] <> bb[i])) AS hamming,
         ({block_ors}) AS banded
  FROM pairs
)
SELECT id_a, id_b, hamming FROM scored
WHERE banded AND hamming <= {max_hamming}
ORDER BY id_a, id_b
"""


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k, fully value-checked: the coarse
    quantizer trains with the deterministic distributed k-means
    (clustering.kmeans_centroids — hash init, decimal-exact sums), and
    assignment/probing/rescoring run as fold-based JVM expressions, so
    the DuckDB oracle reproduces the inverted lists, the nprobe probe
    set, and the exact-cosine top-k bit-for-bit. Recall vs exact
    additionally asserted in tests/test_similarity.py."""
    from hdk_spark.operators.clustering import kmeans_centroids
    from hdk_spark.operators.similarity import ann_ivf_topk

    _tables(spark, sf_dir)
    emb = spark.table("embeddings")
    cents = kmeans_centroids(emb, k=16, iters=2, seed=0)
    return _ordered(ann_ivf_topk(
        emb, [0, 1, 2], k=5, n_lists=16, nprobe=4, centroids=cents
    ), "qid", "rank")


def _ann_ivf_oracle(
    query_ids: list[int], k: int = 5, n_lists: int = 16, nprobe: int = 4,
    iters: int = 2, dim: int = 64,
) -> str:
    """DuckDB SQL reproducing the oracle-checkable IVF path end-to-end:
    the deterministic k-means rounds (same machinery as the
    embedding_kmeans oracle), corpus assignment to inverted lists,
    per-query nprobe nearest lists by (distance, id), and exact-cosine
    top-k over the probed candidates — every float passes through the
    same left-to-right folds as the Spark expressions."""
    from hdk_spark.operators.sampling import hash_bucket_sql

    hb = hash_bucket_sql("vec_id", 1000000007, 0)
    dist = (
        "list_reduce(list_transform(list_zip(e.embedding, c.embedding),"
        " x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
        " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (p, q) -> p + q)"
    )
    assign = """
{name} AS (
  SELECT vec_id, embedding, c FROM (
    SELECT e.vec_id, e.embedding, c.c,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.c) AS rn
    FROM embeddings e CROSS JOIN {cents} c
  ) t WHERE rn = 1
)"""
    update = """
{name} AS (
  SELECT c, list(d_avg ORDER BY d) AS embedding FROM (
    SELECT a.c, dd.d,
           CAST(sum(CAST(CAST(a.embedding[dd.d] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
             / count(*) AS d_avg
    FROM {assigned} a CROSS JOIN (SELECT unnest(range(1, {dimp1})) AS d) dd
    GROUP BY a.c, dd.d
  ) s GROUP BY c
)"""
    ctes = [
        "init AS (\n"
        f"  SELECT embedding, row_number() OVER (ORDER BY {hb}, vec_id) - 1 AS c\n"
        f"  FROM embeddings ORDER BY {hb}, vec_id LIMIT {n_lists}\n)"
    ]
    cents_name = "init"
    for r in range(1, iters + 1):
        ctes.append(assign.format(name=f"a{r}", dist=dist, cents=cents_name))
        ctes.append(update.format(name=f"c{r}", assigned=f"a{r}", dimp1=dim + 1))
        cents_name = f"c{r}"
    self_dot = (
        "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)"
        " * CAST(x AS DOUBLE)), (a, b) -> a + b)"
    )
    cross_dot = (
        "list_reduce(list_transform(list_zip(q.v, b.v), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    qids = ", ".join(str(q) for q in query_ids)
    ctes.append(assign.format(name="asg", dist=dist, cents=cents_name))
    ctes.append(f"""
base AS (
  SELECT vec_id AS id, embedding AS v, sqrt({self_dot}) AS norm,
         c AS list_id
  FROM asg
)""")
    ctes.append(f"""
probes AS (
  SELECT qid, qlist FROM (
    SELECT e.vec_id AS qid, c.c AS qlist,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.c) AS rn
    FROM embeddings e CROSS JOIN {cents_name} c
    WHERE e.vec_id IN ({qids})
  ) t WHERE rn <= {nprobe}
)""")
    return (
        "WITH "
        + ",".join(ctes)
        + f""",
scored AS (
  SELECT q.id AS qid, b.id AS neighbor_id,
         {cross_dot} / (q.norm * b.norm) AS cosine
  FROM base b
  JOIN probes p ON b.list_id = p.qlist
  JOIN base q ON q.id = p.qid AND b.id <> q.id
), ranked AS (
  SELECT qid, neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id)
           AS rank
  FROM scored
)
SELECT qid, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(cosine, 6) + 0 AS cosine
FROM ranked WHERE rank <= {k} ORDER BY qid, rank
"""
    )


def q_temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond-reference; pandas merge_asof / DuckDB ASOF
    JOIN semantics): each event picks up the latest purchase snapshot
    of its user at-or-before its timestamp. Spark impl is the
    union+window one-shuffle formulation (operators/temporal.py)."""
    from hdk_spark.operators.temporal import asof_join

    _tables(spark, sf_dir)
    e = spark.table("events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("pvalue"))
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        purchases,
        on="ts",
        by="user_id",
        right_cols=["pvalue"],
    )
    return joined.select("event_id", "ts_right", "pvalue_right")


_ASOF_ORACLE = """
WITH p AS (
  SELECT user_id, ts, round(max(value), 6) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT e.event_id, p.ts AS ts_right, p.pvalue AS pvalue_right
FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
"""


def q_temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (interval containment, no equi key): lineitem ship
    dates against month intervals derived from orders. Bucketized
    equi-join implementation (operators/temporal.py)."""
    from hdk_spark.operators.temporal import range_join

    _tables(spark, sf_dir)
    ranges = (
        spark.table("orders")
        .select(F.date_trunc("month", F.col("o_orderdate")).alias("mstart"))
        .distinct()
        .withColumn("mend", F.col("mstart") + F.expr("INTERVAL 1 MONTH"))
    )
    li = spark.table("lineitem").select("l_shipdate", "l_quantity")
    joined = range_join(
        li, ranges, "l_shipdate", "mstart", "mend", granularity_seconds=7 * 86400
    )
    return (
        joined.groupBy("mstart")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sq"))
        .orderBy("mstart")
    )


_RANGE_JOIN_ORACLE = """
WITH r AS (
  SELECT DISTINCT date_trunc('month', o_orderdate) AS mstart,
         date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS mend
  FROM orders
)
SELECT mstart, count(*) AS n, SUM(l_quantity) AS sq
FROM lineitem JOIN r ON l_shipdate >= mstart AND l_shipdate < mend
GROUP BY 1 ORDER BY 1
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode profile: documents → opaque bytes + typed
    metadata → Arrow-batched mapInPandas decode. byte_len is computable
    in DuckDB (octet_length over the UTF-8 payload), so this gets a
    full value oracle; the pixel stats come from the stubbed codec and
    are checked for determinism in tests/test_multimodal.py."""
    from hdk_spark.operators.multimodal import decode_image, synth_media_from_documents

    _tables(spark, sf_dir)
    media = synth_media_from_documents(spark.table("documents"), "image")
    return decode_image(media).select(
        "media_id",
        "byte_len",
        F.col("meta.width").alias("meta_width"),
        F.col("meta.channels").alias("meta_channels"),
    )


_MULTIMODAL_ORACLE = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS byte_len,
       CAST(length(text) % 640 + 16 AS INT) AS meta_width,
       3 AS meta_channels
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the demux kernel (mapInPandas).
    Value-checked: the synthetic payload spec is deterministic
    (n_frames = len(text) % 300 + 1; frame fi = payload bytes
    [(fi·16) mod len, +16)), so the oracle recomputes every sampled
    frame's index, byte length, and hex digest from the documents
    table — the per-frame bytes crossing the Arrow boundary are what
    gets checked, not just row counts."""
    from hdk_spark.operators.multimodal import sample_frames, synth_media_from_documents

    _tables(spark, sf_dir)
    videos = synth_media_from_documents(spark.table("documents"), "video")
    frames = sample_frames(videos, every_n=30)
    return frames.select(
        "media_id",
        "frame_idx",
        F.octet_length("frame").cast("long").alias("frame_len"),
        F.hex("frame").alias("frame_hex"),
    ).orderBy("media_id", "frame_idx")


# Recomputes the stub demux arithmetic byte-for-byte: payload = UTF-8
# text bytes, sliced at (frame_idx*16) mod max(1,len) for 16 bytes —
# expressed over the hex encoding since DuckDB's substring is
# VARCHAR-only (hex(blob) is uppercase on both engines).
_MULTIMODAL_FRAMES_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         hex(encode(text)) AS datahex,
         octet_length(encode(text)) AS dlen,
         length(text) % 300 + 1 AS n_frames
  FROM documents
), f AS (
  SELECT media_id, datahex, dlen,
         unnest(range(0, n_frames, 30)) AS frame_idx
  FROM m
)
SELECT media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(length(substring(datahex,
                             ((frame_idx * 16) % greatest(dlen, 1)) * 2 + 1,
                             32)) / 2 AS BIGINT) AS frame_len,
       substring(datahex,
                 ((frame_idx * 16) % greatest(dlen, 1)) * 2 + 1,
                 32) AS frame_hex
FROM f
ORDER BY media_id, frame_idx
"""


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH approximate top-k, fully value-checked: the
    hyperplanes are deterministic literals and every dot product is a
    fixed left-to-right fold, so DuckDB reproduces buckets, candidates,
    exact-cosine rescoring, and ranking bit-for-bit (the oracle
    brute-forces the candidate test where production equi-joins on
    bucket ids). Recall vs exact additionally asserted in
    tests/test_similarity.py."""
    from hdk_spark.operators.similarity import ann_lsh_topk

    _tables(spark, sf_dir)
    # deterministic=True pinned: fold-based JVM bucket bits + norms so
    # the oracle's strict left-fold dots agree bit-for-bit (production
    # default uses one vectorized numpy pass per Arrow batch)
    return _ordered(ann_lsh_topk(
        spark.table("embeddings"), [0, 1, 2], k=5, deterministic=True
    ), "qid", "rank")


def _ann_lsh_oracle(
    query_ids: list[int], k: int = 5, n_planes: int = 4, n_tables: int = 8,
    seed: int = 42, dim: int = 64,
) -> str:
    """DuckDB SQL reproducing ann_lsh_topk on the driver fixture
    (embeddings are 64-d): same deterministic hyperplanes
    (_hyperplanes), same sign-bucket ids, candidates = pairs sharing
    ANY table's bucket, exact cosine via the same left-fold dot, same
    (cosine desc, id) ranking. The Spark kernel computes bucket dots
    with a numpy matmul whose pairwise summation can differ from the
    fold in the last bits — sign flips require |dot| ~ 1e-15, which the
    O(1)-magnitude synthetic dots never approach."""
    from hdk_spark.operators.similarity import _hyperplanes

    def dot_sql(vec_expr: str, coeffs: list[float]) -> str:
        lits = ", ".join(repr(float(c)) for c in coeffs)
        return (
            f"list_reduce(list_transform(list_zip({vec_expr}, [{lits}]), "
            "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a, b) -> a + b)"
        )

    tables = [_hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)]
    bucket_cols = []
    for t, planes in enumerate(tables):
        terms = " + ".join(
            f"(CASE WHEN {dot_sql('v', plane)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p, plane in enumerate(planes)
        )
        bucket_cols.append(f"({terms}) AS b{t}")
    any_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(n_tables))
    qids = ", ".join(str(q) for q in query_ids)
    self_dot = (
        "list_reduce(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " (a, b) -> a + b)"
    )
    cross_dot = (
        "list_reduce(list_transform(list_zip(q.v, c.v), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding AS v,
         sqrt({self_dot}) AS norm,
         {", ".join(bucket_cols)}
  FROM embeddings
), q AS (
  SELECT * FROM base WHERE id IN ({qids})
), scored AS (
  SELECT q.id AS qid, c.id AS neighbor_id,
         {cross_dot} / (q.norm * c.norm) AS cosine
  FROM q JOIN base c ON c.id <> q.id AND ({any_match})
), ranked AS (
  SELECT qid, neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id)
           AS rank
  FROM scored
)
SELECT qid, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(cosine, 6) + 0 AS cosine
FROM ranked WHERE rank <= {k} ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# batch 3: window analytics, strings, casts, subqueries, set ops
# ---------------------------------------------------------------------------

# identical SQL text on both engines
_WINDOW_ANALYTICS_SQL = """
SELECT o_orderkey,
       CAST(NTILE(4) OVER w AS BIGINT)             AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6)             AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6)                AS cume,
       FIRST_VALUE(o_orderkey) OVER w              AS first_key,
       LAST_VALUE(o_orderkey) OVER w               AS last_key,
       LAG(o_orderkey, 2) OVER w                   AS lag2,
       LEAD(o_orderkey, 3) OVER w                  AS lead3
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
"""

# identical text: correlated scalar subquery (reference
# CorrelatedSubqueryTest.cpp; ScalarSubquery IR/Expr.h:415)
_CORRELATED_SQL = """
SELECT c_custkey,
       (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
       (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
FROM customer
WHERE c_custkey <= 500
ORDER BY c_custkey
"""

# identical text: n-ary UNION ALL (reference LogicalUnion is n-ary,
# IR/Node.h:849)
_UNION_NARY_SQL = """
SELECT kind, COUNT(*) AS n FROM (
  SELECT 'c' AS kind, c_nationkey AS k FROM customer
  UNION ALL
  SELECT 's' AS kind, s_nationkey AS k FROM supplier
  UNION ALL
  SELECT 'n' AS kind, n_regionkey AS k FROM nation
) u GROUP BY kind ORDER BY kind
"""

# identical text: HAVING (filter over aggregate node)
_HAVING_SQL = """
SELECT l_partkey, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
FROM lineitem
GROUP BY l_partkey
HAVING COUNT(*) >= 8 AND SUM(l_quantity) > 200
ORDER BY l_partkey
"""

# identical text: DISTINCT projection (aggregate with no agg exprs)
_DISTINCT_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber
FROM lineitem ORDER BY 1, 2, 3
"""

# identical text: decimal arithmetic + scale propagation (aggregation
# runs in exact DECIMAL; final outputs cast to DOUBLE because decimal
# values normalize differently across engine->pandas bridges)
_DECIMAL_AGG_SQL = """
SELECT l_linenumber,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_dec,
       CAST(CAST(AVG(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS DOUBLE) AS avg_dec,
       CAST(MIN(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS min_disc,
       CAST(MAX(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS max_tax
FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
"""


def q_string_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / ILIKE (escape) / REGEXP_LIKE / || / SUBSTRING — the full
    reference string surface (reference IR/Expr.h:636 LikeExpr, :671
    RegexpExpr; StringFunctions.cpp; '||' concat)."""
    _tables(spark, sf_dir)
    p = spark.table("part")
    name = F.col("p_name")
    return (
        p.select(
            "p_partkey",
            name.like("%gold%").alias("has_gold"),
            name.ilike("%GOLD%").alias("has_gold_i"),
            name.rlike("^[a-m]").alias("starts_a_to_m"),
            F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
            F.substring(name, 1, 8).alias("prefix8"),
            F.length(name).cast("long").alias("name_len"),
            F.lower(F.col("p_type")).alias("type_lower"),
        )
        .filter(F.col("p_partkey") <= 2000)
    )


_STRING_LIKE_ORACLE = """
SELECT p_partkey,
       p_name LIKE '%gold%'  AS has_gold,
       p_name ILIKE '%GOLD%' AS has_gold_i,
       regexp_matches(p_name, '^[a-m]') AS starts_a_to_m,
       p_brand || '/' || p_type AS brand_type,
       substring(p_name, 1, 8) AS prefix8,
       CAST(length(p_name) AS BIGINT) AS name_len,
       lower(p_type) AS type_lower
FROM part WHERE p_partkey <= 2000
"""


def q_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST across the numeric/string/temporal directions (reference
    QueryEngine/CastIR.cpp). C++/Spark double→int truncates toward
    zero; the DuckDB oracle mirrors with trunc()."""
    _tables(spark, sf_dir)
    c = spark.table("customer").filter(F.col("c_custkey") <= 1000)
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        bal.cast("int").alias("bal_int"),
        bal.cast("decimal(12,2)").cast("double").alias("bal_dec"),
        bal.cast("string").alias("bal_str"),
        F.col("c_custkey").cast("double").alias("key_dbl"),
        F.col("c_custkey").cast("string").alias("key_str"),
        F.col("c_name").substr(10, 5).cast("int").alias("name_num"),
    )


_CAST_ORACLE = """
SELECT c_custkey,
       CAST(trunc(c_acctbal) AS INT) AS bal_int,
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_dec,
       CAST(c_acctbal AS VARCHAR) AS bal_str,
       CAST(c_custkey AS DOUBLE) AS key_dbl,
       CAST(c_custkey AS VARCHAR) AS key_str,
       CAST(substring(c_name, 10, 5) AS INT) AS name_num
FROM customer WHERE c_custkey <= 1000
"""


# ---------------------------------------------------------------------------
# batch 4: theta joins, EXISTS, correlated-min, conditional agg,
# expression group keys, array construction
# ---------------------------------------------------------------------------

# identical text: pure non-equi condition → nested-loop join (the
# reference's JoinLoop fallback path, QueryEngine/LoopControlFlow/
# JoinLoop.cpp, gated by allow_loop_joins on tiny inputs)
_THETA_JOIN_SQL = """
SELECT a.n_name AS name_a, b.n_name AS name_b
FROM nation a JOIN nation b ON a.n_regionkey < b.n_regionkey
ORDER BY name_a, name_b
"""

# identical text: EXISTS form of semi join (TPC-H Q4 shape)
_EXISTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

# identical text: correlated MIN subquery in WHERE (TPC-H Q2 shape,
# adapted to lineitem since the driver tables have no partsupp)
_CORRELATED_MIN_SQL = """
SELECT l_partkey, l_suppkey, l_extendedprice
FROM lineitem l1
WHERE l_partkey <= 200
  AND l_extendedprice = (SELECT MIN(l2.l_extendedprice) FROM lineitem l2
                         WHERE l2.l_partkey = l1.l_partkey)
ORDER BY l_partkey, l_suppkey, l_extendedprice
"""

# identical text: conditional aggregation ratio (TPC-H Q14 shape)
_PROMO_SQL = """
SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
       ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
         AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY yr
"""

# identical text: expression-valued group keys (reference
# IR/Node.h:376 — group keys may be arbitrary exprs)
_EXPR_GROUP_KEY_SQL = """
SELECT l_quantity % 10 AS qmod, l_linenumber * 2 AS ln2,
       COUNT(*) AS n, SUM(l_quantity) AS sq
FROM lineitem
GROUP BY l_quantity % 10, l_linenumber * 2
ORDER BY qmod, ln2
"""


# identical text: INTERVAL literal arithmetic (reference
# DATETIME_PLUS / INTERVAL_* ops, IR/DateTimeEnums.h:21-39)
_INTERVAL_ARITH_SQL = """
SELECT o_orderkey,
       o_orderdate + INTERVAL 1 YEAR   AS plus_1y,
       o_orderdate + INTERVAL 2 MONTH  AS plus_2mo,
       o_orderdate - INTERVAL 10 DAY   AS minus_10d,
       o_orderdate + INTERVAL 12 HOUR  AS plus_12h
FROM orders WHERE o_orderkey <= 500
"""

# identical text: aggregates over zero input rows (reference
# Tests/ArrowBasedExecuteTest.cpp AggregateOnEmptyTable — COUNT=0,
# SUM/AVG/MIN/MAX=NULL)
_AGG_EMPTY_SQL = """
SELECT COUNT(*) AS n, COUNT(l_quantity) AS n_vals,
       SUM(l_quantity) AS s, MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
FROM lineitem WHERE l_orderkey < 0
"""

# identical text: NULL group keys form their own group (reference
# GroupByBoundariesAndNull)
_GROUPBY_NULL_KEY_SQL = """
SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg,
       COUNT(*) AS n, COUNT(c_acctbal) AS n_bal
FROM customer GROUP BY 1 ORDER BY seg NULLS FIRST
"""

# identical text: boolean + empty-string group keys (reference
# BooleanColumn, EmptyString)
_GROUPBY_BOOL_EMPTY_SQL = """
SELECT l_quantity > 25 AS big,
       CASE WHEN l_linenumber = 1 THEN '' ELSE 'x' END AS tag,
       COUNT(*) AS n
FROM lineitem GROUP BY 1, 2 ORDER BY big, tag
"""


def q_array_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY[...] literal + array_append + ITEM over the result
    (reference ArrayExpr IR/Expr.h:1090; array_append
    ExtensionFunctionsArray.hpp:52)."""
    from hdk_spark.functions import item

    _tables(spark, sf_dir)
    n = spark.table("nation")
    arr = F.array(F.col("n_nationkey"), F.col("n_regionkey"))
    appended = F.array_append(arr, F.col("n_nationkey") + F.col("n_regionkey"))
    # arrays surface as comma-joined strings: the driver's value-hash
    # canonicalizer can't sort array cells (elements are bigints, so
    # int→string formatting is identical on both engines)
    return n.select(
        "n_nationkey",
        F.array_join(arr, ",").alias("pair"),
        F.array_join(appended, ",").alias("triple"),
        item(appended, 3).alias("third"),
        F.size(appended).cast("long").alias("n_elems"),
    ).orderBy("n_nationkey")


_ARRAY_CONSTRUCT_ORACLE = """
SELECT n_nationkey,
       array_to_string([n_nationkey, n_regionkey], ',') AS pair,
       array_to_string(list_append([n_nationkey, n_regionkey], n_nationkey + n_regionkey), ',') AS triple,
       list_append([n_nationkey, n_regionkey], n_nationkey + n_regionkey)[3] AS third,
       CAST(3 AS BIGINT) AS n_elems
FROM nation ORDER BY n_nationkey
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long): three lineitem measures melt into
    (measure, value) rows, then aggregate per returnflag × measure.
    Spark-native form is the stack() table generator; oracle is the
    equivalent UNION ALL."""
    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'qty', l_quantity, 'price', l_extendedprice,"
            " 'discount', l_discount) AS (measure, value)"
        ),
    )
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("l_returnflag", "measure")
    )


_UNPIVOT_ORACLE = """
SELECT l_returnflag, measure, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM (
  SELECT l_returnflag, 'qty' AS measure, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', l_discount FROM lineitem
) u
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (wide aggregation): per user-bucket event counts spread
    across event-type columns — groupBy().pivot() is the Spark-native
    form; the oracle is the equivalent conditional aggregation
    (beyond-reference: HDK's Calcite bridge has no PIVOT)."""
    _tables(spark, sf_dir)
    e = spark.table("events").withColumn("bucket", F.col("user_id") % 10)
    return (
        e.groupBy("bucket")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "purchase", "view"])
        .orderBy("bucket")
    )


_PIVOT_ORACLE = """
SELECT user_id % 10 AS bucket,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY 1 ORDER BY 1
"""


def q_streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState:
    per-key running event count + last-seen timestamp — the reference
    has NO streaming operators at all, SURVEY §2.10). Driven to
    completion, the final state per key equals the batch aggregate, so
    it gets a full value oracle despite being an imperative stateful
    op."""
    from hdk_spark.streaming import running_counts_stateful

    s = _events_stream(spark, sf_dir).filter(F.col("user_id") < 100)
    counts = running_counts_stateful(s, "user_id", "ts")
    name = _run_stream(counts, "update")
    # update-mode sink may hold one row per key per micro-batch; the
    # final state is the max running count / latest timestamp
    return (
        spark.table(name)
        .groupBy("key")
        .agg(F.max("n_events").alias("n_events"), F.max("last_ts").alias("last_ts"))
        .orderBy("key")
    )


_STREAMING_STATEFUL_ORACLE = """
SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n_events,
       MAX(ts) AS last_ts
FROM events WHERE user_id < 100
GROUP BY 1 ORDER BY 1
"""


def q_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine great-circle distance (reference
    ExtensionFunctions.hpp:428 distance_in_meters) over synthetic
    coordinates derived from events columns. Rounded to 0.1 m: JVM and
    libm trig differ by ≤2e-8 m on this data, 50× inside the rounding
    margin (measured at every SF)."""
    from hdk_spark.functions.scalar import distance_in_meters

    _tables(spark, sf_dir)
    e = spark.table("events")
    lat1 = (F.col("user_id") % 170 - 85) + F.col("value") / 1000
    lon1 = (F.col("event_id") % 350 - 175) + F.col("value") / 500
    lat2 = (F.col("user_id") % 80 - 40) - F.col("value") / 700
    lon2 = (F.col("event_id") % 300 - 150) + F.col("value") / 900
    return e.select(
        "event_id",
        F.round(distance_in_meters(lon1, lat1, lon2, lat2), 1).alias("dist_m"),
    )


_GEO_DISTANCE_ORACLE = """
SELECT event_id,
 round(6372797.560856 * (2.0 * asin(sqrt(
   pow(sin(radians(((user_id % 170 - 85) + value/1000)
           - ((user_id % 80 - 40) - value/700)) * 0.5), 2)
   + cos(radians((user_id % 170 - 85) + value/1000))
     * cos(radians((user_id % 80 - 40) - value/700))
     * pow(sin(radians(((event_id % 350 - 175) + value/500)
               - ((event_id % 300 - 150) + value/900)) * 0.5), 2)
 ))), 1) AS dist_m
FROM events
"""


# ---------------------------------------------------------------------------
# Structured Streaming driver-contract queries (§2.10 beyond-reference).
# Each runs a real streaming query (file source → event-time stateful op →
# memory sink) to completion with trigger(availableNow=True), then returns
# the sink as a batch DataFrame. With complete output mode the final result
# is input-determined, so a plain batch DuckDB oracle value-checks it.
# ---------------------------------------------------------------------------

_STREAM_RUN_N = 0


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded-stream source: explicit schema from
    the batch reader (ts normalized to µs TimestampType exactly like
    load_tables)."""
    import hashlib
    import tempfile

    from hdk_spark.streaming import stream_parquet

    _tables(spark, sf_dir)  # sets nanosAsLong + registers batch views
    path = os.path.join(sf_dir, "events.parquet")
    # the file stream source requires a directory: stage a symlink dir
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"hdk_stream_src_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    schema = spark.read.parquet(path).schema
    s = stream_parquet(spark, stage, schema)
    ts_type = dict(s.dtypes).get("ts")
    if ts_type == "bigint":
        s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark/event-time ops require TIMESTAMP; the UTC
        # session tz (pinned in load_tables) makes the cast value-
        # preserving vs DuckDB's naive read of the same parquet.
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def _run_stream(stream_df: DataFrame, output_mode: str) -> str:
    from hdk_spark.streaming import run_to_memory

    global _STREAM_RUN_N
    _STREAM_RUN_N += 1
    name = f"__hdk_stream_sink_{_STREAM_RUN_N}"
    run_to_memory(stream_df, name, output_mode=output_mode)
    return name


def q_streaming_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows over the events stream
    (watermarked groupBy window — state bounded for unbounded input),
    driven to completion and compared against the batch date_trunc
    aggregation oracle."""
    from hdk_spark.streaming import tumbling_agg

    s = _events_stream(spark, sf_dir)
    agg = tumbling_agg(
        s,
        "ts",
        "1 hour",
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ],
        group_cols=["event_type"],
    )
    name = _run_stream(agg, "complete")
    return spark.table(name).select("window_start", "event_type", "n", "sum_value")


_STREAMING_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) on the events stream via
    F.session_window — the streaming-native form of events_sessionize;
    per-user session/event counts must equal the batch lag+cumsum
    oracle."""
    from hdk_spark.streaming import sessionize

    s = _events_stream(spark, sf_dir).filter(F.col("user_id") < 50)
    sess = sessionize(
        s,
        "ts",
        ["user_id"],
        gap="30 minutes",
        agg_exprs=[F.count(F.lit(1)).alias("n_events")],
    )
    name = _run_stream(sess, "complete")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


_STREAMING_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events WHERE user_id < 50
), s AS (
  SELECT user_id,
         SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id, count(DISTINCT sess_id) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""


def q_streaming_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 min over the events stream
    (overlapping event-time windows — each event lands in 4). Oracle:
    the explode-k batch formulation (verified identical to Spark's own
    F.window batch semantics)."""
    from hdk_spark.streaming import sliding_agg

    s = _events_stream(spark, sf_dir)
    agg = sliding_agg(
        s,
        "ts",
        "1 hour",
        "15 minutes",
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ],
    )
    name = _run_stream(agg, "complete")
    return spark.table(name).select("window_start", "n", "sum_value")


_STREAMING_SLIDING_ORACLE = """
SELECT make_timestamp(CAST((floor(epoch(ts)/900)*900 - k*900) AS BIGINT) * 1000000)
         AS window_start,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events, range(4) r(k)
WHERE epoch(ts) < floor(epoch(ts)/900)*900 - k*900 + 3600
GROUP BY 1
"""


def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicates on key columns) over the
    events stream, then a per-type count — equals batch DISTINCT +
    GROUP BY."""
    from hdk_spark.streaming import stream_dedup

    s = _events_stream(spark, sf_dir).select("user_id", "event_type")
    d = stream_dedup(s, ["user_id", "event_type"])
    name = _run_stream(d, "append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_user_type_pairs"))
        .orderBy("event_type")
    )


_STREAMING_DEDUP_ORACLE = """
SELECT event_type, COUNT(*) AS n_user_type_pairs
FROM (SELECT DISTINCT user_id, event_type FROM events) t
GROUP BY event_type ORDER BY event_type
"""



SPARK_IMPLS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "agg_quantile_modes": q_agg_quantile_modes,
    "agg_topk_bottomk": q_agg_topk,
    "agg_sample_single_value": q_agg_sample_single,
    "agg_moments": q_agg_moments,
    "agg_approx": q_agg_approx,
    "expr_bitwise_div": q_expr_bitwise_div,
    "expr_null_safe_in": q_expr_null_safe,
    "expr_width_bucket_sample": q_expr_width_bucket_sample,
    "array_item_cardinality": q_array_item_cardinality,
    "array_unnest": q_unnest_explode,
    "date_add_diff": q_date_add_diff,
    "date_trunc_exotic": q_date_trunc_exotic_ts,
    "date_trunc_epochs": q_date_trunc_epochs,
    "date_extract_fields": q_extract_fields,
    "events_sessionize": q_events_sessionize,
    "events_json_props": q_json_props,
    "values_literal": q_values_literal,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "similarity_cosine_topk": q_similarity_topk,
    "text_profile": q_text_profile,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "similarity_ann_lsh": q_similarity_ann_lsh,
    "similarity_ann_ivf": q_similarity_ann_ivf,
    "temporal_asof_join": q_temporal_asof_join,
    "temporal_range_join": q_temporal_range_join,
    "streaming_tumbling_agg": q_streaming_tumbling_agg,
    "streaming_sessionize": q_streaming_sessionize,
    "streaming_sliding_agg": q_streaming_sliding_agg,
    "streaming_dedup_counts": q_streaming_dedup_counts,
    "streaming_stateful_counts": q_streaming_stateful_counts,
    "pivot_event_types": q_pivot_event_types,
    "unpivot_measures": q_unpivot_measures,
    "geo_distance": q_geo_distance,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_frames": q_multimodal_frames,
    "string_like_regex": q_string_like_regex,
    "cast_matrix": q_cast_matrix,
    "array_construct": q_array_construct,
}

ORACLES: dict[str, str] = {
    "agg_quantile_modes": _QUANTILE_ORACLE,
    "agg_topk_bottomk": _TOPK_ORACLE,
    "agg_sample_single_value": _SAMPLE_ORACLE,
    "agg_moments": _MOMENTS_ORACLE,
    "expr_bitwise_div": _BITWISE_ORACLE,
    "expr_null_safe_in": _NULL_SAFE_ORACLE,
    "expr_width_bucket_sample": _WIDTH_BUCKET_ORACLE,
    "array_item_cardinality": _ARRAY_ITEM_ORACLE,
    "array_unnest": _UNNEST_ORACLE,
    "date_add_diff": _DATE_ADD_ORACLE,
    "date_trunc_exotic": _TRUNC_TS_ORACLE,
    "date_trunc_epochs": _TRUNC_EPOCH_ORACLE,
    "date_extract_fields": _EXTRACT_ORACLE,
    "events_sessionize": _SESSIONIZE_ORACLE,
    "events_json_props": _JSON_ORACLE,
    "values_literal": _VALUES_ORACLE,
    "dedup_exact": _DEDUP_EXACT_ORACLE,
    "dedup_ngram_jaccard": _NGRAM_JACCARD_ORACLE,
    "dedup_embedding_cosine": _EMB_COSINE_ORACLE,
    "similarity_cosine_topk": _SIM_TOPK_ORACLE,
    "text_profile": _TEXT_PROFILE_ORACLE,
    "multimodal_decode": _MULTIMODAL_ORACLE,
    "string_like_regex": _STRING_LIKE_ORACLE,
    "cast_matrix": _CAST_ORACLE,
    "array_construct": _ARRAY_CONSTRUCT_ORACLE,
    "temporal_asof_join": _ASOF_ORACLE,
    "temporal_range_join": _RANGE_JOIN_ORACLE,
    "streaming_tumbling_agg": _STREAMING_TUMBLING_ORACLE,
    "streaming_sessionize": _STREAMING_SESSIONIZE_ORACLE,
    "streaming_sliding_agg": _STREAMING_SLIDING_ORACLE,
    "streaming_dedup_counts": _STREAMING_DEDUP_ORACLE,
    "streaming_stateful_counts": _STREAMING_STATEFUL_ORACLE,
    "pivot_event_types": _PIVOT_ORACLE,
    "unpivot_measures": _UNPIVOT_ORACLE,
    "geo_distance": _GEO_DISTANCE_ORACLE,
    # round 4: the last two rows-only queries, upgraded to checked
    "agg_approx": _AGG_APPROX_ORACLE,
    "multimodal_frames": _MULTIMODAL_FRAMES_ORACLE,
}

# ---------------------------------------------------------------------------
# TPC-H shape batch 2 (Q7/Q8/Q9/Q10/Q13/Q14/Q15/Q17/Q18/Q19, adapted to the
# driver's trimmed schema — no partsupp, no l_shipmode/commitdate/receiptdate,
# no c_phone/o_comment; filters rewritten onto existing columns).
#
# Float determinism contract: every SUM over prices goes through
# CAST(... AS DECIMAL(18,2)) so partial-aggregation order can't change the
# result; only the final value is cast to DOUBLE. Ratios divide two such
# doubles (exact inputs → identical quotient on both engines).
# ---------------------------------------------------------------------------

_DEC = "CAST({c} AS DECIMAL(18,2))"
_DISC = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)

_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# Q22 adapted (no c_phone): "country" is derived from the custkey; the
# threshold subquery computes AVG as exact-decimal-sum / count so both
# engines compare against the identical double.
_Q22_SQL = """
SELECT cntry, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
    SELECT c_custkey % 10 AS cntry, c_acctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
) t
GROUP BY cntry
ORDER BY cntry
"""

_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
           {_DISC} AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

_Q8_SQL = f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           {_DISC} AS volume,
           n2.n_name AS nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
      AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""

_Q9_SQL = f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           {_DISC} AS amount
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""

_Q10_SQL = f"""
SELECT c_custkey, c_name,
       CAST(SUM({_DISC}) AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
                     AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

_Q14_SQL = f"""
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC}
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
         / CAST(SUM({_DISC}) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""

_Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM({_DISC}) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

# Q17 in its de-correlated form, with the avg-threshold predicate
# rewritten multiplication-only (qty * 5 * cnt < sum_qty) so no engine
# ever divides: exact decimal/integer arithmetic end-to-end.
_Q17_SQL = f"""
WITH per_part AS (
    SELECT l_partkey AS pk,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
           COUNT(*) AS cn
    FROM lineitem
    GROUP BY l_partkey
)
SELECT CAST(SUM({_DEC.format(c='l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN per_part ON pk = l_partkey
WHERE p_brand = 'Brand#2'
  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cn < sq
"""

_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       SUM(l_quantity) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

_Q19_SQL = f"""
SELECT CAST(SUM({_DISC}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""

# ---------------------------------------------------------------------------
# SQL surface beyond the reference's planner (HDK's Calcite bridge rejects
# GROUPING SETS / ROLLUP / CUBE / INTERSECT / EXCEPT — reference
# omniscidb/Calcite/ — but a Spark-first engine gets them natively, so they
# ship as first-class, oracle-checked surface).
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
"""

_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
"""

_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) AS g_st, GROUPING(o_orderpriority) AS g_pr,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority
"""

# Extended string surface — the reference's string layer is LOWER/
# LENGTH/SUBSTRING/||/LIKE only (SURVEY §2.8 "No UPPER/TRIM/REPLACE/
# SPLIT"); a text pipeline needs the rest.
_STRING_EXTENDED_SQL = """
SELECT p_brand,
       UPPER(p_name)                         AS uname,
       TRIM(CONCAT('  ', p_name, '  '))      AS trimmed,
       REPLACE(p_name, ' ', '_')             AS snake,
       LEFT(p_name, 4)                       AS l4,
       RIGHT(p_name, 3)                      AS r3,
       REPEAT(p_brand, 2)                    AS twice,
       REVERSE(p_type)                       AS rtype,
       LPAD(p_brand, 10, '.')                AS padded,
       CONTAINS(p_name, 'red')               AS has_red,
       (p_type LIKE 'SM%')                   AS is_small,
       POSITION('a' IN p_name)               AS a_pos
FROM part WHERE p_partkey < 200
"""

# Explicit ROWS/RANGE window frames — rejected by the reference
# (SURVEY §2.6 "default frames only"); native in Spark and DuckDB.
# l_quantity is integral so the running sums/avgs are exact.
_WINDOW_FRAMES_SQL = """
SELECT l_orderkey, l_linenumber,
       SUM(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
           ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS roll2,
       AVG(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runavg
FROM lineitem WHERE l_orderkey < 500
"""

# LATERAL correlated subquery (top-N per group) — no reference analog;
# the modern SQL form of the per-key limit pattern.
_LATERAL_TOPN_SQL = """
SELECT c_custkey, t.o_orderkey, CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c_custkey < 300
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""

_UNION_DISTINCT_SQL = """
SELECT custkey FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
) u ORDER BY custkey
"""

_INTERSECT_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY custkey
"""

_EXCEPT_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
EXCEPT
SELECT o_custkey FROM orders
ORDER BY custkey
"""

# TPC-H Q21 shape — EXISTS + NOT-EXISTS correlated self-joins on the
# fact table (the hardest join shape in the suite; reference exercises
# the class in omniscidb/Tests/CorrelatedSubqueryTest.cpp). The driver
# lineitem has no l_receiptdate/l_commitdate, so "supplier was late" is
# adapted to l_returnflag = 'R' — shape (two decorrelated self-joins +
# 4-way join + agg + topk) is identical to stock Q21.
_Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders     ON o_orderkey = l1.l_orderkey
JOIN nation     ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

# NOW/CURRENT_TIMESTAMP/CURRENT_DATE/NOW() (reference Calcite surface,
# SURVEY §2.8 Misc). Deterministic despite the moving clock: every
# o_orderdate in the data is ≤ 1998, so the counts are exact constants
# for any run date after 1998 — the query still genuinely evaluates the
# clock functions on both engines.
_CURRENT_BOUNDS_SQL = """
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_orderdate < CURRENT_TIMESTAMP THEN 1 ELSE 0 END) AS BIGINT)
           AS n_before_now_ts,
       CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) <= CURRENT_DATE THEN 1 ELSE 0 END) AS BIGINT)
           AS n_on_or_before_today,
       CAST(SUM(CASE WHEN o_orderdate < NOW() THEN 1 ELSE 0 END) AS BIGINT)
           AS n_before_now
FROM orders
"""

# common-SQL-text queries added on top of __spark_entry__._COMMON_SQL
COMMON_SQL_EXTRA: dict[str, str] = {
    "expr_math_funcs": _MATH_SQL,
    "events_tumbling_hour": _TUMBLING_SQL,
    "window_analytics": _WINDOW_ANALYTICS_SQL,
    "subquery_correlated_scalar": _CORRELATED_SQL,
    "union_all_nary": _UNION_NARY_SQL,
    "agg_having": _HAVING_SQL,
    "distinct_projection": _DISTINCT_SQL,
    "agg_decimal": _DECIMAL_AGG_SQL,
    "join_theta_loop": _THETA_JOIN_SQL,
    "join_exists": _EXISTS_SQL,
    "subquery_correlated_min": _CORRELATED_MIN_SQL,
    "agg_conditional_promo": _PROMO_SQL,
    "agg_expr_group_keys": _EXPR_GROUP_KEY_SQL,
    "agg_empty_input": _AGG_EMPTY_SQL,
    "groupby_null_keys": _GROUPBY_NULL_KEY_SQL,
    "groupby_bool_empty_string": _GROUPBY_BOOL_EMPTY_SQL,
    "date_interval_arith": _INTERVAL_ARITH_SQL,
    "tpch_q4_order_priority": _Q4_SQL,
    "tpch_q22_idle_customers": _Q22_SQL,
    "tpch_q7_volume_shipping": _Q7_SQL,
    "tpch_q8_market_share": _Q8_SQL,
    "tpch_q9_profit_by_nation": _Q9_SQL,
    "tpch_q10_returned_items": _Q10_SQL,
    "tpch_q13_customer_distribution": _Q13_SQL,
    "tpch_q14_promo_revenue": _Q14_SQL,
    "tpch_q15_top_supplier": _Q15_SQL,
    "tpch_q17_small_qty_revenue": _Q17_SQL,
    "tpch_q18_large_volume_customer": _Q18_SQL,
    "tpch_q19_disjunctive_filter": _Q19_SQL,
    "rollup_lineitem_status": _ROLLUP_SQL,
    "cube_lineitem_status": _CUBE_SQL,
    "grouping_sets_orders": _GROUPING_SETS_SQL,
    "string_funcs_extended": _STRING_EXTENDED_SQL,
    "window_explicit_frames": _WINDOW_FRAMES_SQL,
    "lateral_topn_per_group": _LATERAL_TOPN_SQL,
    "set_union_distinct": _UNION_DISTINCT_SQL,
    "set_intersect_customers": _INTERSECT_SQL,
    "set_except_customers": _EXCEPT_SQL,
    "tpch_q21_waiting_suppliers": _Q21_SQL,
    "date_current_bounds": _CURRENT_BOUNDS_SQL,
}


# ---------------------------------------------------------------------------
# Round 2 additions: dedup clustering (connected components), deterministic
# sampling / mixture / split, sequence packing, vocabulary top-k, TPC-H Q20
# shape. All hash-derived randomness uses the arithmetic scheme of
# hdk_spark/operators/sampling.py so the DuckDB oracle runs the identical
# formula.
# ---------------------------------------------------------------------------

from hdk_spark.operators.sampling import hash_bucket_sql as _hb_sql  # noqa: E402


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (word-3-gram Jaccard ≥ 0.5) → transitive-closure
    duplicate clusters via distributed connected components
    (min-label propagation + pointer jumping; operators/graph.py)."""
    from hdk_spark.operators.dedup import ngram_jaccard_pairs
    from hdk_spark.operators.graph import duplicate_clusters

    _tables(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        spark.table("documents"), "doc_id", "text", n=3, threshold=0.5
    )
    return duplicate_clusters(pairs)


# the oracle computes the same clusters by recursive transitive closure
# (fine at oracle scale; the Spark side is the log-round distributed one)
_DEDUP_CLUSTERS_ORACLE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id,
         list_distinct(
           list_transform(
             range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1, 1)),
             i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+2]
           )
         ) AS s_list
  FROM documents
), ex AS (
  SELECT id, len(s_list) AS n_sh, unnest(s_list) AS s FROM sh WHERE len(s_list) > 0
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
  UNION
  SELECT id_b, id_a FROM pairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 10 docs per language by
    arithmetic-hash order (operators/sampling.py)."""
    from hdk_spark.operators.sampling import stratified_sample

    _tables(spark, sf_dir)
    return stratified_sample(
        spark.table("documents"), "lang", 10, "doc_id", seed=7
    ).select("doc_id", "lang")


_SAMPLE_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_hb_sql('doc_id', 1000000007, 7)}, doc_id
         ) AS rn
  FROM documents
) t WHERE rn <= 10
"""


def q_sample_mixture_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture down-sampling by language weight + deterministic 80/20
    train/val split; per-(lang, split) counts and id checksum."""
    from hdk_spark.operators.sampling import mixture_sample, train_val_split

    _tables(spark, sf_dir)
    mixed = mixture_sample(
        spark.table("documents"),
        "lang",
        {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.1},
        "doc_id",
        seed=3,
        default_weight=0.75,
    )
    return (
        train_val_split(mixed, "doc_id", train_pct=80, seed=11)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
    )


_SAMPLE_MIXTURE_ORACLE = f"""
SELECT lang, split, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM (
  SELECT lang, doc_id,
         CASE WHEN {_hb_sql('doc_id', 100, 11)} < 80
              THEN 'train' ELSE 'val' END AS split
  FROM documents
  WHERE {_hb_sql('doc_id', 10000, 3)} <
        CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
                  WHEN 'fr' THEN 2500 WHEN 'es' THEN 1000 ELSE 7500 END
) t
GROUP BY lang, split
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: whitespace token counts →
    deterministic hash-sharded greedy chunks (operators/packing.py)."""
    from hdk_spark.operators.packing import pack_sequences
    from hdk_spark.operators.text import token_count

    _tables(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", budget=512, n_shards=8, seed=0
    ).select("doc_id", "shard", "chunk_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))


_PACK_SEQUENCES_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         {_hb_sql('doc_id', 1000000007, 0)} AS h,
         {_hb_sql('doc_id', 8, 1)} AS shard
  FROM documents
), packed AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM toks
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS chunk_id,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM packed
"""


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-40 vocabulary terms by corpus frequency (partial-agg
    + TakeOrdered — never a full vocabulary sort)."""
    from hdk_spark.operators.text import top_terms

    _tables(spark, sf_dir)
    return top_terms(spark.table("documents"), "text", k=40)


_TOP_TERMS_ORACLE = r"""
SELECT token, n FROM (
  SELECT token, COUNT(*) AS n
  FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) t
  WHERE len(token) >= 1
  GROUP BY token
) c ORDER BY n DESC, token LIMIT 40
"""


# TPC-H Q20 shape adapted to the trimmed schema (no partsupp): the
# IN-over-grouped-HAVING skeleton — suppliers whose shipped quantity of
# 'small%' parts exceeds a threshold (reference exercises this class in
# omniscidb/Tests/CorrelatedSubqueryTest.cpp).
_Q20_SQL = """
SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 2200
)
ORDER BY s_name
"""

SPARK_IMPLS.update(
    {
        "dedup_clusters": q_dedup_clusters,
        "sample_stratified": q_sample_stratified,
        "sample_mixture_split": q_sample_mixture_split,
        "pack_sequences": q_pack_sequences,
        "text_top_terms": q_text_top_terms,
    }
)

ORACLES.update(
    {
        "dedup_clusters": _DEDUP_CLUSTERS_ORACLE,
        "sample_stratified": _SAMPLE_STRATIFIED_ORACLE,
        "sample_mixture_split": _SAMPLE_MIXTURE_ORACLE,
        "pack_sequences": _PACK_SEQUENCES_ORACLE,
        "text_top_terms": _TOP_TERMS_ORACLE,
    }
)

COMMON_SQL_EXTRA["tpch_q20_excess_suppliers"] = _Q20_SQL


# FULL OUTER / explicit CROSS join shapes — the reference's Calcite
# bridge rejects RIGHT/FULL (WorkUnitBuilder.cpp); they come free in a
# Spark-first engine, so ship them as oracle-checked beyond-ref surface.
_FULL_OUTER_SQL = """
SELECT COALESCE(c_custkey, -1) AS custkey,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_order,
       COUNT(o_orderkey) AS n_orders
FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
WHERE COALESCE(c_acctbal, 0) < 500
GROUP BY COALESCE(c_custkey, -1)
"""

_CROSS_SMALL_SQL = """
SELECT r.r_name, n.n_name, COUNT(*) AS n
FROM region r CROSS JOIN nation n
GROUP BY r.r_name, n.n_name
"""

COMMON_SQL_EXTRA["join_full_outer"] = _FULL_OUTER_SQL
COMMON_SQL_EXTRA["join_cross_small"] = _CROSS_SMALL_SQL


def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined per
    micro-batch to the static customer dimension (stateless — no
    watermark state), aggregated by market segment, driven with
    availableNow to completion and value-checked against the batch
    join+agg oracle."""
    from hdk_spark.streaming import stream_static_join

    s = _events_stream(spark, sf_dir)
    cust = spark.table("customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = stream_static_join(
        s, cust, on=s["user_id"] == cust["c_custkey"], how="inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    name = _run_stream(agg, "complete")
    return spark.table(name).select("c_mktsegment", "n", "sum_value")


_STREAMING_STATIC_JOIN_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 16) —
    map-only explode+slice; every chunk's text round-trips for exact
    value comparison."""
    from hdk_spark.operators.text import chunk_documents

    _tables(spark, sf_dir)
    return chunk_documents(
        spark.table("documents"), "doc_id", "text", chunk_tokens=32, stride=16
    )


_TEXT_CHUNKING_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks,
         CAST(ceil(greatest(len(toks) - 32, 0) / 16.0) AS BIGINT) + 1 AS n_chunks
  FROM t
), c AS (
  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx FROM n
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(toks, chunk_idx * 16 + 1, chunk_idx * 16 + 32), ' ') AS chunk_text,
       CAST(len(list_slice(toks, chunk_idx * 16 + 1, chunk_idx * 16 + 32)) AS BIGINT) AS n_tokens
FROM c
"""

SPARK_IMPLS.update(
    {
        "streaming_static_join": q_streaming_static_join,
        "text_chunking": q_text_chunking,
    }
)
ORACLES.update(
    {
        "streaming_static_join": _STREAMING_STATIC_JOIN_ORACLE,
        "text_chunking": _TEXT_CHUNKING_ORACLE,
    }
)


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (map-only HOF term frequencies + one
    bounded stats aggregate + TakeOrdered) — lexical complement of the
    dense ANN queries."""
    from hdk_spark.operators.search import bm25_topk

    _tables(spark, sf_dir)
    return bm25_topk(
        spark.table("documents"), ["hash", "join", "window"], k=15
    )


# identical formula, corpus statistics recomputed in SQL; round(,6) on
# both sides absorbs last-ulp libm differences (same guard as
# expr_math_funcs transcendentals)
_BM25_ORACLE = r"""
WITH staged AS (
  SELECT doc_id AS id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl
  FROM documents
), stats AS (
  SELECT avg(dl) AS avgdl, count(*) AS n,
         sum(CASE WHEN list_contains(toks, 'hash')   THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN list_contains(toks, 'join')   THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS df2
  FROM staged
), scored AS (
  SELECT s.id,
         round(
           ln(1.0 + (st.n - st.df0 + 0.5) / (st.df0 + 0.5)) *
             (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * s.dl / st.avgdl))) +
           ln(1.0 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5)) *
             (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * s.dl / st.avgdl))) +
           ln(1.0 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)) *
             (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * s.dl / st.avgdl))),
           6) AS score
  FROM (
    SELECT id, dl,
           CAST(len(list_filter(toks, x -> x = 'hash'))   AS DOUBLE) AS tf0,
           CAST(len(list_filter(toks, x -> x = 'join'))   AS DOUBLE) AS tf1,
           CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf2
    FROM staged
  ) s CROSS JOIN stats st
)
SELECT id, score FROM scored WHERE score > 0.0
ORDER BY score DESC, id LIMIT 15
"""

SPARK_IMPLS["search_bm25"] = q_search_bm25
ORACLES["search_bm25"] = _BM25_ORACLE


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time join: purchases within 30 minutes of a
    click by the same user — both sides unbounded watermarked streams,
    driven with availableNow, value-checked against the batch
    interval-join oracle."""
    from hdk_spark.streaming import stream_interval_join

    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    buys = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    out = stream_interval_join(
        clicks,
        buys,
        left_key="user_id",
        right_key="b_user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        within="30 minutes",
        watermark="2 hours",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    name = _run_stream(out, "append")
    return spark.table(name)


_STREAMING_INTERVAL_JOIN_ORACLE = """
SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
       a.ts AS click_ts, b.ts AS purchase_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""

SPARK_IMPLS["streaming_interval_join"] = q_streaming_interval_join
ORACLES["streaming_interval_join"] = _STREAMING_INTERVAL_JOIN_ORACLE


def q_dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination flags: word-3-gram overlap of every corpus doc
    against a 3-document 'benchmark' set (docs 0-2 stand in for an eval
    set). Benchmark shingles fold into one literal broadcast; the
    corpus pass is map-only."""
    from hdk_spark.operators.dedup import contamination_flags

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    bench = [
        r["text"]
        for r in docs.filter(F.col("doc_id") < 3).select("text").collect()
    ]
    return contamination_flags(docs, bench, "doc_id", "text", n=3, min_overlap=1)


_CONTAMINATION_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1, 1)),
             i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+2]
           )
         ) AS s_list
  FROM documents
), bs AS (
  SELECT DISTINCT unnest(s_list) AS s FROM sh WHERE doc_id < 3
), e AS (
  SELECT doc_id, unnest(s_list) AS s FROM sh
), o AS (
  SELECT e.doc_id, count(*) AS n_overlap
  FROM e JOIN bs ON e.s = bs.s
  GROUP BY e.doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       coalesce(o.n_overlap, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN o ON d.doc_id = o.doc_id
"""

SPARK_IMPLS["dedup_contamination"] = q_dedup_contamination
ORACLES["dedup_contamination"] = _CONTAMINATION_ORACLE


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=4, 2 Lloyd rounds) over the embeddings
    table — deterministic by construction (hash init, decimal-exact
    centroid sums, tie-broken argmin), so the oracle unrolls the same
    two rounds in SQL and the ASSIGNMENTS match exactly."""
    from hdk_spark.operators.clustering import kmeans_assignments

    _tables(spark, sf_dir)
    return kmeans_assignments(
        spark.table("embeddings"), k=4, iters=2, seed=0
    )


def _kmeans_unrolled_ctes(
    with_cdist: bool = False, source: str = "embeddings"
) -> str:
    """The unrolled deterministic Lloyd's rounds (k=4, 2 rounds) as a
    CTE chain ``init, a1, c1, a2, c2, a3`` — shared by the
    embedding_kmeans oracle and the dedup_semantic oracle (which also
    needs ``a3.cdist``, the exact squared distance to the winning
    centroid). ``source`` is the (vec_id, embedding) relation to
    cluster — the composed dedup_pipeline oracle clusters a SURVIVOR
    subset, not the raw table."""
    from hdk_spark.operators.sampling import hash_bucket_sql

    hb = hash_bucket_sql("vec_id", 1000000007, 0)
    dist = (
        "list_reduce(list_transform(list_zip(e.embedding, c.embedding),"
        " x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
        " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (p, q) -> p + q)"
    )
    assign = """
{name} AS (
  SELECT vec_id, embedding, c{keep} FROM (
    SELECT e.vec_id, e.embedding, c.c,{cdist}
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.c) AS rn
    FROM {source} e CROSS JOIN {cents} c
  ) t WHERE rn = 1
)"""
    update = """
{name} AS (
  SELECT c, list(d_avg ORDER BY d) AS embedding FROM (
    SELECT a.c, dd.d,
           CAST(sum(CAST(CAST(a.embedding[dd.d] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
             / count(*) AS d_avg
    FROM {assigned} a CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
    GROUP BY a.c, dd.d
  ) s GROUP BY c
)"""

    def asg(name: str, cents: str, final: bool) -> str:
        keep = ", cdist" if (final and with_cdist) else ""
        cdist = f" {dist} AS cdist," if (final and with_cdist) else ""
        return assign.format(
            name=name, dist=dist, cents=cents, keep=keep, cdist=cdist,
            source=source,
        )

    return (
        "init AS (\n"
        "  SELECT embedding, row_number() OVER (ORDER BY " + hb + ", vec_id) - 1 AS c\n"
        f"  FROM {source} ORDER BY " + hb + ", vec_id LIMIT 4\n"
        "),"
        + asg("a1", "init", False)
        + ","
        + update.format(name="c1", assigned="a1")
        + ","
        + asg("a2", "c1", False)
        + ","
        + update.format(name="c2", assigned="a2")
        + ","
        + asg("a3", "c2", True)
    )


def _kmeans_oracle() -> str:
    return (
        "WITH "
        + _kmeans_unrolled_ctes()
        + "\nSELECT vec_id, CAST(c AS BIGINT) AS cluster FROM a3"
    )


SPARK_IMPLS["embedding_kmeans"] = q_embedding_kmeans
ORACLES["embedding_kmeans"] = _kmeans_oracle()


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup end-to-end over the embeddings table: deterministic
    k-means (k=4, 2 rounds) → within-cluster exact cosine pairs →
    transitive duplicate groups → keep the member farthest from its
    centroid. threshold=0.4 for the same reason as
    dedup_embedding_cosine (the synthetic embeddings carry no planted
    near-dups; 0.4 yields a non-trivial group structure)."""
    from hdk_spark.operators.dedup import semantic_dedup

    _tables(spark, sf_dir)
    return semantic_dedup(
        spark.table("embeddings"), "vec_id", "embedding",
        k=4, iters=2, seed=0, threshold=0.4, mode="exact",
    )


def _semantic_ctes(threshold: float = 0.4, source: str = "embeddings") -> str:
    """The SemDedup pipeline as a CTE chain ending in ``sem``
    (id, cluster, group_id, kept): the unrolled Lloyd rounds (shared
    with the embedding_kmeans oracle, plus the winning squared
    distance), the within-cluster cosine pair join, recursive-CTE
    transitive closure, and the farthest-from-centroid-wins window.
    Needs a ``WITH RECURSIVE`` header. Shared by the dedup_semantic
    oracle and the composed dedup_pipeline oracle."""
    dot = _DOT
    return (
        _kmeans_unrolled_ctes(with_cdist=True, source=source)
        + f""",
nv AS (
  SELECT vec_id AS id, c AS cluster, cdist,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM a3
), nn AS (
  SELECT id, cluster, cdist, v, sqrt({dot.format(a='v', b='v')}) AS norm FROM nv
), pr AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM nn a JOIN nn b ON a.cluster = b.cluster AND a.id < b.id
  WHERE {dot.format(a='a.v', b='b.v')} / (a.norm * b.norm) >= {threshold}
), ed AS (
  SELECT id_a AS a, id_b AS b FROM pr
  UNION
  SELECT id_b, id_a FROM pr
), reach(a, b) AS (
  SELECT a, b FROM ed
  UNION
  SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a
), grp AS (
  SELECT a AS id, least(a, min(b)) AS group_id FROM reach GROUP BY a
), lab AS (
  SELECT n.id, n.cluster, n.cdist, COALESCE(g.group_id, n.id) AS group_id
  FROM nn n LEFT JOIN grp g ON n.id = g.id
), sem AS (
  SELECT id, CAST(cluster AS BIGINT) AS cluster, group_id,
         (row_number() OVER (
            PARTITION BY group_id ORDER BY cdist DESC, id ASC) = 1) AS kept
  FROM lab
)"""
    )


def _semantic_dedup_oracle(threshold: float = 0.4) -> str:
    return (
        "WITH RECURSIVE "
        + _semantic_ctes(threshold)
        + "\nSELECT id AS vec_id, cluster, group_id, kept FROM sem"
    )


SPARK_IMPLS["dedup_semantic"] = q_dedup_semantic
ORACLES["dedup_semantic"] = _semantic_dedup_oracle()


def q_text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinctive terms (tf x ln(n_langs/df) top-5)."""
    from hdk_spark.operators.text import distinctive_terms

    _tables(spark, sf_dir)
    return distinctive_terms(spark.table("documents"), "lang", "text", k=5)


_DISTINCTIVE_TERMS_ORACLE = r"""
WITH tok AS (
  SELECT lang AS grp, doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), tf AS (
  SELECT grp, token, COUNT(*) AS tf FROM tok WHERE len(token) >= 1 GROUP BY 1, 2
), ddf AS (
  SELECT token, COUNT(*) AS d_df FROM (
    SELECT DISTINCT doc_id, token FROM tok WHERE len(token) >= 1
  ) u GROUP BY token
), nd AS (
  SELECT COUNT(*) AS n FROM documents
), scored AS (
  SELECT tf.grp, tf.token,
         round(tf.tf * ln(CAST(nd.n AS DOUBLE) / ddf.d_df), 6) AS score
  FROM tf JOIN ddf ON tf.token = ddf.token CROSS JOIN nd
)
SELECT grp, token, score FROM (
  SELECT grp, token, score,
         row_number() OVER (PARTITION BY grp ORDER BY score DESC, token) AS rn
  FROM scored WHERE score > 0.0
) t WHERE rn <= 5
"""

SPARK_IMPLS["text_distinctive_terms"] = q_text_distinctive_terms
ORACLES["text_distinctive_terms"] = _DISTINCTIVE_TERMS_ORACLE


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-token
    fraction + most-frequent-bigram mass per document."""
    from hdk_spark.operators.text import repetition_signals

    _tables(spark, sf_dir)
    return repetition_signals(
        spark.table("documents").filter(F.col("doc_id") < 200)
    )


_REPETITION_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE doc_id < 200
), b AS (
  SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS ndt,
         CASE WHEN len(toks) < 2 THEN []
              ELSE list_transform(range(2, len(toks) + 1),
                                  i -> toks[i - 1] || ' ' || toks[i]) END AS bgs
  FROM t
), e AS (
  SELECT doc_id, unnest(bgs) AS bg FROM b
), pb AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM e GROUP BY doc_id, bg
), pd AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top
  FROM pb GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.nt AS BIGINT) AS n_tokens,
       round(1.0 - b.ndt / CAST(b.nt AS DOUBLE), 6) AS dup_token_frac,
       COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       round(COALESCE(pd.top / CAST(pd.n_bigrams AS DOUBLE), 0.0), 6) AS top_bigram_ratio
FROM b LEFT JOIN pd ON b.doc_id = pd.doc_id
ORDER BY b.doc_id
"""

SPARK_IMPLS["text_repetition"] = q_text_repetition
ORACLES["text_repetition"] = _REPETITION_ORACLE


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy scoring: per-doc average token log-probability
    under the corpus's own unigram LM (CCNet-style LM filter stage)."""
    from hdk_spark.operators.text import unigram_logprob

    _tables(spark, sf_dir)
    return _ordered(unigram_logprob(spark.table("documents")), "doc_id")


_UNIGRAM_LOGPROB_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), f AS (
  SELECT token, COUNT(*) AS c FROM tok GROUP BY token
), tot AS (
  SELECT SUM(c) AS s FROM f
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(AVG(ln(f.c / CAST(tot.s AS DOUBLE))), 6) + 0 AS avg_logprob
FROM tok JOIN f USING (token) CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
"""

SPARK_IMPLS["text_unigram_logprob"] = q_text_unigram_logprob
ORACLES["text_unigram_logprob"] = _UNIGRAM_LOGPROB_ORACLE


def q_text_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture diagnostic: KL(P_source || P_corpus) over unigram
    distributions, one row per source."""
    from hdk_spark.operators.text import source_kl_divergence

    _tables(spark, sf_dir)
    return _ordered(source_kl_divergence(spark.table("documents")), "grp")


_SOURCE_KL_ORACLE = r"""
WITH gt AS (
  SELECT source AS grp, token, COUNT(*) AS c FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) t GROUP BY grp, token
), corpus AS (
  SELECT token, SUM(c) AS cc FROM gt GROUP BY token
), ct AS (
  SELECT SUM(cc) AS total FROM corpus
), gtot AS (
  SELECT grp, SUM(c) AS gt_total FROM gt GROUP BY grp
)
SELECT gt.grp,
       CAST(MIN(gtot.gt_total) AS BIGINT) AS n_tokens,
       round(SUM((gt.c / CAST(gtot.gt_total AS DOUBLE))
                 * ln((gt.c / CAST(gtot.gt_total AS DOUBLE))
                      / (corpus.cc / CAST(ct.total AS DOUBLE)))), 6) + 0 AS kl
FROM gt
JOIN corpus ON gt.token = corpus.token
JOIN gtot ON gt.grp = gtot.grp
CROSS JOIN ct
GROUP BY gt.grp ORDER BY gt.grp
"""

SPARK_IMPLS["text_source_kl"] = q_text_source_kl
ORACLES["text_source_kl"] = _SOURCE_KL_ORACLE


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix (first 16 dims) of the embeddings table
    — the distributed second-moment pass feeding PCA/whitening."""
    from hdk_spark.operators.stats import embedding_covariance

    _tables(spark, sf_dir)
    # deterministic=True pinned (production default: covar_samp double
    # accumulators — same trade as the sketch hash bases)
    return embedding_covariance(
        spark.table("embeddings"), "embedding", n_dims=16, deterministic=True
    ).orderBy("i", "j")


# Mirrors the Spark kernel's order-independent algebra exactly: each
# per-row double product is quantized once to DECIMAL(38,12), summed
# exactly, and the covariance is one final double expression — a
# covar_samp on either engine would accumulate order-dependent float
# partials and hash-diverge (the round-3 red row).
_EMBEDDING_COV_ORACLE = """
WITH x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), sel AS (
  SELECT * FROM x WHERE pos < 16
), pairs AS (
  SELECT a.pos AS i, b.pos AS j,
         COUNT(a.v * b.v) AS n,
         SUM(CAST(a.v * b.v AS DECIMAL(38,12))) AS sxy
  FROM sel a JOIN sel b ON a.vec_id = b.vec_id AND a.pos <= b.pos
  GROUP BY a.pos, b.pos
), sums AS (
  SELECT pos, SUM(CAST(v AS DECIMAL(38,12))) AS s FROM sel GROUP BY pos
)
SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
       round((CAST(p.sxy AS DOUBLE)
              - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / p.n)
             / (p.n - 1.0), 6) + 0 AS cov
FROM pairs p
JOIN sums si ON si.pos = p.i
JOIN sums sj ON sj.pos = p.j
ORDER BY i, j
"""

SPARK_IMPLS["embedding_covariance"] = q_embedding_covariance
ORACLES["embedding_covariance"] = _EMBEDDING_COV_ORACLE


def q_temporal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour resample of the events series with linear
    interpolation at unobserved grid points."""
    from hdk_spark.operators.temporal import resample_fill

    _tables(spark, sf_dir)
    e = spark.table("events").filter(F.col("user_id") < 20)
    return resample_fill(e, "user_id", "ts", "value", step="6 hours", method="linear").orderBy(
        "key", "grid_ts"
    )


_RESAMPLE_ORACLE = """
WITH src AS (
  SELECT user_id, ts, value FROM events WHERE user_id < 20
), obs AS (
  SELECT key, grid_ts, value AS obs_value FROM (
    SELECT user_id AS key,
           make_timestamp(CAST(floor(floor(epoch(ts)) / 21600) * 21600 AS BIGINT) * 1000000) AS grid_ts,
           value,
           row_number() OVER (
             PARTITION BY user_id,
                          CAST(floor(floor(epoch(ts)) / 21600) * 21600 AS BIGINT)
             ORDER BY ts DESC, value DESC) AS rn
    FROM src
  ) q WHERE rn = 1
), span AS (
  SELECT key, min(grid_ts) AS t0, max(grid_ts) AS t1 FROM obs GROUP BY key
), grid AS (
  SELECT key, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts FROM span
), g AS (
  SELECT grid.key, grid.grid_ts, obs.obs_value
  FROM grid LEFT JOIN obs ON grid.key = obs.key AND grid.grid_ts = obs.grid_ts
), filled AS (
  SELECT key, grid_ts, obs_value,
         last_value(obs_value IGNORE NULLS) OVER (
           PARTITION BY key ORDER BY grid_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_val,
         first_value(obs_value IGNORE NULLS) OVER (
           PARTITION BY key ORDER BY grid_ts
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
         last_value(CASE WHEN obs_value IS NOT NULL THEN grid_ts END IGNORE NULLS) OVER (
           PARTITION BY key ORDER BY grid_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_ts,
         first_value(CASE WHEN obs_value IS NOT NULL THEN grid_ts END IGNORE NULLS) OVER (
           PARTITION BY key ORDER BY grid_ts
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
  FROM g
)
SELECT key, grid_ts,
       round(CASE WHEN obs_value IS NOT NULL THEN obs_value
                  ELSE last_val + (next_val - last_val) * COALESCE(
                    (floor(epoch(grid_ts)) - floor(epoch(last_ts)))
                    / NULLIF(CAST(floor(epoch(next_ts)) - floor(epoch(last_ts)) AS DOUBLE), 0),
                    0.0) END, 6) + 0 AS value,
       obs_value IS NOT NULL AS observed
FROM filled ORDER BY key, grid_ts
"""

SPARK_IMPLS["temporal_resample_fill"] = q_temporal_resample
ORACLES["temporal_resample_fill"] = _RESAMPLE_ORACLE


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → signup → purchase: users counted
    at step k only with an occurrence strictly after their earliest
    valid chain through steps 1..k-1."""
    from hdk_spark.operators.temporal import funnel_counts

    _tables(spark, sf_dir)
    return funnel_counts(
        spark.table("events"), "user_id", "ts", "event_type",
        ["view", "click", "signup", "purchase"],
    ).orderBy("step_idx")


_FUNNEL_ORACLE = """
WITH u AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'signup', 'purchase')
), t0 AS (
  SELECT user_id, min(ts) AS t FROM u WHERE event_type = 'view' GROUP BY user_id
), t1 AS (
  SELECT u.user_id, min(u.ts) AS t FROM u JOIN t0 ON u.user_id = t0.user_id
  WHERE u.event_type = 'click' AND u.ts > t0.t GROUP BY u.user_id
), t2 AS (
  SELECT u.user_id, min(u.ts) AS t FROM u JOIN t1 ON u.user_id = t1.user_id
  WHERE u.event_type = 'signup' AND u.ts > t1.t GROUP BY u.user_id
), t3 AS (
  SELECT u.user_id, min(u.ts) AS t FROM u JOIN t2 ON u.user_id = t2.user_id
  WHERE u.event_type = 'purchase' AND u.ts > t2.t GROUP BY u.user_id
)
SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, (SELECT count(*) FROM t0) AS n_keys
UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t1)
UNION ALL SELECT 3, 'signup', (SELECT count(*) FROM t2)
UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM t3)
ORDER BY step_idx
"""

SPARK_IMPLS["events_funnel"] = q_events_funnel
ORACLES["events_funnel"] = _FUNNEL_ORACLE


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup collapse: n-gram Jaccard pairs → connected
    components → keep the longest document per cluster (ties: lowest
    id); singletons survive unchanged."""
    from hdk_spark.operators.dedup import dedup_keep_best, ngram_jaccard_pairs

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup_keep_best(docs, pairs, "doc_id", "n_chars").orderBy("cluster_id")


_KEEP_BEST_ORACLE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id,
         list_distinct(
           list_transform(
             range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1, 1)),
             i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+2]
           )
         ) AS s_list
  FROM documents
), ex AS (
  SELECT id, len(s_list) AS n_sh, unnest(s_list) AS s FROM sh WHERE len(s_list) > 0
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
  UNION
  SELECT id_b, id_a FROM pairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), cl AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
), full_map AS (
  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
)
SELECT cluster_id, doc_id AS keep_id, n_chars AS best_score, n_members
FROM (
  SELECT cluster_id, doc_id, n_chars,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
         row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
  FROM full_map
) t WHERE rn = 1 ORDER BY cluster_id
"""

SPARK_IMPLS["dedup_keep_best"] = q_dedup_keep_best
ORACLES["dedup_keep_best"] = _KEEP_BEST_ORACLE


def q_streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per (hour window, event_type) on an
    unbounded stream via CHAINED stateful operators — streaming dedup
    on (user, type, hour) feeding a windowed count in the same query
    (Spark's multi-stateful-operator support, 3.4+). Streaming has no
    COUNT(DISTINCT); dedup-then-count is the exact-distinct pattern.

    Append mode emits a window only once the watermark passes its end,
    so the final (unclosed) window never surfaces — the oracle cuts at
    the same horizon (max event time - 10 min watermark delay). The
    verification drive uses plain dropDuplicates (exact, state unbounded
    but input-bounded); an always-on deployment swaps in
    dropDuplicatesWithinWatermark with delay >= window + lateness so
    dedup state stays bounded.
    """
    from hdk_spark.streaming import with_watermark

    s = _events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    d = (
        with_watermark(s, "ts", "10 minutes")
        .withColumn("hour_b", F.date_trunc("hour", F.col("ts")))
        .dropDuplicates(["user_id", "event_type", "hour_b"])
    )
    agg = d.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    out = agg.select(
        F.col("window.start").alias("window_start"), "event_type", "n_users"
    )
    name = _run_stream(out, "append")
    return spark.table(name).orderBy("window_start", "event_type")


_STREAMING_DISTINCT_USERS_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
         <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
ORDER BY window_start, event_type
"""

SPARK_IMPLS["streaming_distinct_users"] = q_streaming_distinct_users
ORACLES["streaming_distinct_users"] = _STREAMING_DISTINCT_USERS_ORACLE


# round 3: the md5 sketch basis made the minhash pipeline fully
# DuckDB-expressible — upgrade it from rows-only to value-checked
ORACLES["dedup_minhash_lsh"] = _minhash_oracle()
ORACLES["dedup_simhash"] = _simhash_oracle()
ORACLES["similarity_ann_lsh"] = _ann_lsh_oracle([0, 1, 2], k=5)
ORACLES["similarity_ann_ivf"] = _ann_ivf_oracle([0, 1, 2], k=5)


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability scoring under the corpus's own
    bigram LM — the next-order perplexity proxy above
    text_unigram_logprob."""
    from hdk_spark.operators.text import bigram_logprob

    _tables(spark, sf_dir)
    return _ordered(bigram_logprob(spark.table("documents")), "doc_id")


_BIGRAM_LOGPROB_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
  FROM documents
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk), 1)),
                        i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
  FROM t WHERE len(tk) >= 2
), pairs AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
), counts AS (
  SELECT w1, w2, COUNT(*) AS c FROM pairs GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(c) AS cx FROM counts GROUP BY w1
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(ln(counts.c / CAST(ctx.cx AS DOUBLE))), 6) + 0 AS avg_logprob
FROM pairs p
JOIN counts ON p.w1 = counts.w1 AND p.w2 = counts.w2
JOIN ctx ON p.w1 = ctx.w1
GROUP BY p.doc_id ORDER BY p.doc_id
"""

SPARK_IMPLS["text_bigram_logprob"] = q_text_bigram_logprob
ORACLES["text_bigram_logprob"] = _BIGRAM_LOGPROB_ORACLE


def q_text_unigram_unk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM scoring with the min_count=2 <unk> fold — the
    bounded-model path whose forced broadcast stays legal at 100 TB
    (the Zipf tail is lumped into one bucket)."""
    from hdk_spark.operators.text import unigram_logprob

    _tables(spark, sf_dir)
    return _ordered(
        unigram_logprob(spark.table("documents"), min_count=2), "doc_id")


_UNIGRAM_UNK_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), f AS (
  SELECT token, COUNT(*) AS c FROM tok GROUP BY token
), tot AS (
  SELECT SUM(c) AS s FROM f
), kept AS (
  SELECT token, c FROM f WHERE c >= 2
), unk AS (
  SELECT greatest(COALESCE(SUM(c), 0), 1) AS uc FROM f WHERE c < 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(AVG(ln(COALESCE(kept.c, unk.uc) / CAST(tot.s AS DOUBLE))), 6)
         + 0 AS avg_logprob
FROM tok LEFT JOIN kept USING (token) CROSS JOIN tot CROSS JOIN unk
GROUP BY doc_id ORDER BY doc_id
"""

SPARK_IMPLS["text_unigram_unk"] = q_text_unigram_unk
ORACLES["text_unigram_unk"] = _UNIGRAM_UNK_ORACLE


def q_text_bigram_unk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM scoring with the min_count=2 per-context <unk> fold —
    the bounded-model path (kept bigrams + one tail row per context)."""
    from hdk_spark.operators.text import bigram_logprob

    _tables(spark, sf_dir)
    return _ordered(
        bigram_logprob(spark.table("documents"), min_count=2), "doc_id")


_BIGRAM_UNK_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
  FROM documents
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk), 1)),
                        i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
  FROM t WHERE len(tk) >= 2
), pairs AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
), counts AS (
  SELECT w1, w2, COUNT(*) AS c FROM pairs GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(c) AS cx FROM counts GROUP BY w1
), kept AS (
  SELECT w1, w2, c FROM counts WHERE c >= 2
), unk AS (
  SELECT w1, SUM(c) AS uc FROM counts WHERE c < 2 GROUP BY w1
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(ln(COALESCE(kept.c, unk.uc, 1) / CAST(ctx.cx AS DOUBLE))), 6)
         + 0 AS avg_logprob
FROM pairs p
LEFT JOIN kept ON p.w1 = kept.w1 AND p.w2 = kept.w2
LEFT JOIN unk ON p.w1 = unk.w1
JOIN ctx ON p.w1 = ctx.w1
GROUP BY p.doc_id ORDER BY p.doc_id
"""

SPARK_IMPLS["text_bigram_unk"] = q_text_bigram_unk
ORACLES["text_bigram_unk"] = _BIGRAM_UNK_ORACLE


def q_text_lm_cross_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet cross-corpus shape: score src0's documents under a unigram
    model trained on every OTHER source (min_count=2; unseen tokens
    fall back to the <unk> mass)."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.text import unigram_logprob

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    return _ordered(unigram_logprob(
        docs.filter(F.col("source") == "src0"),
        min_count=2,
        model_df=docs.filter(F.col("source") != "src0"),
    ), "doc_id")


_LM_CROSS_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents WHERE source = 'src0'
), mtok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents WHERE source <> 'src0'
), f AS (
  SELECT token, COUNT(*) AS c FROM mtok GROUP BY token
), tot AS (
  SELECT SUM(c) AS s FROM f
), kept AS (
  SELECT token, c FROM f WHERE c >= 2
), unk AS (
  SELECT greatest(COALESCE(SUM(c), 0), 1) AS uc FROM f WHERE c < 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(AVG(ln(COALESCE(kept.c, unk.uc) / CAST(tot.s AS DOUBLE))), 6)
         + 0 AS avg_logprob
FROM tok LEFT JOIN kept USING (token) CROSS JOIN tot CROSS JOIN unk
GROUP BY doc_id ORDER BY doc_id
"""

SPARK_IMPLS["text_lm_cross_score"] = q_text_lm_cross_score
ORACLES["text_lm_cross_score"] = _LM_CROSS_ORACLE


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with deterministically planted
    emails/IPs/phones (both engines build the identical input text, so
    the redacted strings and per-kind counts value-check exactly)."""
    from hdk_spark.operators.text import redact_pii

    _tables(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-010-2334 from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return redact_pii(docs).orderBy("doc_id")


def _redact_pii_oracle() -> str:
    """The patterns interpolate from text.PII_PATTERNS — ONE source of
    truth, so a pattern tweak can never desynchronize operator and
    oracle (the _hashed_score_oracle convention)."""
    from hdk_spark.operators.text import PII_PATTERNS

    tpl = r"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-010-2334 from 10.0.0.'
              || CAST(doc_id % 256 AS VARCHAR) AS text
  FROM documents
), s AS (
  SELECT doc_id, text,
         regexp_replace(text, '__EMAIL_RE__', '<EMAIL>', 'g') AS t1
  FROM d
), s2 AS (
  SELECT doc_id, text, t1,
         regexp_replace(t1, '__IP_RE__', '<IP>', 'g') AS t2
  FROM s
)
SELECT doc_id,
       regexp_replace(t2, '__PHONE_RE__', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_split_to_array(text, '__EMAIL_RE__')) - 1
            AS BIGINT) AS n_email,
       CAST(len(regexp_split_to_array(t1, '__IP_RE__')) - 1
            AS BIGINT) AS n_ip,
       CAST(len(regexp_split_to_array(t2, '__PHONE_RE__')) - 1
            AS BIGINT) AS n_phone
FROM s2 ORDER BY doc_id
"""
    return (
        tpl.replace("__EMAIL_RE__", PII_PATTERNS["email"])
        .replace("__IP_RE__", PII_PATTERNS["ip"])
        .replace("__PHONE_RE__", PII_PATTERNS["phone"])
    )


SPARK_IMPLS["text_redact_pii"] = q_text_redact_pii
ORACLES["text_redact_pii"] = _redact_pii_oracle()


def q_text_hashed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality scorer (md5 bucket hash +
    strict left-fold weight sum + sigmoid) — every step reproduced
    bit-for-bit by the DuckDB oracle below."""
    from hdk_spark.operators.text import hashed_linear_score

    _tables(spark, sf_dir)
    return hashed_linear_score(spark.table("documents")).orderBy("doc_id")


def _hashed_score_oracle(n_buckets: int = 64, seed: int = 13) -> str:
    from hdk_spark.operators.text import _hashed_weights

    w = _hashed_weights(n_buckets, seed)
    wlit = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in w) + "]"
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
  FROM documents
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       round(1/(1+exp(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(tk, x -> {wlit}[
             (CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)
              % {n_buckets}) + 1])), (a, b) -> a + b))
         / greatest(len(tk), 1))), 6) AS score
FROM t ORDER BY doc_id
"""


SPARK_IMPLS["text_hashed_score"] = q_text_hashed_score
ORACLES["text_hashed_score"] = _hashed_score_oracle()


def _planted_urls(spark: SparkSession):
    """Deterministic URL column derived from doc_id — both engines
    build the identical strings (junk rows included: a crawl corpus
    always has unparseable URLs)."""
    d = F.col("doc_id")
    url = F.when(d % 13 == 0, F.lit("not a url at all")).otherwise(
        F.concat(
            F.when(d % 3 == 0, F.lit("http://")).otherwise(F.lit("https://")),
            F.lit("sub"), (d % 5).cast("string"),
            F.lit(".site"), (d % 17).cast("string"),
            F.when(d % 4 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
            F.when(d % 2 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/a/b"),
            F.when(d % 5 == 0, F.lit("/c?q=1")).otherwise(F.lit("")),
        )
    )
    return spark.table("documents").select("doc_id", "n_chars", url.alias("url"))


_PLANTED_URLS_SQL = """
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 13 = 0 THEN 'not a url at all'
              ELSE (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
                   || 'sub' || CAST(doc_id % 5 AS VARCHAR)
                   || '.site' || CAST(doc_id % 17 AS VARCHAR)
                   || (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END)
                   || (CASE WHEN doc_id % 2 = 0 THEN ':8080' ELSE '' END)
                   || '/a/b'
                   || (CASE WHEN doc_id % 5 = 0 THEN '/c?q=1' ELSE '' END)
         END AS url
  FROM documents
"""


def q_web_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level URL parsing (scheme/host/registered-domain/tld/path
    depth) over planted crawl-style URLs, junk rows included."""
    from hdk_spark.operators.web import url_features

    _tables(spark, sf_dir)
    return (
        url_features(_planted_urls(spark), "url")
        .select(
            "doc_id", "scheme", "host", "reg_domain", "tld",
            "path", "path_depth", "is_https",
        )
        .orderBy("doc_id")
    )


_URL_FEATURES_ORACLE = rf"""
WITH u AS ({_PLANTED_URLS_SQL}),
f AS (
  SELECT doc_id,
         regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/:?#]+(:\d+)?([^?#]*)', 2) AS path
  FROM u
), g AS (
  SELECT doc_id, scheme, host, path,
         regexp_split_to_array(host, '\.') AS labels
  FROM f
)
SELECT doc_id, scheme, host,
       CASE WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
            ELSE host END AS reg_domain,
       CASE WHEN len(labels) >= 2 THEN labels[-1] ELSE '' END AS tld,
       path,
       CAST(len(list_filter(regexp_split_to_array(path, '/'), x -> x <> ''))
            AS BIGINT) AS path_depth,
       scheme = 'https' AS is_https
FROM g ORDER BY doc_id
"""

SPARK_IMPLS["web_url_features"] = q_web_url_features
ORACLES["web_url_features"] = _URL_FEATURES_ORACLE


def q_web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain curation stats (page/host counts, https
    share, mean path depth, char-weighted total) — the domain-level
    rollup a crawl pipeline budgets its mixture with."""
    from hdk_spark.operators.web import domain_stats

    _tables(spark, sf_dir)
    return domain_stats(_planted_urls(spark), "url", weight_col="n_chars").orderBy(
        "reg_domain"
    )


_DOMAIN_STATS_ORACLE = rf"""
WITH u AS ({_PLANTED_URLS_SQL}),
f AS (
  SELECT doc_id, n_chars,
         regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/:?#]+(:\d+)?([^?#]*)', 2) AS path
  FROM u
), g AS (
  SELECT doc_id, n_chars, scheme, host, path,
         regexp_split_to_array(host, '\.') AS labels
  FROM f
), feats AS (
  SELECT doc_id, n_chars, host,
         CASE WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
              ELSE host END AS reg_domain,
         scheme = 'https' AS is_https,
         len(list_filter(regexp_split_to_array(path, '/'), x -> x <> ''))
           AS path_depth
  FROM g
)
SELECT reg_domain,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT host) AS n_hosts,
       CAST(SUM(CASE WHEN is_https THEN 1 ELSE 0 END) AS BIGINT) AS n_https,
       round(SUM(path_depth) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_path_depth,
       CAST(SUM(n_chars) AS BIGINT) AS total_weight
FROM feats GROUP BY reg_domain ORDER BY reg_domain
"""

SPARK_IMPLS["web_domain_stats"] = q_web_domain_stats
ORACLES["web_domain_stats"] = _DOMAIN_STATS_ORACLE


def q_stats_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorization of document lengths (cent-rounded
    percentile bounds → exact decimal clip) — the outlier-conditioning
    stage of a feature pipeline."""
    from hdk_spark.operators.stats import winsorize

    _tables(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "lang", "n_chars")
    # the clip is exact decimal; the OUTPUT casts to double because the
    # two engines' decimal→pandas conversions differ (Decimal objects
    # vs float64) and would hash-mismatch driver-side
    return (
        winsorize(docs, "lang", "n_chars", 0.05, 0.95)
        .withColumn("winsorized", F.col("winsorized").cast("double"))
        .orderBy("doc_id")
    )


# Mirrors group_quantile_stats' interpolation exactly (Spark
# percentile: lower + (higher - lower) * (pos - floor(pos)), the same
# formula the agg_quantile_modes oracle already value-checks).
_WINSORIZE_ORACLE = """
WITH p AS (
  SELECT lang, list_sort(list(CAST(n_chars AS DOUBLE))) AS v
  FROM documents GROUP BY lang
), b AS (
  SELECT lang,
         0.05 * (len(v) - 1) AS plo,
         0.95 * (len(v) - 1) AS phi,
         v
  FROM p
), bounds AS (
  SELECT lang,
         CAST(round(v[CAST(floor(plo) AS INT) + 1]
              + (v[CAST(ceil(plo) AS INT) + 1] - v[CAST(floor(plo) AS INT) + 1])
                * (plo - floor(plo)), 2) AS DECIMAL(18,2)) AS lo,
         CAST(round(v[CAST(floor(phi) AS INT) + 1]
              + (v[CAST(ceil(phi) AS INT) + 1] - v[CAST(floor(phi) AS INT) + 1])
                * (phi - floor(phi)), 2) AS DECIMAL(18,2)) AS hi
  FROM b
)
SELECT d.doc_id, d.lang, d.n_chars,
       CAST(least(greatest(CAST(d.n_chars AS DECIMAL(18,2)), bounds.lo),
                  bounds.hi) AS DOUBLE) AS winsorized
FROM documents d JOIN bounds USING (lang)
ORDER BY d.doc_id
"""

SPARK_IMPLS["stats_winsorize"] = q_stats_winsorize
ORACLES["stats_winsorize"] = _WINSORIZE_ORACLE


def q_stats_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-scores of document lengths via the exact-DECIMAL
    moment sums (order-independent under any partitioning — the same
    determinism pattern embedding_covariance uses)."""
    from hdk_spark.operators.stats import zscore

    _tables(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "lang", "n_chars")
    return (
        zscore(docs, "lang", "n_chars")
        .select("doc_id", "lang", "n_chars", round6("zscore").alias("zscore"))
        .orderBy("doc_id")
    )


_ZSCORE_ORACLE = """
WITH m AS (
  SELECT lang,
         COUNT(*) AS n,
         SUM(CAST(n_chars AS DECIMAL(18,2))) AS s1,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,2))
                  * CAST(n_chars AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s2
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars,
       round((CAST(d.n_chars AS DOUBLE)
              - CAST(m.s1 AS DOUBLE) / CAST(m.n AS DOUBLE))
             / sqrt((CAST(m.s2 AS DOUBLE)
                     - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE)
                       / CAST(m.n AS DOUBLE))
                    / (CAST(m.n AS DOUBLE) - 1.0)), 6) + 0 AS zscore
FROM documents d JOIN m USING (lang)
ORDER BY d.doc_id
"""

SPARK_IMPLS["stats_zscore"] = q_stats_zscore
ORACLES["stats_zscore"] = _ZSCORE_ORACLE


def q_stats_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based within-group normalization to [0, 1] (percent_rank
    with a deterministic tie-break) — outlier-immune score
    comparability across groups."""
    from hdk_spark.operators.stats import quantile_normalize

    _tables(spark, sf_dir)
    ev = spark.table("events").filter(F.col("user_id") < 10)
    return (
        quantile_normalize(ev, "user_id", "value", "event_id")
        .select("user_id", "event_id", F.round("qnorm", 6).alias("qnorm"))
        .orderBy("user_id", "event_id")
    )


_QNORM_ORACLE = """
SELECT user_id, event_id,
       round(percent_rank() OVER (PARTITION BY user_id
                                  ORDER BY value, event_id), 6) AS qnorm
FROM events WHERE user_id < 10
ORDER BY user_id, event_id
"""

SPARK_IMPLS["stats_quantile_normalize"] = q_stats_quantile_normalize
ORACLES["stats_quantile_normalize"] = _QNORM_ORACLE


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS weighted down-sample of orders by price
    (expected ~500 rows; membership decided in pure decimal-integer
    arithmetic — no float, bit-identical on any ANSI engine)."""
    from hdk_spark.operators.sampling import weighted_sample

    _tables(spark, sf_dir)
    return (
        weighted_sample(
            spark.table("orders"), "o_orderkey", "o_totalprice", n_target=500
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def _weighted_sample_oracle(n_target: int = 500) -> str:
    # Same integer inequality as weighted_sample, in HUGEINT cents
    # (DuckDB's decimal multiply overflows at these widths; scaling
    # both sides by 100 keeps the arithmetic exact and the predicate
    # mathematically identical).
    from hdk_spark.operators.sampling import _MOD, hash_bucket_sql

    hb = hash_bucket_sql("o_orderkey", _MOD, 0)
    return f"""
WITH w AS (
  SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
              AS HUGEINT) AS tw_cents
  FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders CROSS JOIN w
WHERE CAST({hb} * 2 + 1 AS HUGEINT) * tw_cents
    < CAST({2 * _MOD * n_target} AS HUGEINT)
      * CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
ORDER BY o_orderkey
"""


SPARK_IMPLS["sample_weighted"] = q_sample_weighted
ORACLES["sample_weighted"] = _weighted_sample_oracle()


def q_profile_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass numeric dataset profile of lineitem (SUMMARIZE/describe
    surface) — count/nulls/min/max + exact-decimal mean/stddev + exact
    interpolated quartiles, long-form one row per column."""
    from hdk_spark.operators.profile import summarize

    _tables(spark, sf_dir)
    # exact+deterministic pinned (production default: t-digest
    # percentiles + double-accumulator moments, the mergeable path)
    return summarize(
        spark.table("lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        exact=True,
        deterministic=True,
    )


def _summarize_oracle(cols: "list[str]") -> str:
    def block(c: str) -> str:
        interp = {}
        for q, qn in ((0.25, "q_25"), (0.5, "q_5"), (0.75, "q_75")):
            interp[qn] = (
                f"round(v[CAST(floor({q} * (len(v) - 1)) AS INT) + 1]"
                f" + (v[CAST(ceil({q} * (len(v) - 1)) AS INT) + 1]"
                f"    - v[CAST(floor({q} * (len(v) - 1)) AS INT) + 1])"
                f"   * ({q} * (len(v) - 1) - floor({q} * (len(v) - 1))), 6)"
                " + 0"
            )
        return f"""
SELECT '{c}' AS "column", n,
       CAST(nn AS BIGINT) AS n_null,
       round(mn, 6) + 0 AS min, round(mx, 6) + 0 AS max,
       round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0 AS mean,
       round(sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1.0)), 6) + 0 AS stddev,
       {interp["q_25"]} AS q_25, {interp["q_5"]} AS q_5,
       {interp["q_75"]} AS q_75
FROM (
  SELECT COUNT({c}) AS n,
         SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nn,
         MIN(CAST({c} AS DOUBLE)) AS mn,
         MAX(CAST({c} AS DOUBLE)) AS mx,
         SUM(CAST({c} AS DECIMAL(18,2))) AS s1,
         SUM(CAST(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS s2,
         list_sort(list(CAST({c} AS DOUBLE))) AS v
  FROM lineitem
)"""

    return " UNION ALL ".join(block(c) for c in cols) + ' ORDER BY "column"'


SPARK_IMPLS["profile_summarize"] = q_profile_summarize
ORACLES["profile_summarize"] = _summarize_oracle(
    ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
)


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as an unbounded-stream source (same staging
    scheme as _events_stream)."""
    import hashlib
    import tempfile

    from hdk_spark.streaming import stream_parquet

    _tables(spark, sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")
    tag = hashlib.sha1(
        ("docs:" + os.path.abspath(sf_dir)).encode()
    ).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"hdk_stream_src_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    schema = spark.read.parquet(path).schema
    return stream_parquet(spark, stage, schema)


def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl-ingest dedup: documents with doc_id % 10 == 0
    arrive as a stream and are checked against the stored signatures of
    the rest of the corpus (stateless stream-static band join,
    first-match-band emission — empty streaming state). md5 basis
    pinned so the oracle reproduces both sides' signatures exactly."""
    from hdk_spark.operators.dedup import minhash_signatures
    from hdk_spark.streaming import stream_minhash_dedup

    _tables(spark, sf_dir)
    new_stream = _documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0
    )
    corpus_sig = minhash_signatures(
        spark.table("documents").filter(F.col("doc_id") % 10 != 0),
        hash_basis="md5",
    )
    out = stream_minhash_dedup(
        new_stream, corpus_sig, threshold=0.5, hash_basis="md5"
    )
    name = _run_stream(out, "append")
    return spark.table(name).orderBy("new_id", "corpus_id")


def _incremental_minhash_oracle(
    n: int = 3, num_perm: int = 64, bands: int = 16, threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """Incremental variant of _minhash_oracle: signatures for the whole
    corpus, pairs restricted to new (doc_id % 10 = 0) × corpus rows,
    banding + agreement-estimate criteria identical."""
    from hdk_spark.operators.dedup import _MERSENNE, _perm_params

    rpb = num_perm // bands
    params = _perm_params(num_perm, seed)
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE}))"
        for a, b in params
    )
    band_eq = " AND ".join(
        f"sa[b*{rpb}+{r}] = sb[b*{rpb}+{r}]" for r in range(1, rpb + 1)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM documents
), sh AS (
  SELECT id,
         list_distinct(
           list_transform(range(1, greatest(len(tk) - {n - 2}, 1)),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         ) AS s_list
  FROM toks WHERE len(tk) >= {n}
), h AS (
  SELECT id,
         list_transform(s_list,
           s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {_MERSENNE}
         ) AS hs
  FROM sh WHERE len(s_list) > 0
), sig AS (
  SELECT id, [{mins}] AS sg FROM h
), pairs AS (
  SELECT a.id AS new_id, b.id AS corpus_id, a.sg AS sa, b.sg AS sb
  FROM sig a JOIN sig b ON a.id % 10 = 0 AND b.id % 10 <> 0
), scored AS (
  SELECT new_id, corpus_id,
         len(list_filter(range(1, {num_perm + 1}), i -> sa[i] = sb[i]))
           / {float(num_perm)} AS est,
         len(list_filter(range(0, {bands}), b -> {band_eq})) > 0 AS banded
  FROM pairs
)
SELECT new_id, corpus_id, round(est, 6) AS jaccard_est
FROM scored WHERE banded AND est >= {threshold}
ORDER BY new_id, corpus_id
"""


SPARK_IMPLS["streaming_incremental_dedup"] = q_streaming_incremental_dedup
ORACLES["streaming_incremental_dedup"] = _incremental_minhash_oracle()


def q_temporal_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ingestion-gap detection over the events series
    (consecutive observations ≥ 6 hours apart)."""
    from hdk_spark.operators.temporal import detect_gaps

    _tables(spark, sf_dir)
    ev = spark.table("events").filter(F.col("user_id") < 50)
    return detect_gaps(ev, "user_id", "ts", "event_id", "6 hours").orderBy(
        "key", "gap_end"
    )


_TEMPORAL_GAPS_ORACLE = """
WITH o AS (
  SELECT user_id AS key,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_start,
         ts AS gap_end
  FROM events WHERE user_id < 50
)
SELECT key, gap_start, gap_end,
       CAST(floor((epoch_us(gap_end) - epoch_us(gap_start)) / 1000000.0)
            AS BIGINT) AS gap_sec
FROM o
WHERE floor((epoch_us(gap_end) - epoch_us(gap_start)) / 1000000.0) >= 21600
ORDER BY key, gap_end
"""

SPARK_IMPLS["temporal_gaps"] = q_temporal_gaps
ORACLES["temporal_gaps"] = _TEMPORAL_GAPS_ORACLE


def q_temporal_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20-observation anomaly z-scores per user (frame
    excludes the current row; exact-decimal frame moments)."""
    from hdk_spark.operators.temporal import rolling_zscore

    _tables(spark, sf_dir)
    ev = spark.table("events").filter(F.col("user_id") < 20)
    return rolling_zscore(
        ev, "user_id", "ts", "value", "event_id", window_rows=20, min_obs=5
    ).orderBy("key", "ts", "obs_id")


_ROLLING_ZSCORE_ORACLE = """
WITH f AS (
  SELECT user_id AS key, ts, event_id AS obs_id,
         CAST(value AS DOUBLE) AS value,
         COUNT(CAST(value AS DECIMAL(18,2))) OVER w AS n,
         SUM(CAST(value AS DECIMAL(18,2))) OVER w AS s1,
         SUM(CAST(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) OVER w AS s2
  FROM events WHERE user_id < 20
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT key, ts, obs_id, value,
       CASE WHEN n >= 5 THEN
         round((value - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1.0)), 6) + 0
       END AS zscore,
       CASE WHEN n >= 5 THEN
         COALESCE(abs((value - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1.0))) > 3.0, FALSE)
       ELSE FALSE END AS is_anomaly
FROM f
ORDER BY key, ts, obs_id
"""

SPARK_IMPLS["temporal_rolling_zscore"] = q_temporal_rolling_zscore
ORACLES["temporal_rolling_zscore"] = _ROLLING_ZSCORE_ORACLE


def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of order totals with literal bounds
    (single partial-agg pass; floor-arithmetic binning identical on
    both engines)."""
    from hdk_spark.operators.profile import histogram

    _tables(spark, sf_dir)
    return histogram(spark.table("orders"), "o_totalprice", 20, 800.0, 480000.0)


def _histogram_oracle(n_bins: int, lo: float, hi: float) -> str:
    width = (hi - lo) / n_bins
    return f"""
WITH b AS (
  SELECT least(CAST(floor((CAST(o_totalprice AS DOUBLE) - {lo!r})
                          / {hi - lo!r} * {n_bins}) + 1 AS BIGINT),
               {n_bins}) AS bin
  FROM orders
  WHERE CAST(o_totalprice AS DOUBLE) >= {lo!r}
    AND CAST(o_totalprice AS DOUBLE) <= {hi!r}
)
SELECT bin,
       round({lo!r} + (bin - 1) * {width!r}, 6) + 0 AS lo_edge,
       round({lo!r} + bin * {width!r}, 6) + 0 AS hi_edge,
       COUNT(*) AS n
FROM b GROUP BY bin ORDER BY bin
"""


SPARK_IMPLS["profile_histogram"] = q_profile_histogram
ORACLES["profile_histogram"] = _histogram_oracle(20, 800.0, 480000.0)


def q_profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the 15 heaviest l_orderkey values by row
    count with their share of the table — what a salting / AQE
    skew-join decision is based on."""
    from hdk_spark.operators.profile import skew_report

    _tables(spark, sf_dir)
    return skew_report(spark.table("lineitem"), "l_orderkey", top_k=15)


_SKEW_ORACLE = """
WITH c AS (
  SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey
), t AS (
  SELECT SUM(n) AS total FROM c
), r AS (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank FROM c
)
SELECT CAST(r.rank AS BIGINT) AS rank, r.key, r.n,
       round(r.n / CAST(t.total AS DOUBLE), 6) AS share
FROM r CROSS JOIN t
WHERE r.rank <= 15
ORDER BY rank
"""

SPARK_IMPLS["profile_skew"] = q_profile_skew
ORACLES["profile_skew"] = _SKEW_ORACLE


def q_embedding_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix (first 16 dims) of the embeddings
    table — the covariance pass with the (n−1)-cancelling
    normalization, same single mergeable aggregate."""
    from hdk_spark.operators.stats import embedding_covariance

    _tables(spark, sf_dir)
    # deterministic=True pinned (production default: F.corr)
    return embedding_covariance(
        spark.table("embeddings"), "embedding", n_dims=16, correlation=True,
        deterministic=True,
    ).orderBy("i", "j")


# Same exact-decimal moment algebra as _EMBEDDING_COV_ORACLE; the
# diagonal num(i,i) cells normalize each pair.
_EMBEDDING_CORR_ORACLE = """
WITH x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), sel AS (
  SELECT * FROM x WHERE pos < 16
), pairs AS (
  SELECT a.pos AS i, b.pos AS j,
         COUNT(a.v * b.v) AS n,
         SUM(CAST(a.v * b.v AS DECIMAL(38,12))) AS sxy
  FROM sel a JOIN sel b ON a.vec_id = b.vec_id AND a.pos <= b.pos
  GROUP BY a.pos, b.pos
), sums AS (
  SELECT pos, SUM(CAST(v AS DECIMAL(38,12))) AS s FROM sel GROUP BY pos
), nums AS (
  SELECT p.i, p.j,
         CAST(p.sxy AS DOUBLE)
           - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / p.n AS num
  FROM pairs p
  JOIN sums si ON si.pos = p.i
  JOIN sums sj ON sj.pos = p.j
)
SELECT CAST(nm.i AS BIGINT) AS i, CAST(nm.j AS BIGINT) AS j,
       round(nm.num / sqrt(dii.num * djj.num), 6) + 0 AS corr
FROM nums nm
JOIN nums dii ON dii.i = nm.i AND dii.j = nm.i
JOIN nums djj ON djj.i = nm.j AND djj.j = nm.j
ORDER BY i, j
"""

SPARK_IMPLS["embedding_correlation"] = q_embedding_correlation
ORACLES["embedding_correlation"] = _EMBEDDING_CORR_ORACLE


def q_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median + median absolute deviation of document
    lengths — the robust location/scale pair."""
    from hdk_spark.operators.stats import group_mad

    _tables(spark, sf_dir)
    return group_mad(
        spark.table("documents").select("lang", "n_chars"), "lang", "n_chars"
    ).orderBy("lang")


def _interp_sql(vlist: str, p: float) -> str:
    pos = f"{p} * (len({vlist}) - 1)"
    return (
        f"({vlist}[CAST(floor({pos}) AS INT) + 1]"
        f" + ({vlist}[CAST(ceil({pos}) AS INT) + 1]"
        f"    - {vlist}[CAST(floor({pos}) AS INT) + 1])"
        f"   * ({pos} - floor({pos})))"
    )


_STATS_MAD_ORACLE = f"""
WITH base AS (
  SELECT lang, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
), m AS (
  SELECT lang, list_sort(list(CAST(n_chars AS DOUBLE))) AS v
  FROM base GROUP BY lang
), med AS (
  SELECT lang, {_interp_sql('v', 0.5)} AS med FROM m
), d AS (
  SELECT doc.lang, abs(CAST(doc.n_chars AS DOUBLE) - med.med) AS dev
  FROM base doc JOIN med USING (lang)
), md AS (
  SELECT lang, COUNT(*) AS n, list_sort(list(dev)) AS dv
  FROM d GROUP BY lang
)
SELECT md.lang, md.n,
       round(med.med, 6) + 0 AS median,
       round({_interp_sql('md.dv', 0.5)}, 6) AS mad
FROM md JOIN med USING (lang)
ORDER BY lang
"""

SPARK_IMPLS["stats_mad"] = q_stats_mad
ORACLES["stats_mad"] = _STATS_MAD_ORACLE


def q_text_bigram_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus bigram scoring: src0's documents scored under the
    bigram LM of every other source (min_count=2 per-context <unk>
    fold; positions whose context word never occurs in the model
    corpus are dropped — no conditional distribution to score under)."""
    from hdk_spark.operators.text import bigram_logprob

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    return _ordered(bigram_logprob(
        docs.filter(F.col("source") == "src0"),
        min_count=2,
        model_df=docs.filter(F.col("source") != "src0"),
    ), "doc_id")


_BIGRAM_CROSS_ORACLE = r"""
WITH tgt AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
  FROM documents WHERE source = 'src0'
), tbg AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk), 1)),
                        i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
  FROM tgt WHERE len(tk) >= 2
), pairs AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM tbg
), mt AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tk
  FROM documents WHERE source <> 'src0'
), mbg AS (
  SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
                i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
  FROM mt WHERE len(tk) >= 2
), counts AS (
  SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c FROM mbg GROUP BY b.w1, b.w2
), ctx AS (
  SELECT w1, SUM(c) AS cx FROM counts GROUP BY w1
), kept AS (
  SELECT w1, w2, c FROM counts WHERE c >= 2
), unk AS (
  SELECT w1, SUM(c) AS uc FROM counts WHERE c < 2 GROUP BY w1
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(ln(COALESCE(kept.c, unk.uc, 1) / CAST(ctx.cx AS DOUBLE))), 6)
         + 0 AS avg_logprob
FROM pairs p
JOIN ctx ON p.w1 = ctx.w1
LEFT JOIN kept ON p.w1 = kept.w1 AND p.w2 = kept.w2
LEFT JOIN unk ON p.w1 = unk.w1
GROUP BY p.doc_id ORDER BY p.doc_id
"""

SPARK_IMPLS["text_bigram_cross"] = q_text_bigram_cross
ORACLES["text_bigram_cross"] = _BIGRAM_CROSS_ORACLE


# GROUP BY ALL — the modern-SQL ergonomic both engines accept verbatim
# (Spark 3.4+/DuckDB): every non-aggregate select item becomes a key.
_GROUPBY_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM lineitem
GROUP BY ALL
ORDER BY l_returnflag, l_linestatus, yr
"""

COMMON_SQL_EXTRA["groupby_all_year"] = _GROUPBY_ALL_SQL


def q_stats_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag modal quantity with the deterministic tie-break
    (engine mode() aggregates return arbitrary tie members — unusable
    under a value-hash contract)."""
    from hdk_spark.operators.stats import group_mode

    _tables(spark, sf_dir)
    return group_mode(
        spark.table("lineitem"), "l_returnflag", "l_quantity"
    ).orderBy("l_returnflag")


_STATS_MODE_ORACLE = """
WITH c AS (
  SELECT l_returnflag, l_quantity AS mode_value, COUNT(*) AS n_mode
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY l_returnflag, l_quantity
), r AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag
                               ORDER BY n_mode DESC, mode_value ASC) AS rn
  FROM c
)
SELECT l_returnflag, mode_value, n_mode FROM r WHERE rn = 1
ORDER BY l_returnflag
"""

SPARK_IMPLS["stats_mode"] = q_stats_mode
ORACLES["stats_mode"] = _STATS_MODE_ORACLE


# ---------------------------------------------------------------------------
# TPC-H completion: Q2 / Q11 / Q12 / Q16 shapes. With these, all 22 TPC-H
# query shapes are covered (the driver schema lacks partsupp, l_shipmode and
# the commit/receipt dates, so — exactly like the Q21 adaptation above —
# lineitem stands in as the part-supplier relation and categorical columns
# replace the missing ones; the distinctive plan shape of each query is
# preserved). Reference exercises the correlated-subquery class in
# omniscidb/Tests/CorrelatedSubqueryTest.cpp and the agg/join class
# throughout omniscidb/Tests/ExecuteTest.cpp.
# ---------------------------------------------------------------------------

# Q2 shape: correlated MIN subquery over a repeated 4-way join chain
# (min-cost supplier per part within a region), top-k by supplier
# balance. DISTINCT collapses multiple qualifying lineitems of the same
# (part, supplier); ORDER BY covers every output column so the LIMIT
# boundary is a total order (hash-stable on both engines). MIN over
# DOUBLE is order-independent — no decimal shim needed.
_Q2_SQL = """
SELECT DISTINCT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
       p_partkey, p_type
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_type = 'LARGE' AND r_name = 'EUROPE'
  AND l_extendedprice = (
      SELECT MIN(l2.l_extendedprice)
      FROM lineitem l2
      JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
      JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
      WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, p_type
LIMIT 100
"""

# Q11 shape: grouped decimal-exact value sum with HAVING against an
# uncorrelated scalar subquery that repeats the join chain (important-
# stock fraction filter). l_extendedprice*l_quantity stands in for
# ps_supplycost*ps_availqty; DECIMAL products keep both engines exact.
_Q11_SQL = """
SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
GROUP BY l_partkey
HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)))
       > (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_quantity AS DECIMAL(18,2))) * 0.001
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_7')
ORDER BY value DESC, l_partkey
"""

# Q12 shape: fact-fact join + conditional CASE counts split by order
# priority class over a one-year date window. l_linestatus stands in
# for l_shipmode; the returnflag predicate replaces the commit/receipt
# date ordering chain the driver schema doesn't carry.
_Q12_SQL = """
SELECT l_linestatus AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag = 'R'
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""

# Q16 shape: supplier-count-per-part-attribute with a NOT IN anti-
# membership subquery and COUNT(DISTINCT) over a multi-predicate
# filter (negative account balance stands in for the comment-LIKE
# complaints filter).
_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

COMMON_SQL_EXTRA["tpch_q2_min_cost_supplier"] = _Q2_SQL
COMMON_SQL_EXTRA["tpch_q11_important_stock"] = _Q11_SQL
COMMON_SQL_EXTRA["tpch_q12_priority_classes"] = _Q12_SQL
COMMON_SQL_EXTRA["tpch_q16_supplier_counts"] = _Q16_SQL


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (segment-level) exact dedup with reassembly: drop
    every 3-word segment appearing more than twice across the corpus,
    rebuild each document from its survivors in original order
    (operators/dedup.py::segment_dedup — the RefinedWeb line-dedup
    step, words mode because the synthetic corpus has no newlines)."""
    from hdk_spark.operators.dedup import segment_dedup

    _tables(spark, sf_dir)
    return segment_dedup(
        spark.table("documents"),
        mode="words",
        words_per_segment=3,
        max_freq=2,
        basis="text",  # exact keys pinned (production: xxhash64)
    ).orderBy("doc_id")


_DEDUP_SEGMENTS_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents
), seg AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS seg
  FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 3.0) AS BIGINT))) AS u(i)
), freq AS (
  SELECT lower(seg) AS seg_key, COUNT(*) AS seg_freq FROM seg GROUP BY 1
), j AS (
  SELECT s.doc_id, s.pos, s.seg, f.seg_freq
  FROM seg s JOIN freq f ON lower(s.seg) = f.seg_key
), agg AS (
  SELECT doc_id,
         COUNT(*) AS n_segments,
         SUM(CASE WHEN seg_freq > 2 THEN 1 ELSE 0 END) AS n_removed,
         array_to_string(
           list_transform(
             list_sort(list({'pos': pos, 'seg': seg})
                       FILTER (WHERE seg_freq <= 2)),
             x -> x.seg), ' ') AS clean_text
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""

SPARK_IMPLS["dedup_segments"] = q_dedup_segments
ORACLES["dedup_segments"] = _DEDUP_SEGMENTS_ORACLE


def q_sample_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: hash-uniform shard
    assignment + reproducible within-shard order decorrelated from the
    source order (operators/sampling.py::shuffle_shards)."""
    from hdk_spark.operators.sampling import shuffle_shards

    _tables(spark, sf_dir)
    return (
        shuffle_shards(spark.table("documents"), "doc_id", 8, seed=7)
        .select("doc_id", "shard", "shard_pos", "source")
        .orderBy("shard", "shard_pos")
    )


def _shuffle_shards_oracle() -> str:
    from hdk_spark.operators.sampling import _MOD, hash_bucket_sql

    shard = hash_bucket_sql("doc_id", 8, 7)
    oh = hash_bucket_sql("doc_id", _MOD, 8)
    return f"""
SELECT doc_id,
       CAST({shard} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY {shard}
                               ORDER BY {oh}, doc_id) - 1 AS BIGINT) AS shard_pos,
       source
FROM documents
ORDER BY shard, shard_pos
"""


def q_sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture plan: per-source availability vs target
    token shares with integer keep-rates / up-sampling epochs
    (operators/sampling.py::mixture_plan). src0 is down-sampled, src1
    over-asked (epochs 2), sources outside the target map get rate 0."""
    from hdk_spark.operators.sampling import mixture_plan

    _tables(spark, sf_dir)
    return mixture_plan(
        spark.table("documents"),
        "source",
        "n_chars",
        {"src0": 0.05, "src1": 0.2, "src2": 0.1, "src3": 0.65},
        budget_tokens=100_000,
    ).orderBy("group")


_MIXTURE_PLAN_ORACLE = """
WITH avail AS (
  SELECT source AS "group",
         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS available_tokens
  FROM documents GROUP BY source
)
SELECT "group", available_tokens,
       CAST(CASE "group"
            WHEN 'src0' THEN 5000
            WHEN 'src1' THEN 20000
            WHEN 'src2' THEN 10000
            WHEN 'src3' THEN 65000
            ELSE 0 END AS BIGINT) AS target_tokens,
       CAST(least((CASE "group"
            WHEN 'src0' THEN 5000
            WHEN 'src1' THEN 20000
            WHEN 'src2' THEN 10000
            WHEN 'src3' THEN 65000
            ELSE 0 END * 10000) // available_tokens, 10000) AS BIGINT) AS rate_bp,
       CAST((CASE "group"
            WHEN 'src0' THEN 5000
            WHEN 'src1' THEN 20000
            WHEN 'src2' THEN 10000
            WHEN 'src3' THEN 65000
            ELSE 0 END + available_tokens - 1) // available_tokens
            AS BIGINT) AS epochs
FROM avail
ORDER BY "group"
"""

SPARK_IMPLS["sample_shuffle_shards"] = q_sample_shuffle_shards
ORACLES["sample_shuffle_shards"] = _shuffle_shards_oracle()
SPARK_IMPLS["sample_mixture_plan"] = q_sample_mixture_plan
ORACLES["sample_mixture_plan"] = _MIXTURE_PLAN_ORACLE


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-order layout keys over (l_quantity, l_extendedprice)
    with catalog-style literal bounds (operators/layout.py::zorder_key
    — the OPTIMIZE ZORDER data-skipping layout; pure fixed-point
    int64 arithmetic, bit-identical in the SQL oracle)."""
    from hdk_spark.operators.layout import zorder_key

    _tables(spark, sf_dir)
    return (
        zorder_key(
            spark.table("lineitem"),
            ["l_quantity", "l_extendedprice"],
            bits=8,
            bounds={"l_quantity": (0.0, 50.0),
                    "l_extendedprice": (0.0, 600000.0)},
        )
        .filter(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_linenumber", "z")
        .orderBy("l_orderkey", "l_linenumber")
    )


def _layout_zorder_oracle() -> str:
    from hdk_spark.operators.layout import zorder_sql

    z = zorder_sql(
        ["l_quantity", "l_extendedprice"],
        [(0.0, 50.0), (0.0, 600000.0)],
        bits=8,
    )
    return f"""
SELECT l_orderkey, l_linenumber, {z} AS z
FROM lineitem WHERE l_orderkey < 2000
ORDER BY l_orderkey, l_linenumber
"""

SPARK_IMPLS["layout_zorder"] = q_layout_zorder
ORACLES["layout_zorder"] = _layout_zorder_oracle()


def q_temporal_rollup_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-grain rollup: per-event-type aggregates
    at hour/day/month grains in ONE grouping-sets pass
    (operators/temporal.py::multi_grain_rollup)."""
    from hdk_spark.operators.temporal import multi_grain_rollup

    _tables(spark, sf_dir)
    return multi_grain_rollup(
        spark.table("events"), "ts", "event_type", "value"
    ).orderBy("grain", "bucket_ts", "event_type")


_ROLLUP_GRAINS_ORACLE = """
WITH base AS (
  SELECT date_trunc('hour', ts)  AS g_hour,
         date_trunc('day', ts)   AS g_day,
         date_trunc('month', ts) AS g_month,
         event_type,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
)
SELECT CASE WHEN GROUPING(g_hour) = 0 THEN 'hour'
            WHEN GROUPING(g_day)  = 0 THEN 'day'
            ELSE 'month' END AS grain,
       COALESCE(g_hour, g_day, g_month) AS bucket_ts,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS sum_value
FROM base
GROUP BY GROUPING SETS ((g_hour, event_type), (g_day, event_type),
                        (g_month, event_type))
ORDER BY grain, bucket_ts, event_type
"""

SPARK_IMPLS["temporal_rollup_grains"] = q_temporal_rollup_grains
ORACLES["temporal_rollup_grains"] = _ROLLUP_GRAINS_ORACLE


def q_profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-validation suite over lineitem
    (operators/profile.py::expect): null checks, range checks, and a
    deliberately failing business rule — per-rule violation counts."""
    from hdk_spark.operators.profile import expect

    _tables(spark, sf_dir)
    return expect(
        spark.table("lineitem"),
        {
            "qty_in_range": "l_quantity BETWEEN 1 AND 50",
            "discount_bounded": "l_discount BETWEEN 0 AND 0.1",
            "price_positive": "l_extendedprice > 0",
            "ship_after_epoch": "l_shipdate >= TIMESTAMP '1990-01-01 00:00:00'",
            "small_discounts_only": "l_discount <= 0.05",
        },
    )


_PROFILE_EXPECT_ORACLE = """
WITH agg AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN COALESCE(l_quantity BETWEEN 1 AND 50, FALSE) THEN 0 ELSE 1 END) AS v_qty,
         SUM(CASE WHEN COALESCE(l_discount BETWEEN 0 AND 0.1, FALSE) THEN 0 ELSE 1 END) AS v_disc,
         SUM(CASE WHEN COALESCE(l_extendedprice > 0, FALSE) THEN 0 ELSE 1 END) AS v_price,
         SUM(CASE WHEN COALESCE(l_shipdate >= TIMESTAMP '1990-01-01 00:00:00', FALSE) THEN 0 ELSE 1 END) AS v_ship,
         SUM(CASE WHEN COALESCE(l_discount <= 0.05, FALSE) THEN 0 ELSE 1 END) AS v_small
  FROM lineitem
)
SELECT rule, CAST(n AS BIGINT) AS n_rows,
       CAST(nv AS BIGINT) AS n_violations, nv = 0 AS passed
FROM (
  SELECT 'discount_bounded' AS rule, n, v_disc AS nv FROM agg
  UNION ALL SELECT 'price_positive', n, v_price FROM agg
  UNION ALL SELECT 'qty_in_range', n, v_qty FROM agg
  UNION ALL SELECT 'ship_after_epoch', n, v_ship FROM agg
  UNION ALL SELECT 'small_discounts_only', n, v_small FROM agg
) t ORDER BY rule
"""


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution-drift report between two corpus snapshots
    (even vs odd doc_ids on n_chars — operators/profile.py::
    drift_report; per-bin log-ratio terms, shared literal bounds)."""
    from hdk_spark.operators.profile import drift_report

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    return drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        n_bins=10,
        lo=0.0,
        hi=600.0,
    )


_PROFILE_DRIFT_ORACLE = """
WITH a AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE doc_id % 2 = 0 AND n_chars BETWEEN 0 AND 600),
     b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE doc_id % 2 = 1 AND n_chars BETWEEN 0 AND 600),
     ha AS (SELECT CAST(least(floor(v / 600.0 * 10) + 1, 10) AS BIGINT) AS bin,
                   COUNT(*) AS n_a FROM a GROUP BY 1),
     hb AS (SELECT CAST(least(floor(v / 600.0 * 10) + 1, 10) AS BIGINT) AS bin,
                   COUNT(*) AS n_b FROM b GROUP BY 1),
     tots AS (SELECT (SELECT COUNT(*) FROM a) AS ta,
                     (SELECT COUNT(*) FROM b) AS tb)
SELECT bin,
       CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
       round((COALESCE(n_a, 0) / CAST(ta AS DOUBLE) + 0.000001
              - (COALESCE(n_b, 0) / CAST(tb AS DOUBLE) + 0.000001))
             * ln((COALESCE(n_a, 0) / CAST(ta AS DOUBLE) + 0.000001)
                  / (COALESCE(n_b, 0) / CAST(tb AS DOUBLE) + 0.000001)), 6)
         AS psi_term
FROM ha FULL JOIN hb USING (bin), tots
ORDER BY bin
"""

SPARK_IMPLS["profile_expectations"] = q_profile_expectations
ORACLES["profile_expectations"] = _PROFILE_EXPECT_ORACLE
SPARK_IMPLS["profile_drift"] = q_profile_drift
ORACLES["profile_drift"] = _PROFILE_DRIFT_ORACLE


def q_profile_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (operators/profile.py::snapshot_diff):
    corpus A = documents, corpus B = a refresh that drops every 10th
    doc and edits every 7th — each key classified added / removed /
    changed / unchanged with null-safe comparison."""
    from hdk_spark.operators.profile import snapshot_diff

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    b = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" edited"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(docs, b, "doc_id", ["text", "source"]).orderBy(
        "doc_id"
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 10 <> 0
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.text IS NOT DISTINCT FROM b.text
             AND a.source IS NOT DISTINCT FROM b.source THEN 'unchanged'
            ELSE 'changed' END AS status
FROM documents a FULL JOIN b ON a.doc_id = b.doc_id
ORDER BY doc_id
"""

SPARK_IMPLS["profile_snapshot_diff"] = q_profile_snapshot_diff
ORACLES["profile_snapshot_diff"] = _SNAPSHOT_DIFF_ORACLE


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash plumbing through the Arrow kernel
    (operators/multimodal.py::image_phash, fake codec path): the
    synthetic payload is the UTF-8 text, and the fake hash is the
    first 64 bits of md5(payload) — which DuckDB reproduces exactly,
    so the mapInPandas bit-packing and signed-wrap cross the oracle
    value-checked. (The real-DCT path is pinned by planted-duplicate
    tests in test_multimodal; DCT itself is not SQL-expressible.)"""
    from hdk_spark.operators.multimodal import (
        image_phash,
        synth_media_from_documents,
    )

    _tables(spark, sf_dir)
    media = synth_media_from_documents(spark.table("documents"), "image")
    return image_phash(media).orderBy("id")


_MULTIMODAL_PHASH_ORACLE = """
WITH h AS (
  SELECT doc_id, substr(md5(text), 1, 16) AS hx FROM documents
), v AS (
  SELECT doc_id,
         list_reduce(
           list_transform(range(1, 17),
             i -> CAST(strpos('0123456789abcdef',
                              substr(hx, CAST(i AS INT), 1)) - 1 AS HUGEINT)),
           (a, b) -> a * 16 + b) AS uv
  FROM h
)
SELECT doc_id AS id,
       CAST(CASE WHEN uv >= 9223372036854775808
                 THEN uv - 18446744073709551616::HUGEINT
                 ELSE uv END AS BIGINT) AS phash
FROM v ORDER BY id
"""

SPARK_IMPLS["multimodal_phash"] = q_multimodal_phash
ORACLES["multimodal_phash"] = _MULTIMODAL_PHASH_ORACLE


def q_linkage_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching over the distinct part names
    (operators/linkage.py::fuzzy_self_pairs): block on the last token
    ('bolt'/'gear'/...), verify with JVM levenshtein <= 2 — the
    entity-resolution shape, sub-quadratic by blocking."""
    from hdk_spark.operators.linkage import fuzzy_self_pairs

    _tables(spark, sf_dir)
    names = (
        spark.table("part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
    )
    return fuzzy_self_pairs(
        names, "name_id", "p_name", max_dist=2, block="last_token"
    ).orderBy("id_a", "id_b")


_LINKAGE_FUZZY_ORACLE = r"""
WITH names AS (
  SELECT p_name, MIN(p_partkey) AS name_id FROM part GROUP BY p_name
), keyed AS (
  SELECT name_id AS id, p_name AS txt,
         regexp_split_to_array(lower(trim(p_name)), '\s+')[-1] AS blk
  FROM names
)
SELECT a.id AS id_a, b.id AS id_b, a.txt AS text_a, b.txt AS text_b,
       CAST(levenshtein(a.txt, b.txt) AS INT) AS dist
FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.id < b.id
WHERE levenshtein(a.txt, b.txt) <= 2
ORDER BY id_a, id_b
"""

SPARK_IMPLS["linkage_fuzzy_names"] = q_linkage_fuzzy_names
ORACLES["linkage_fuzzy_names"] = _LINKAGE_FUZZY_ORACLE


def q_catalog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE parity (context.py::HDK.analyze, exact-NDV path):
    one-pass per-column n/nulls/min/max/ndv over lineitem's numeric
    columns — the catalog stats that feed zorder/histogram bounds."""
    import hdk_spark as hdk

    _tables(spark, sf_dir)
    eng = hdk.init(spark=spark)
    eng._tables["lineitem"] = spark.table("lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_linenumber",
            "l_partkey"]
    return eng.analyze("lineitem", cols, exact_ndv=True).df


_CATALOG_STATS_ORACLE = """
WITH base AS (SELECT COUNT(*) AS n FROM lineitem)
SELECT t.column, CAST(base.n AS BIGINT) AS n_rows, t.n_null, t.min_d, t.max_d, t.ndv
FROM base, (
  SELECT 'l_discount' AS column,
         CAST(COUNT(*) - COUNT(l_discount) AS BIGINT) AS n_null,
         CAST(MIN(l_discount) AS DOUBLE) AS min_d,
         CAST(MAX(l_discount) AS DOUBLE) AS max_d,
         CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS ndv FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
         CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE),
         CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', CAST(COUNT(*) - COUNT(l_linenumber) AS BIGINT),
         CAST(MIN(l_linenumber) AS DOUBLE), CAST(MAX(l_linenumber) AS DOUBLE),
         CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'l_partkey', CAST(COUNT(*) - COUNT(l_partkey) AS BIGINT),
         CAST(MIN(l_partkey) AS DOUBLE), CAST(MAX(l_partkey) AS DOUBLE),
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'l_quantity', CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
         CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
         CAST(COUNT(DISTINCT l_quantity) AS BIGINT) FROM lineitem
) t
ORDER BY t.column
"""

SPARK_IMPLS["catalog_stats"] = q_catalog_stats
ORACLES["catalog_stats"] = _CATALOG_STATS_ORACLE


# ---------------------------------------------------------------------------
# text-curation trio (round 5): Gopher quality rules, C4 line filter,
# n-gram repetition family — the highest-traffic curation operators
# (operators/text.py), oracle-checked against the published rule
# arithmetic re-expressed in DuckDB SQL. The flat word-soup documents
# table has no lines/symbols, so the gopher/C4 contract queries first
# synthesize them DETERMINISTICALLY (plain substring replace — left-to-
# right, non-overlapping on both engines): ' table '→'.\n' makes lines
# ending in periods, ' sort '→'\n- ' bullets, ' slow '→'...\n' ellipsis
# lines / 'javascript' blocklist hits, ' hash '→' # ' symbols, and the
# rare ' dup ' (5% of docs) → ' { ' exercises the C4 brace-drop path
# without trivializing the line rules.
# ---------------------------------------------------------------------------


def _prep_gopher(t):
    p = F.replace(t, F.lit(" table "), F.lit(".\n"))
    p = F.replace(p, F.lit(" sort "), F.lit("\n- "))
    p = F.replace(p, F.lit(" slow "), F.lit("...\n"))
    return F.replace(p, F.lit(" hash "), F.lit(" # "))


_PREP_GOPHER_SQL = (
    "replace(replace(replace(replace(text, ' table ', '.' || chr(10)),"
    " ' sort ', chr(10) || '- '),"
    " ' slow ', '...' || chr(10)),"
    " ' hash ', ' # ')"
)


def q_text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1) with per-rule
    observability (operators/text.py::gopher_quality_flags) over
    documents with synthesized lines/symbols; min_words lowered to 30
    so the word-count floor splits this corpus (~179/500 keep)."""
    from hdk_spark.operators.text import gopher_quality_flags

    _tables(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", _prep_gopher(F.col("text")).alias("text")
    )
    return gopher_quality_flags(docs, min_words=30).orderBy("doc_id")


_GOPHER_ORACLE = rf"""
WITH p AS (
  SELECT doc_id, {_PREP_GOPHER_SQL} AS t FROM documents
), f AS (
  SELECT doc_id, t,
         regexp_split_to_array(trim(t), '\s+') AS toks,
         regexp_split_to_array(trim(lower(t)), '\s+') AS ltoks,
         list_filter(list_transform(regexp_split_to_array(t, '\r?\n'),
                                    s -> trim(s)),
                     s -> length(s) > 0) AS lines
  FROM p
), m AS (
  SELECT doc_id, t, toks, lines,
         len(toks) AS n_words,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(toks, w -> CAST(length(w) AS BIGINT))),
           (a, b) -> a + b) AS total_chars,
         length(t) - length(replace(t, '#', '')) AS n_hash,
         (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) / 3.0
           AS n_ell,
         len(lines) AS n_lines,
         len(list_filter(lines, s -> s LIKE '%...')) AS ell_lines,
         len(list_filter(lines, s -> regexp_matches(s, '^[-*•]')))
           AS bul_lines,
         len(list_filter(['the','a','and','of','to','in','is','it','that','for'],
                         x -> list_contains(ltoks, x))) AS sw_hits
  FROM f
), r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0
              THEN CAST(total_chars AS DOUBLE) / n_words ELSE 0.0 END AS mwl,
         CASE WHEN n_words > 0
              THEN greatest(CAST(n_hash AS DOUBLE), n_ell) / n_words
              ELSE 0.0 END AS sr,
         CASE WHEN n_lines > 0
              THEN CAST(ell_lines AS DOUBLE) / n_lines ELSE 0.0 END AS er,
         CASE WHEN n_lines > 0
              THEN CAST(bul_lines AS DOUBLE) / n_lines ELSE 0.0 END AS br,
         sw_hits
  FROM m
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mwl, 6) AS mean_word_len,
       round(sr, 6) AS symbol_ratio,
       round(er, 6) AS ellipsis_ratio,
       round(br, 6) AS bullet_ratio,
       CAST(sw_hits AS BIGINT) AS stopword_hits,
       (n_words BETWEEN 30 AND 100000) AND mwl >= 3.0 AND mwl <= 10.0
         AND sr <= 0.1 AND er <= 0.3 AND br <= 0.9 AND sw_hits >= 2 AS keep
FROM r
ORDER BY doc_id
"""


def q_text_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line cleanup (Raffel et al. 2020 §2.2)
    (operators/text.py::c4_line_filter): terminal-punctuation +
    min-words + blocklist line rules, whole-doc brace drop."""
    from hdk_spark.operators.text import c4_line_filter

    _tables(spark, sf_dir)
    t = F.col("text")
    p = F.replace(t, F.lit(" table "), F.lit(".\n"))
    p = F.replace(p, F.lit(" slow "), F.lit(" javascript "))
    p = F.replace(p, F.lit(" dup "), F.lit(" { "))
    docs = spark.table("documents").select("doc_id", p.alias("text"))
    return c4_line_filter(docs).orderBy("doc_id")


_C4_BLOCK_RE = (
    "javascript|lorem\\ ipsum|cookie|cookies|terms\\ of\\ use|privacy\\ policy"
)

_C4_ORACLE = rf"""
WITH p AS (
  SELECT doc_id,
         replace(replace(replace(text, ' table ', '.' || chr(10)),
                 ' slow ', ' javascript '),
                 ' dup ', ' {{ ') AS t
  FROM documents
), f AS (
  SELECT doc_id, t,
         list_filter(list_transform(regexp_split_to_array(t, '\r?\n'),
                                    s -> trim(s)),
                     s -> length(s) > 0) AS lines
  FROM p
), k AS (
  SELECT doc_id, t, lines,
         list_filter(lines,
           s -> len(regexp_split_to_array(s, '\s+')) >= 3
                AND regexp_matches(s, '[.!?"]$')
                AND NOT regexp_matches(lower(s), '{_C4_BLOCK_RE}')) AS kept,
         contains(t, '{{') AS dropped
  FROM f
)
SELECT doc_id,
       CASE WHEN dropped THEN ''
            ELSE COALESCE(array_to_string(kept, chr(10)), '') END
         AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(CASE WHEN dropped THEN len(lines)
                 ELSE len(lines) - len(kept) END AS BIGINT)
         AS n_removed_lines,
       dropped
FROM k
ORDER BY doc_id
"""


def q_text_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher repetition family: per (doc, n∈2..10) the character
    mass of the top n-gram and of all duplicated n-grams
    (operators/text.py::ngram_repetition_signals)."""
    from hdk_spark.operators.text import ngram_repetition_signals

    _tables(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    # basis='text' pinned (production default is xxhash64 gram keys)
    return ngram_repetition_signals(docs, basis="text").orderBy("doc_id", "n")


_NGRAM_REP_ORACLE = r"""
WITH t AS (
  SELECT doc_id, length(text) AS chars,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), ns AS (
  SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n
), g AS (
  SELECT doc_id, chars, ns.n,
         unnest(CASE WHEN len(toks) < ns.n THEN [CAST(NULL AS VARCHAR)]
                ELSE list_transform(range(0, len(toks) - ns.n + 1),
                       i -> array_to_string(toks[i+1:i+ns.n], ' ')) END) AS gr
  FROM t CROSS JOIN ns
), per_gram AS (
  SELECT doc_id, n, gr, COUNT(*) AS c, MIN(chars) AS chars,
         length(gr) AS glen
  FROM g GROUP BY doc_id, n, gr
), per_doc AS (
  SELECT doc_id, n, MIN(chars) AS chars,
         SUM(CASE WHEN gr IS NOT NULL THEN c ELSE 0 END) AS n_grams,
         MAX(CASE WHEN gr IS NOT NULL THEN c * glen END) AS topmass,
         SUM(CASE WHEN gr IS NOT NULL AND c > 1 THEN c * glen ELSE 0 END)
           AS dupmass
  FROM per_gram GROUP BY doc_id, n
)
SELECT doc_id, CAST(n AS INTEGER) AS n,
       CAST(n_grams AS BIGINT) AS n_grams,
       round(COALESCE(CAST(topmass AS DOUBLE) / chars, 0.0), 6)
         AS top_char_frac,
       round(COALESCE(CAST(dupmass AS DOUBLE) / chars, 0.0), 6)
         AS dup_char_frac
FROM per_doc
ORDER BY doc_id, n
"""

SPARK_IMPLS["text_gopher_flags"] = q_text_gopher_flags
ORACLES["text_gopher_flags"] = _GOPHER_ORACLE
SPARK_IMPLS["text_c4_lines"] = q_text_c4_lines
ORACLES["text_c4_lines"] = _C4_ORACLE
SPARK_IMPLS["text_ngram_repetition"] = q_text_ngram_repetition
ORACLES["text_ngram_repetition"] = _NGRAM_REP_ORACLE


# ---------------------------------------------------------------------------
# round 5: driver rows for the remaining checkable library-only ops —
# star-variant connected components, incremental rollup merge, Bloom
# decontamination superset proof.
# ---------------------------------------------------------------------------


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as dedup_clusters but through the large-star/
    small-star variant (operators/graph.py::connected_components_star —
    the deep-chain scale path exercised by the ×100-edge stress);
    identical clusters, so the same recursive-closure oracle."""
    from hdk_spark.operators.dedup import ngram_jaccard_pairs
    from hdk_spark.operators.graph import duplicate_clusters

    _tables(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        spark.table("documents"), "doc_id", "text", n=3, threshold=0.5
    )
    return duplicate_clusters(pairs, algorithm="star")


def q_temporal_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate maintenance: rollup of two
    DISJOINT event slices (event_id parity stands in for yesterday's
    materialization + today's delta) merged WITHOUT touching the facts
    again (operators/temporal.py::merge_rollups). The oracle is the
    single-pass rollup over ALL events — the exact-mergeability
    property as a driver-checked row."""
    from hdk_spark.operators.temporal import merge_rollups, multi_grain_rollup

    _tables(spark, sf_dir)
    ev = spark.table("events")
    a = multi_grain_rollup(
        ev.filter(F.col("event_id") % 2 == 0), "ts", "event_type", "value"
    )
    b = multi_grain_rollup(
        ev.filter(F.col("event_id") % 2 == 1), "ts", "event_type", "value"
    )
    return merge_rollups(a, b).orderBy("grain", "bucket_ts", "event_type")


def q_dedup_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom decontamination vs the exact literal-array pass on the
    same 3-doc benchmark: emits the EXACT overlap plus two Bloom
    soundness invariants that are deterministic despite the filter's
    false positives — no false negatives means every exact-contaminated
    doc is Bloom-flagged (``bloom_superset_ok``) and every
    exact-overlapping shingle Bloom-hits (``hits_superset_ok``), so
    both columns are provably TRUE for every row and any violation
    hash-fails against the oracle's literals
    (operators/dedup.py::contamination_flags_bloom)."""
    from hdk_spark.operators.dedup import (
        contamination_flags,
        contamination_flags_bloom,
    )

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    eval_df = docs.filter(F.col("doc_id") < 3)
    bench = [r["text"] for r in eval_df.select("text").collect()]
    exact = contamination_flags(docs, bench, "doc_id", "text", n=3,
                                min_overlap=1)
    bloom = contamination_flags_bloom(
        docs, eval_df, "doc_id", "text", "text", n=3, min_overlap=1
    ).select(
        F.col("id"),
        F.col("n_hit_shingles"),
        F.col("contaminated").alias("bloom_contaminated"),
    )
    return (
        exact.join(bloom, "id")
        .select(
            "id",
            "n_overlap",
            F.col("contaminated").alias("exact_contaminated"),
            (F.col("bloom_contaminated") | ~F.col("contaminated"))
            .alias("bloom_superset_ok"),
            (F.col("n_hit_shingles") >= F.col("n_overlap"))
            .alias("hits_superset_ok"),
        )
        .orderBy("id")
    )


_BLOOM_DECONTAM_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1, 1)),
             i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+2]
           )
         ) AS s_list
  FROM documents
), bs AS (
  SELECT DISTINCT unnest(s_list) AS s FROM sh WHERE doc_id < 3
), e AS (
  SELECT doc_id, unnest(s_list) AS s FROM sh
), o AS (
  SELECT e.doc_id, count(*) AS n_overlap
  FROM e JOIN bs ON e.s = bs.s
  GROUP BY e.doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       coalesce(o.n_overlap, 0) >= 1 AS exact_contaminated,
       TRUE AS bloom_superset_ok,
       TRUE AS hits_superset_ok
FROM documents d LEFT JOIN o ON d.doc_id = o.doc_id
ORDER BY id
"""

SPARK_IMPLS["dedup_clusters_star"] = q_dedup_clusters_star
ORACLES["dedup_clusters_star"] = _DEDUP_CLUSTERS_ORACLE
SPARK_IMPLS["temporal_rollup_merge"] = q_temporal_rollup_merge
ORACLES["temporal_rollup_merge"] = _ROLLUP_GRAINS_ORACLE
SPARK_IMPLS["dedup_bloom_decontam"] = q_dedup_bloom_decontam
ORACLES["dedup_bloom_decontam"] = _BLOOM_DECONTAM_ORACLE


def q_linkage_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-relation blocked fuzzy join (operators/linkage.py::
    fuzzy_join — the linkage variant fuzzy_self_pairs doesn't cover):
    even-keyed part names matched against odd-keyed ones on the
    last-token block with levenshtein <= 2, all columns of both sides
    preserved plus dist."""
    from hdk_spark.operators.linkage import fuzzy_join

    _tables(spark, sf_dir)
    names = (
        spark.table("part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
    )
    left = names.filter(F.col("name_id") % 2 == 0).select(
        F.col("name_id").alias("a_id"), F.col("p_name").alias("a_name")
    )
    right = names.filter(F.col("name_id") % 2 == 1).select(
        F.col("name_id").alias("b_id"), F.col("p_name").alias("b_name")
    )
    return fuzzy_join(left, right, "a_name", "b_name", max_dist=2).orderBy(
        "a_id", "b_id"
    )


_LINKAGE_FUZZY_JOIN_ORACLE = r"""
WITH names AS (
  SELECT p_name, MIN(p_partkey) AS name_id FROM part GROUP BY p_name
), l AS (
  SELECT name_id AS a_id, p_name AS a_name,
         regexp_split_to_array(lower(trim(p_name)), '\s+')[-1] AS blk
  FROM names WHERE name_id % 2 = 0
), r AS (
  SELECT name_id AS b_id, p_name AS b_name,
         regexp_split_to_array(lower(trim(p_name)), '\s+')[-1] AS blk
  FROM names WHERE name_id % 2 = 1
)
SELECT l.a_id, l.a_name, r.b_id, r.b_name,
       CAST(levenshtein(l.a_name, r.b_name) AS INT) AS dist
FROM l JOIN r ON l.blk = r.blk
WHERE levenshtein(l.a_name, r.b_name) <= 2
ORDER BY a_id, b_id
"""

SPARK_IMPLS["linkage_fuzzy_join"] = q_linkage_fuzzy_join
ORACLES["linkage_fuzzy_join"] = _LINKAGE_FUZZY_JOIN_ORACLE


# ---------------------------------------------------------------------------
# round 5: exact repeated-substring spans (Lee et al. 2021 exact-
# substring dedup, window-granular) + the remove-and-rejoin rewrite.
# ---------------------------------------------------------------------------


def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal 4-token-window repeated-substring spans across the
    corpus (operators/dedup.py::duplicate_spans, basis='text' — the
    exact oracle-expressible grouping; production defaults to
    xxhash64 keys)."""
    from hdk_spark.operators.dedup import duplicate_spans

    _tables(spark, sf_dir)
    return duplicate_spans(
        spark.table("documents"), n=4, min_count=2, basis="text"
    ).orderBy("doc_id", "span_start")


_DUP_SPANS_CTE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), wl AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(toks) - 4 + 1),
                i -> {'pos': i, 'win': array_to_string(toks[i+1:i+4], ' ')}))
           AS w
  FROM t WHERE len(toks) >= 4
), wins AS (
  SELECT doc_id, w.pos AS pos, w.win AS win FROM wl
), freq AS (
  SELECT win, COUNT(*) AS wc FROM wins GROUP BY win
), dup AS (
  SELECT wins.doc_id, wins.pos
  FROM wins JOIN freq ON wins.win = freq.win
  WHERE freq.wc >= 2
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
              THEN 1 ELSE 0 END AS brk
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), spans AS (
  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(MAX(pos) + 3 AS BIGINT) AS span_end,
         CAST(COUNT(*) AS BIGINT) AS n_windows
  FROM isl GROUP BY doc_id, g
)
"""

_DUP_SPANS_ORACLE = (
    _DUP_SPANS_CTE
    + "SELECT * FROM spans ORDER BY doc_id, span_start"
)


def q_dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove-and-rejoin rewrite of the corpus from its duplicate
    spans (operators/dedup.py::remove_duplicate_spans): every doc
    with its repeated-substring token ranges cut out, span-free docs
    passing through whole."""
    from hdk_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    spans = duplicate_spans(docs, n=4, min_count=2, basis="text")
    return remove_duplicate_spans(docs, spans).orderBy("doc_id")


_REMOVE_SPANS_ORACLE = (
    _DUP_SPANS_CTE
    + r""", persp AS (
  SELECT doc_id, list({'s': span_start, 'e': span_end}) AS sps
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(0, len(t.toks)),
             i -> len(list_filter(COALESCE(persp.sps, []),
                      p -> i >= p.s AND i <= p.e)) = 0),
           i -> t.toks[i + 1]),
         ' '), '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(range(0, len(t.toks)),
             i -> len(list_filter(COALESCE(persp.sps, []),
                      p -> i >= p.s AND i <= p.e)) > 0)) AS BIGINT)
         AS n_removed_tokens
FROM t LEFT JOIN persp ON t.doc_id = persp.doc_id
ORDER BY t.doc_id
"""
)

SPARK_IMPLS["dedup_duplicate_spans"] = q_dedup_duplicate_spans
ORACLES["dedup_duplicate_spans"] = _DUP_SPANS_ORACLE
SPARK_IMPLS["dedup_remove_spans"] = q_dedup_remove_spans
ORACLES["dedup_remove_spans"] = _REMOVE_SPANS_ORACLE


# ---------------------------------------------------------------------------
# round 5: sketch precision/recall tuning report — the measured answer
# to "are (num_perm, bands) right for this corpus?" before a full run.
# ---------------------------------------------------------------------------


def q_dedup_sketch_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH quality report vs exact n-gram Jaccard
    (operators/dedup.py::sketch_pr_report) with a deliberately noisy
    sketch (16 perms / 8 bands) at threshold 0.1 so the FP arithmetic
    is exercised (md5 basis pinned — the oracle reproduces both passes
    and must land on identical precision/recall/F1)."""
    from hdk_spark.operators.dedup import sketch_pr_report

    _tables(spark, sf_dir)
    return sketch_pr_report(
        spark.table("documents"), threshold=0.1, num_perm=16, bands=8,
        hash_basis="md5",
    )


def _sketch_pr_oracle() -> str:
    exact_sql = _NGRAM_JACCARD_ORACLE.replace(">= 0.5", ">= 0.1")
    approx_sql = _minhash_oracle(
        n=3, num_perm=16, bands=8, threshold=0.1
    )
    return f"""
WITH exact AS (
  SELECT id_a, id_b FROM ( {exact_sql} )
), approx AS (
  SELECT id_a, id_b FROM ( {approx_sql} )
), j AS (
  SELECT COALESCE(e.id_a, a.id_a) AS ia,
         e.id_a IS NOT NULL AS in_e, a.id_a IS NOT NULL AS in_a
  FROM exact e FULL OUTER JOIN approx a
       ON e.id_a = a.id_a AND e.id_b = a.id_b
), c AS (
  SELECT CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN NOT in_e AND in_a THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN in_e AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM j
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
)
SELECT nd.n_docs,
       c.tp + c.fn AS exact_pairs,
       c.tp + c.fp AS approx_pairs,
       c.tp AS true_pos, c.fp AS false_pos, c.fn AS false_neg,
       round(COALESCE(CAST(c.tp AS DOUBLE) / NULLIF(c.tp + c.fp, 0), 0.0), 6)
         + 0 AS precision,
       round(COALESCE(CAST(c.tp AS DOUBLE) / NULLIF(c.tp + c.fn, 0), 0.0), 6)
         + 0 AS recall,
       round(COALESCE(2.0 * c.tp / NULLIF(2.0 * c.tp + c.fp + c.fn, 0), 0.0), 6)
         + 0 AS f1
FROM c, nd
"""


SPARK_IMPLS["dedup_sketch_pr"] = q_dedup_sketch_pr
ORACLES["dedup_sketch_pr"] = _sketch_pr_oracle()


# ---------------------------------------------------------------------------
# round 5: StarCoder-style code-corpus quality rules
# ---------------------------------------------------------------------------


def q_text_code_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-corpus quality rules (operators/text.py::code_quality_flags)
    over documents with synthesized line structure (' table '→newline)
    and autogen markers (' slow '→' auto-generated ', which lands in
    the 5-line head for some docs); tightened line-length thresholds so
    the length rules split this corpus."""
    from hdk_spark.operators.text import code_quality_flags

    _tables(spark, sf_dir)
    t = F.col("text")
    p = F.replace(t, F.lit(" table "), F.lit("\n"))
    p = F.replace(p, F.lit(" slow "), F.lit(" auto-generated "))
    docs = spark.table("documents").select("doc_id", p.alias("text"))
    return code_quality_flags(
        docs, max_line_len=220, max_mean_line_len=80
    ).orderBy("doc_id")


_CODE_FLAGS_ORACLE = r"""
WITH p AS (
  SELECT doc_id,
         replace(replace(text, ' table ', chr(10)),
                 ' slow ', ' auto-generated ') AS t
  FROM documents
), f AS (
  SELECT doc_id, t,
         list_filter(regexp_split_to_array(t, '\r?\n'),
                     s -> length(s) > 0) AS ne,
         regexp_split_to_array(t, '\r?\n') AS lines
  FROM p
), m AS (
  SELECT doc_id, t, ne,
         len(ne) AS n_lines,
         COALESCE(list_max(list_transform(ne, s -> CAST(length(s) AS BIGINT))),
                  0) AS max_ll,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(ne, s -> CAST(length(s) AS BIGINT))),
           (a, b) -> a + b) AS total_ll,
         length(t) AS n_chars,
         length(t) - length(regexp_replace(t, '[A-Za-z0-9]', '', 'g'))
           AS n_alnum,
         length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
           AS n_alpha,
         contains(lower(array_to_string(lines[1:5], chr(10))),
                  'auto-generated')
         OR contains(lower(array_to_string(lines[1:5], chr(10))),
                  'autogenerated')
         OR contains(lower(array_to_string(lines[1:5], chr(10))),
                  'generated by')
         OR contains(lower(array_to_string(lines[1:5], chr(10))),
                  'do not edit') AS autogen
  FROM f
), r AS (
  SELECT doc_id, n_lines, max_ll,
         CASE WHEN n_lines > 0
              THEN CAST(total_ll AS DOUBLE) / n_lines ELSE 0.0 END AS mll,
         CASE WHEN n_chars > 0
              THEN CAST(n_alnum AS DOUBLE) / n_chars ELSE 0.0 END AS anf,
         CASE WHEN n_chars > 0
              THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS apf,
         autogen
  FROM m
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(max_ll AS BIGINT) AS max_line_len,
       round(mll, 6) AS mean_line_len,
       round(anf, 6) AS alnum_frac,
       round(apf, 6) AS alpha_frac,
       autogen,
       (max_ll <= 220) AND (mll <= 80) AND anf >= 0.25 AND apf >= 0.25
         AND NOT autogen AS keep
FROM r
ORDER BY doc_id
"""

SPARK_IMPLS["text_code_flags"] = q_text_code_flags
ORACLES["text_code_flags"] = _CODE_FLAGS_ORACLE


# ---------------------------------------------------------------------------
# round 5: streaming repeated-substring flagging (the stream_span_flags
# crawl-ingest analog of duplicate_spans)
# ---------------------------------------------------------------------------


def q_streaming_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest span flagging: documents with doc_id % 10 == 0
    arrive as a stream; each of their 4-token windows is checked
    against the stored window-frequency relation of the REST of the
    corpus (operators/dedup.py::window_freq_relation) in a stateless
    stream-static join that emits one row per duplicated window
    (streaming.py::stream_span_flags). basis='text' pinned so the
    oracle reproduces the keys."""
    from hdk_spark.operators.dedup import window_freq_relation
    from hdk_spark.streaming import stream_span_flags

    _tables(spark, sf_dir)
    new_stream = _documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0
    )
    freq = window_freq_relation(
        spark.table("documents").filter(F.col("doc_id") % 10 != 0),
        n=4, basis="text",
    )
    out = stream_span_flags(new_stream, freq, n=4, basis="text")
    name = _run_stream(out, "append")
    return spark.table(name).orderBy("doc_id", "pos")


_STREAM_SPAN_FLAGS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), w AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(toks) - 4 + 1),
                i -> {'pos': i, 'win': array_to_string(toks[i+1:i+4], ' ')}))
           AS u
  FROM t WHERE len(toks) >= 4
), wins AS (
  SELECT doc_id, u.pos AS pos, u.win AS win FROM w
), corp AS (
  SELECT win FROM wins WHERE doc_id % 10 <> 0 GROUP BY win
)
SELECT n.doc_id, CAST(n.pos AS BIGINT) AS pos, n.win AS wkey
FROM wins n JOIN corp c ON n.win = c.win
WHERE n.doc_id % 10 = 0
ORDER BY doc_id, pos
"""

SPARK_IMPLS["streaming_span_flags"] = q_streaming_span_flags
ORACLES["streaming_span_flags"] = _STREAM_SPAN_FLAGS_ORACLE


# ---------------------------------------------------------------------------
# round 5: tokenizer-vocabulary coverage
# ---------------------------------------------------------------------------


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV report against the corpus's own top-20 terms
    (operators/text.py::vocab_coverage, DataFrame-vocabulary join
    path; top-k tie-break count desc / token asc is deterministic on
    both engines)."""
    from hdk_spark.operators.text import top_terms, vocab_coverage

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    vocab = top_terms(docs, "text", k=20).select("token")
    return vocab_coverage(docs, vocab).orderBy("doc_id")


_VOCAB_COVERAGE_ORACLE = r"""
WITH vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n
    FROM (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ) t
    WHERE len(token) >= 1
    GROUP BY token
  ) c ORDER BY n DESC, token LIMIT 20
), e AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), j AS (
  SELECT e.doc_id, e.tok, vocab.token IS NOT NULL AS hit
  FROM e LEFT JOIN vocab ON e.tok = vocab.token
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       round(SUM(CASE WHEN hit THEN 0 ELSE 1 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_frac
FROM j GROUP BY doc_id ORDER BY doc_id
"""

SPARK_IMPLS["text_vocab_coverage"] = q_text_vocab_coverage
ORACLES["text_vocab_coverage"] = _VOCAB_COVERAGE_ORACLE


def q_dedup_window_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-granular eval-set decontamination (operators/dedup.py::
    eval_contaminated_spans — the GPT-3/Llama 13-gram-style check at
    n=4 on the test corpus): documents 0-19 play the eval suite, the
    rest are the training corpus; every maximal training-token span
    covered by a verbatim eval window is emitted. basis='text' is the
    exact oracle-expressible keying; production defaults to
    xxhash64."""
    from hdk_spark.operators.dedup import eval_contaminated_spans

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    return eval_contaminated_spans(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        n=4,
        basis="text",
    ).orderBy("doc_id", "span_start")


_WINDOW_DECONTAM_CTE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), wl AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(toks) - 4 + 1),
                i -> {'pos': i, 'win': array_to_string(toks[i+1:i+4], ' ')}))
           AS w
  FROM t WHERE len(toks) >= 4
), wins AS (
  SELECT doc_id, w.pos AS pos, w.win AS win FROM wl
), ev AS (
  SELECT DISTINCT win FROM wins WHERE doc_id < 20
), hit AS (
  SELECT wins.doc_id, wins.pos
  FROM wins JOIN ev ON wins.win = ev.win
  WHERE wins.doc_id >= 20
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
              THEN 1 ELSE 0 END AS brk
  FROM hit
), isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), spans AS (
  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(MAX(pos) + 3 AS BIGINT) AS span_end,
         CAST(COUNT(*) AS BIGINT) AS n_windows
  FROM isl GROUP BY doc_id, g
)
"""

_WINDOW_DECONTAM_ORACLE = (
    _WINDOW_DECONTAM_CTE
    + "SELECT * FROM spans ORDER BY doc_id, span_start"
)


def q_dedup_window_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter window decontamination vs the exact pass on the
    same eval/train split (operators/dedup.py::
    eval_contaminated_spans_bloom): per training document, the EXACT
    span/window counts plus two Bloom soundness invariants that are
    deterministic despite false positives — no false negatives means
    every exact span is covered by a Bloom span (``bloom_covers_ok``)
    and the Bloom pass flags at least as many windows
    (``bloom_hits_ge_ok``) — both provably TRUE for every row, so any
    violation hash-fails against the oracle's literals (the
    dedup_bloom_decontam pattern at window granularity)."""
    from hdk_spark.operators.dedup import (
        eval_contaminated_spans,
        eval_contaminated_spans_bloom,
    )

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    train = docs.filter(F.col("doc_id") >= 20)
    ev = docs.filter(F.col("doc_id") < 20)
    exact = eval_contaminated_spans(train, ev, n=4, basis="text")
    # read twice below (the coverage join and the per-doc window sum):
    # cached, so the Python hit kernel runs once
    bloom, caches = _persist_internal(
        eval_contaminated_spans_bloom(train, ev, n=4))
    e = exact.select(
        F.col("doc_id").alias("id"),
        F.col("span_start").alias("es"),
        F.col("span_end").alias("ee"),
        F.col("n_windows").alias("ew"),
    )
    b = bloom.select(
        F.col("doc_id").alias("id"),
        F.col("span_start").alias("bs"),
        F.col("span_end").alias("be"),
        F.col("n_windows").alias("bw"),
    )
    cov = e.join(
        b,
        (e["id"] == b["id"]) & (b["bs"] <= e["es"]) & (e["ee"] <= b["be"]),
        "left",
    ).select(e["id"].alias("id"), "es", "ew", "bs")
    per_doc = cov.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_spans"),
        F.sum("ew").cast("long").alias("n_exact_windows"),
        F.sum(F.when(F.col("bs").isNull(), 1).otherwise(0)).alias("__unc"),
    )
    bloom_doc = b.groupBy("id").agg(F.sum("bw").alias("__bw"))
    return _attach_caches(
        train.select(F.col("doc_id").alias("id"))
        .join(per_doc, "id", "left")
        .join(bloom_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_exact_spans", F.lit(0)).cast("long")
            .alias("n_exact_spans"),
            F.coalesce("n_exact_windows", F.lit(0)).cast("long")
            .alias("n_exact_windows"),
            (F.coalesce("__unc", F.lit(0)) == 0).alias("bloom_covers_ok"),
            (
                F.coalesce("__bw", F.lit(0))
                >= F.coalesce("n_exact_windows", F.lit(0))
            ).alias("bloom_hits_ge_ok"),
        )
        .orderBy("id"),
        caches,
    )


_WINDOW_DECONTAM_BLOOM_ORACLE = (
    _WINDOW_DECONTAM_CTE
    + r""", per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_exact_spans,
         CAST(SUM(n_windows) AS BIGINT) AS n_exact_windows
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(per_doc.n_exact_spans, 0) AS BIGINT) AS n_exact_spans,
       CAST(coalesce(per_doc.n_exact_windows, 0) AS BIGINT)
         AS n_exact_windows,
       TRUE AS bloom_covers_ok,
       TRUE AS bloom_hits_ge_ok
FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
ORDER BY id
"""
)

SPARK_IMPLS["dedup_window_decontam"] = q_dedup_window_decontam
ORACLES["dedup_window_decontam"] = _WINDOW_DECONTAM_ORACLE
SPARK_IMPLS["dedup_window_decontam_bloom"] = q_dedup_window_decontam_bloom
ORACLES["dedup_window_decontam_bloom"] = _WINDOW_DECONTAM_BLOOM_ORACLE


def q_text_scorer_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the hashed quality scorer (operators/text.py::
    train_quality_scorer — deterministic full-batch logistic
    regression over md5-hashed bag-of-words, quantized-DECIMAL
    gradients): 2 iterations, 8 buckets, labels = (lang = 'en'),
    emitting the weight vector after EACH iteration. The oracle
    replays the entire training unrolled in SQL (the embedding_kmeans
    2-round-unroll pattern): iteration 1's sigmoid is exactly 0.5
    (zero weights), iteration 2 recomputes the per-doc sigmoid from
    iteration-1 weights; gradients are exact DECIMAL(38,0) sums of
    1e-6-quantized residual terms, weight updates plain IEEE doubles
    — bit-identical on both engines."""
    from hdk_spark.operators.text import train_quality_scorer

    _tables(spark, sf_dir)
    docs = spark.table("documents").withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    hist = train_quality_scorer(
        docs, "y", n_buckets=8, iterations=2, lr=1.0, return_history=True
    )
    rows = [(b, hist[0][b], hist[1][b]) for b in range(8)]
    return spark.createDataFrame(
        rows, "bucket: long, w_iter1: double, weight: double"
    )


_SCORER_TRAIN_CTE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
), f AS (
  SELECT y, CAST(len(tk) AS BIGINT) AS n,
         list_transform(range(0, 8), b ->
           len(list_filter(tk, x ->
             (CAST('0x' || substring(md5(x), 1, 8) AS BIGINT) % 8) = b)))
           AS c
  FROM t WHERE len(tk) >= 1
), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM f),
u AS (SELECT unnest(range(0, 8)) AS b),
g1 AS (
  SELECT u.b AS b,
         SUM(CAST(round((0.5 - f.y) / f.n * 1000000.0) AS DECIMAL(38,0))
             * f.c[u.b + 1]) AS g
  FROM f, u GROUP BY u.b
),
w1 AS (
  SELECT g1.b AS b,
         (0.0 - 1.0 * (CAST(g1.g AS DOUBLE) / (1000000.0 * m.m))) + 0.0 AS w
  FROM g1, m
),
w1a AS (SELECT list(w ORDER BY b) AS wa FROM w1),
s2 AS (
  SELECT f.y, f.n, f.c,
         1.0 / (1.0 + exp(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(0, 8), b -> w1a.wa[b + 1] * f.c[b + 1])),
             (a, x) -> a + x) / f.n))) AS p
  FROM f, w1a
),
g2 AS (
  SELECT u.b AS b,
         SUM(CAST(round((s2.p - s2.y) / s2.n * 1000000.0) AS DECIMAL(38,0))
             * s2.c[u.b + 1]) AS g
  FROM s2, u GROUP BY u.b
),
w2 AS (
  SELECT g2.b AS b,
         (w1.w - 1.0 * (CAST(g2.g AS DOUBLE) / (1000000.0 * m.m))) + 0.0 AS w
  FROM g2 JOIN w1 ON g2.b = w1.b, m
)
"""

_SCORER_TRAIN_ORACLE = (
    _SCORER_TRAIN_CTE
    + """SELECT CAST(w1.b AS BIGINT) AS bucket, w1.w AS w_iter1, w2.w AS weight
FROM w1 JOIN w2 ON w1.b = w2.b
ORDER BY bucket
"""
)

SPARK_IMPLS["text_scorer_train"] = q_text_scorer_train
ORACLES["text_scorer_train"] = _SCORER_TRAIN_ORACLE


def q_text_scorer_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED training loop: fit the scorer
    (train_quality_scorer, 2 iterations, 8 buckets, lang='en' labels)
    and immediately APPLY the trained weights to the corpus through
    hashed_linear_score's per-token left fold — train and apply are
    different float summation orders over the same model, so this
    query proves the handoff, not just the fit. The oracle re-runs
    the unrolled training SQL and replays the token-fold scoring with
    the CTE's weight list."""
    from hdk_spark.operators.text import (
        hashed_linear_score,
        train_quality_scorer,
    )

    _tables(spark, sf_dir)
    docs = spark.table("documents").withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    w = train_quality_scorer(
        docs, "y", n_buckets=8, iterations=2, lr=1.0
    )
    return hashed_linear_score(
        spark.table("documents"), n_buckets=8, weights=w
    ).orderBy("doc_id")


_SCORER_SCORE_ORACLE = (
    _SCORER_TRAIN_CTE
    + """, w2a AS (SELECT list(w ORDER BY b) AS wa FROM w2)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       round(1/(1+exp(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(t.tk, x -> w2a.wa[
             (CAST('0x' || substring(md5(x), 1, 8) AS BIGINT) % 8) + 1])),
           (a, b) -> a + b))
         / greatest(len(t.tk), 1))), 6) AS score
FROM t, w2a ORDER BY t.doc_id
"""
)

SPARK_IMPLS["text_scorer_score"] = q_text_scorer_score
ORACLES["text_scorer_score"] = _SCORER_SCORE_ORACLE


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed character-trigram language classifier over 26 languages
    (operators/text.py::lang_id_ngram — the fastText-shaped upgrade of
    the stopword-hit heuristic): per doc, argmax of 26 literal-weight
    scores over md5-bucketed trigrams. Every step is exact rational /
    fixed-order double arithmetic; the oracle rebuilds the same
    seed-derived model in Python and replays scoring + argmax with
    DuckDB list folds."""
    from hdk_spark.operators.text import lang_id_ngram

    _tables(spark, sf_dir)
    return lang_id_ngram(
        spark.table("documents"), basis="md5"
    ).orderBy("doc_id")


def _lang_score_cte(
    source: str,
    sel: "tuple[str, ...]",
    n_buckets: int = 256,
    prefix: str = "",
) -> str:
    """CTE chunk scoring the seed lang-ID model over ``source``
    (doc_id, text): emits ``{p}g`` (per-doc trigram bucket indices)
    through ``{p}best`` (doc_id, n, nd, isums, bi) — the shared
    machinery of the standalone lang-ID oracle and the composed crawl
    pipeline's language stage. Starts with ", " (appends to an open
    WITH list)."""
    from hdk_spark.operators.text import _lang_ngram_model, _micro

    model = _lang_ngram_model(n_buckets, sel, "md5")
    # weight relation: one row per bucket, one integer micro-weight
    # column per language — the order-independent join+SUM replay the
    # integer-sum scoring contract allows (a gram-by-gram fold replay
    # measured ~100x slower in DuckDB: literal arrays re-materialize
    # per lambda)
    p = prefix
    cols = ", ".join(f"w{i}" for i in range(len(sel)))
    rows = ", ".join(
        "(" + str(b) + ", "
        + ", ".join(str(_micro(model[lang][b])) for lang in sel) + ")"
        for b in range(n_buckets)
    )
    sums = ", ".join(
        f"SUM({p}w.w{i}) AS s{i}" for i in range(len(sel))
    )
    isum_list = ", ".join(
        f"CAST(coalesce({p}s.s{i}, 0) AS BIGINT)" for i in range(len(sel))
    )
    return rf""", {p}t AS (
  SELECT doc_id,
         ' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g') || ' '
           AS s
  FROM {source}
), {p}g AS (
  SELECT doc_id,
         CASE WHEN s IS NOT NULL AND len(s) >= 3
              THEN list_transform(range(1, len(s) - 1),
                     i -> CAST(
                       CAST('0x' || substring(md5(substr(s, i, 3)), 1, 8)
                            AS BIGINT) % {n_buckets} AS INT))
              ELSE [] END AS bidx
  FROM {p}t
), {p}e AS (
  SELECT doc_id, unnest(bidx) AS b FROM {p}g
), {p}w(b, {cols}) AS (VALUES {rows}),
{p}s AS (
  SELECT {p}e.doc_id, {sums}
  FROM {p}e JOIN {p}w ON {p}e.b = {p}w.b GROUP BY {p}e.doc_id
), {p}sc AS (
  SELECT {p}g.doc_id, len({p}g.bidx) AS n,
         CAST(greatest(len({p}g.bidx), 1) AS BIGINT) AS nd,
         [{isum_list}] AS isums
  FROM {p}g LEFT JOIN {p}s ON {p}g.doc_id = {p}s.doc_id
), {p}best AS (
  SELECT doc_id, n, nd, isums,
         list_aggregate(isums, 'max') AS bi
  FROM {p}sc
)"""


def _lang_id_oracle(n_buckets: int = 256) -> str:
    from hdk_spark.operators.text import LANG_SEEDS

    sel = tuple(sorted(LANG_SEEDS))
    langs_lit = ", ".join(f"'{x}'" for x in sel)
    return (
        "WITH src AS (SELECT doc_id, text FROM documents)"
        + _lang_score_cte("src", sel, n_buckets)
        + f"""
SELECT doc_id,
       CASE WHEN n = 0 THEN 'und'
            ELSE [{langs_lit}][list_position(isums, bi)] END AS lang,
       CASE WHEN n = 0 THEN 0.0
            ELSE CAST(CASE WHEN bi >= 0
                           THEN (2 * bi + nd) // (2 * nd)
                           ELSE -(((-2) * bi + nd) // (2 * nd)) END
                      AS DOUBLE) / 1000000.0 END AS score,
       CAST(n AS BIGINT) AS n_grams
FROM best ORDER BY doc_id
"""
    )


SPARK_IMPLS["text_lang_id"] = q_text_lang_id
ORACLES["text_lang_id"] = _lang_id_oracle()


def q_multimodal_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG codec driven driver-side
    (operators/multimodal.py::progressive_probe): per document a
    solid-gray image is encoded as a SOF2 progressive stream (restart
    markers on) and decoded back through the Annex-G scan machinery;
    solid payloads make the lossy codec exact, so the oracle
    recomputes the decoded plane's md5 as repeat(chr(gray), w*h) —
    any pixel-level regression in the progressive path fails the
    digest (closes the last driver-checkable library-only row)."""
    from hdk_spark.operators.multimodal import progressive_probe

    _tables(spark, sf_dir)
    return progressive_probe(spark.table("documents")).orderBy("id")


_MULTIMODAL_PROGRESSIVE_ORACLE = """
WITH m AS (
  SELECT doc_id AS id,
         length(text) % 24 + 8 AS width,
         length(text) % 16 + 8 AS height,
         length(text) % 96 + 32 AS gray
  FROM documents
)
SELECT id,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(gray AS INT) AS gray,
       6 AS n_sos,
       1 AS n_dri,
       md5(repeat(chr(CAST(gray AS INT)), width * height)) AS pix_md5
FROM m ORDER BY id
"""

SPARK_IMPLS["multimodal_progressive"] = q_multimodal_progressive
ORACLES["multimodal_progressive"] = _MULTIMODAL_PROGRESSIVE_ORACLE


def q_dedup_window_decontam_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination REMOVAL path end to end: the training
    corpus rewritten with its eval-window spans cut out
    (eval_contaminated_spans ∘ remove_duplicate_spans — the same
    remove-and-rejoin operator the duplicate-span family uses, proving
    the span schema contract holds across producers)."""
    from hdk_spark.operators.dedup import (
        eval_contaminated_spans,
        remove_duplicate_spans,
    )

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    train = docs.filter(F.col("doc_id") >= 20)
    spans = eval_contaminated_spans(
        train, docs.filter(F.col("doc_id") < 20), n=4, basis="text"
    )
    return remove_duplicate_spans(train, spans).orderBy("doc_id")


_WINDOW_DECONTAM_REMOVE_ORACLE = (
    _WINDOW_DECONTAM_CTE
    + r""", persp AS (
  SELECT doc_id, list({'s': span_start, 'e': span_end}) AS sps
  FROM spans GROUP BY doc_id
), tr AS (
  SELECT doc_id, toks FROM t WHERE doc_id >= 20
)
SELECT tr.doc_id,
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(0, len(tr.toks)),
             i -> len(list_filter(COALESCE(persp.sps, []),
                      p -> i >= p.s AND i <= p.e)) = 0),
           i -> tr.toks[i + 1]),
         ' '), '') AS clean_text,
       CAST(len(tr.toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(range(0, len(tr.toks)),
             i -> len(list_filter(COALESCE(persp.sps, []),
                      p -> i >= p.s AND i <= p.e)) > 0)) AS BIGINT)
         AS n_removed_tokens
FROM tr LEFT JOIN persp ON tr.doc_id = persp.doc_id
ORDER BY tr.doc_id
"""
)

SPARK_IMPLS["dedup_window_decontam_remove"] = q_dedup_window_decontam_remove
ORACLES["dedup_window_decontam_remove"] = _WINDOW_DECONTAM_REMOVE_ORACLE


def q_web_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (operators/web.py::canonical_url +
    url_dedup — the pre-exact-dedup normalization of crawl
    pipelines): planted variants of the same page (trailing slash,
    www + case, default port + tracking params, fragment) must
    collapse to ONE canonical group with keep-first verdicts. The
    oracle derives each row's expected canonical INDEPENDENTLY from
    the planted structure (not by re-running the algorithm), so any
    canonicalization bug hash-fails."""
    from hdk_spark.operators.web import url_dedup

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    g = d % 40
    host = F.concat(
        F.lit("sub"), (g % 5).cast("string"),
        F.lit(".site"), (g % 7).cast("string"), F.lit(".com"),
    )
    path = F.concat(F.lit("/p"), g.cast("string"))
    v = d % 4
    url = F.when(d % 13 == 0, F.lit("Not a URL at all")).otherwise(
        F.when(v == 0, F.concat(F.lit("https://"), host, path, F.lit("/")))
        .when(v == 1, F.concat(F.lit("https://www."), host, path))
        .when(v == 2, F.concat(F.lit("https://"), host, F.lit(":443"), path,
                               F.lit("?UTM_Source=x&fbclid&gclid=1")))
        .otherwise(F.concat(F.lit("HTTPS://"), host, path, F.lit("#frag")))
    )
    planted = spark.table("documents").select("doc_id", url.alias("url"))
    return url_dedup(planted).orderBy("doc_id")


_URL_CANONICAL_ORACLE = """
WITH p AS (
  SELECT doc_id,
         'sub' || CAST(doc_id % 40 % 5 AS VARCHAR)
           || '.site' || CAST(doc_id % 40 % 7 AS VARCHAR) || '.com'
           AS host,
         '/p' || CAST(doc_id % 40 AS VARCHAR) AS path
  FROM documents
), u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN 'Not a URL at all'
              WHEN doc_id % 4 = 0 THEN 'https://' || host || path || '/'
              WHEN doc_id % 4 = 1 THEN 'https://www.' || host || path
              WHEN doc_id % 4 = 2 THEN 'https://' || host || ':443' || path
                                       || '?UTM_Source=x&fbclid&gclid=1'
              ELSE 'HTTPS://' || host || path || '#frag' END AS url,
         CASE WHEN doc_id % 13 = 0 THEN 'not a url at all'
              ELSE 'https://' || host || path END AS canonical_url
  FROM p
)
SELECT doc_id, url, canonical_url,
       CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
         AS group_size,
       ROW_NUMBER() OVER (PARTITION BY canonical_url ORDER BY doc_id) > 1
         AS is_dup
FROM u ORDER BY doc_id
"""

SPARK_IMPLS["web_url_canonical_dedup"] = q_web_url_canonical_dedup
ORACLES["web_url_canonical_dedup"] = _URL_CANONICAL_ORACLE


def q_web_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/web.py::domain_cap, cap=10)
    over the planted URL corpus: deterministic hash-order rank within
    each registered domain, keep verdicts for every row. The oracle
    derives reg_domain INDEPENDENTLY from the planted structure and
    replays the shared Knuth-hash order."""
    from hdk_spark.operators.web import domain_cap

    _tables(spark, sf_dir)
    return domain_cap(
        _planted_urls(spark), max_per_domain=10
    ).orderBy("doc_id")


_DOMAIN_CAP_ORACLE = (
    "WITH planted AS (" + _PLANTED_URLS_SQL + """),
u AS (
  SELECT doc_id, url,
         CASE WHEN doc_id % 13 = 0 THEN ''
              WHEN doc_id % 4 = 0 THEN 'co.uk'
              ELSE 'site' || CAST(doc_id % 17 AS VARCHAR) || '.com'
         END AS reg_domain
  FROM planted
)
SELECT doc_id, url, reg_domain,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY reg_domain
         ORDER BY (CAST(doc_id AS BIGINT) * 2654435761) % 1000000007,
                  doc_id) AS BIGINT) AS domain_rank,
       ROW_NUMBER() OVER (
         PARTITION BY reg_domain
         ORDER BY (CAST(doc_id AS BIGINT) * 2654435761) % 1000000007,
                  doc_id) <= 10 AS kept
FROM u ORDER BY doc_id
"""
)

SPARK_IMPLS["web_domain_cap"] = q_web_domain_cap
ORACLES["web_domain_cap"] = _DOMAIN_CAP_ORACLE


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (operators/html.py::html_extract): a
    deterministic HTML page is planted around each document's text
    (head with title/style/script, h1, paragraph, links/images varying
    by doc_id) and the full tag/entity/whitespace chain runs on it.
    The oracle is GENERATED from the same pattern constants the
    operator uses (module import, zero drift) and replays the chain
    with DuckDB's regexp engine — the RE2∩Java subset claim, value-
    checked per character."""
    from hdk_spark.operators.html import html_extract

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>Doc "), d.cast("string"),
        F.lit("</title><style>p{color:red}</style>"),
        F.when(d % 11 == 0,
               F.lit('<meta name="robots" content="noindex,nofollow">'))
        .otherwise(F.lit("")),
        F.lit("<script>var x = 1 < 2;</script></head><body><h1>"),
        F.col("source"),
        F.lit('</h1><p>'), F.col("text"),
        F.lit(' &amp; more</p><a href="/a">l</a>'),
        F.when(d % 3 == 0,
               F.lit('<a href="/b">m</a><img src="i.png">'))
        .otherwise(F.lit("")),
        F.lit("<!-- hidden <p>comment</p> --></body></html>"),
    )
    planted = spark.table("documents").select(
        "doc_id", html.alias("html")
    )
    return html_extract(planted).orderBy("doc_id")


def _html_extract_oracle() -> str:
    from hdk_spark.operators.html import (
        _ANY_TAG,
        _BREAK_TAGS,
        _DROP_BLOCKS,
        _ENTITIES,
    )

    def lit(x: str) -> str:
        return "'" + x.replace("'", "''") + "'"

    s = "h"
    for pat in _DROP_BLOCKS:
        s = f"regexp_replace({s}, {lit(pat)}, '', 'g')"
    s = f"regexp_replace({s}, {lit(_BREAK_TAGS)}, chr(10), 'g')"
    s = f"regexp_replace({s}, {lit(_ANY_TAG)}, ' ', 'g')"
    for ent, rep in _ENTITIES:
        s = f"replace({s}, {lit(ent)}, {lit(rep)})"
    s = f"regexp_replace({s}, '[ \\t\\r]+', ' ', 'g')"
    s = f"regexp_replace({s}, ' ?\\n ?', chr(10), 'g')"
    s = f"regexp_replace({s}, '\\n{{2,}}', chr(10), 'g')"
    s = f"trim(regexp_replace({s}, '^\\n+|\\n+$', '', 'g'))"
    return rf"""
WITH p AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{{color:red}}</style>'
         || CASE WHEN doc_id % 11 = 0
                 THEN '<meta name="robots" content="noindex,nofollow">'
                 ELSE '' END
         || '<script>var x = 1 < 2;</script></head><body><h1>'
         || source || '</h1><p>' || text
         || ' &amp; more</p><a href="/a">l</a>'
         || CASE WHEN doc_id % 3 = 0
                 THEN '<a href="/b">m</a><img src="i.png">'
                 ELSE '' END
         || '<!-- hidden <p>comment</p> --></body></html>' AS h
  FROM documents
), e AS (
  SELECT doc_id, h, {s} AS text
  FROM p
)
SELECT doc_id, text,
       trim(regexp_replace(
         regexp_extract(h, '(?is)<title\b[^>]*>(.*?)</title\s*>', 1),
         '\s+', ' ', 'g')) AS title,
       CAST(len(regexp_split_to_array(h, '(?i)<a[\s>]')) - 1 AS BIGINT)
         AS n_links,
       CAST(len(regexp_split_to_array(h, '(?i)<img[\s>]')) - 1 AS BIGINT)
         AS n_images,
       CASE WHEN len(h) > 0
            THEN round(len(text) / CAST(len(h) AS DOUBLE), 6)
            ELSE 0.0 END AS text_ratio,
       doc_id % 11 = 0 AS noindex
FROM e ORDER BY doc_id
"""


SPARK_IMPLS["html_extract"] = q_html_extract
ORACLES["html_extract"] = _html_extract_oracle()


def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (operators/text.py::ccnet_buckets):
    per-language head/middle/tail thirds by unigram LM score. Ordering
    is by the rounded emitted score + doc_id tie-break, so NTILE
    assignment is bit-stable cross-engine; the oracle replays the LM
    pass and the window."""
    from hdk_spark.operators.text import ccnet_buckets

    _tables(spark, sf_dir)
    return _ordered(ccnet_buckets(
        spark.table("documents"), lang_col="lang"
    ), "doc_id")


_CCNET_BUCKETS_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), f AS (
  SELECT token, COUNT(*) AS c FROM tok GROUP BY token
), tot AS (
  SELECT SUM(c) AS s FROM f
), scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(AVG(ln(f.c / CAST(tot.s AS DOUBLE))), 6) + 0 AS avg_logprob
  FROM tok JOIN f USING (token) CROSS JOIN tot
  GROUP BY doc_id
), ranked AS (
  SELECT s.doc_id, d.lang, s.n_tokens, s.avg_logprob,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT doc_id, lang, n_tokens, avg_logprob,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id
"""

SPARK_IMPLS["text_ccnet_buckets"] = q_text_ccnet_buckets
ORACLES["text_ccnet_buckets"] = _CCNET_BUCKETS_ORACLE


def q_web_domain_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain boilerplate line removal (operators/web.py::
    domain_boilerplate_removal, text basis pinned): planted nav/footer
    lines shared by every page of a domain vanish, each document's own
    text line survives. The oracle recomputes the WHOLE algorithm
    (page counts, line-page fractions, threshold, ordered reassembly)
    in SQL — no planted-structure shortcuts, so threshold arithmetic
    and reassembly order are value-checked too."""
    from hdk_spark.operators.web import domain_boilerplate_removal

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    tag = F.when(d % 13 == 0, F.lit("junk")).otherwise(
        F.when(d % 4 == 0, F.lit("couk")).otherwise(
            F.concat(F.lit("site"), (d % 17).cast("string"))
        )
    )
    ptext = F.concat(
        F.lit("nav "), tag, F.lit("\n"),
        F.col("text"), F.lit("\n"),
        F.lit("footer "), tag,
    )
    planted = _planted_urls(spark).join(
        spark.table("documents").select("doc_id", ptext.alias("text")),
        "doc_id",
    )
    return domain_boilerplate_removal(
        planted, basis="text"
    ).orderBy("doc_id")


_DOMAIN_BOILERPLATE_ORACLE = """
WITH tagd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN ''
              WHEN doc_id % 4 = 0 THEN 'co.uk'
              ELSE 'site' || CAST(doc_id % 17 AS VARCHAR) || '.com'
         END AS reg_domain,
         CASE WHEN doc_id % 13 = 0 THEN 'junk'
              WHEN doc_id % 4 = 0 THEN 'couk'
              ELSE 'site' || CAST(doc_id % 17 AS VARCHAR)
         END AS tag
  FROM documents
), base AS (
  SELECT t.doc_id, t.reg_domain,
         list_filter(
           list_transform(string_split(
             'nav ' || t.tag || chr(10) || d.text || chr(10)
               || 'footer ' || t.tag, chr(10)), x -> trim(x)),
           x -> x <> '') AS flines
  FROM tagd t JOIN documents d ON t.doc_id = d.doc_id
), l AS (
  SELECT doc_id, reg_domain, u.p AS pos, u.line
  FROM base,
       unnest(list_transform(range(0, len(flines)),
              i -> {'p': i, 'line': flines[i + 1]})) AS t(u)
), pages AS (
  SELECT reg_domain, COUNT(DISTINCT doc_id) AS npages
  FROM base GROUP BY reg_domain
), line_pages AS (
  SELECT reg_domain, line, COUNT(DISTINCT doc_id) AS np
  FROM l GROUP BY reg_domain, line
), boiler AS (
  SELECT lp.reg_domain, lp.line
  FROM line_pages lp JOIN pages p ON lp.reg_domain = p.reg_domain
  WHERE lp.np >= 2 AND lp.np >= ceil(0.5 * p.npages)
), kept AS (
  SELECT l.doc_id, l.reg_domain, l.pos, l.line
  FROM l ANTI JOIN boiler b
    ON l.reg_domain = b.reg_domain AND l.line = b.line
), rebuilt AS (
  SELECT doc_id,
         array_to_string(list_transform(
           list_sort(list({'p': pos, 'line': line})),
           s -> s.line), chr(10)) AS clean_text,
         COUNT(*) AS nkept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id
)
SELECT b.doc_id, b.reg_domain,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(t.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(t.n_lines, 0) - COALESCE(r.nkept, 0) AS BIGINT)
         AS n_removed_lines
FROM base b
LEFT JOIN totals t ON b.doc_id = t.doc_id
LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
ORDER BY b.doc_id
"""

SPARK_IMPLS["web_domain_boilerplate"] = q_web_domain_boilerplate
ORACLES["web_domain_boilerplate"] = _DOMAIN_BOILERPLATE_ORACLE


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest driven driver-side (operators/warc.py::warc_probe):
    every document becomes a per-record-gzip WARC (warcinfo + 200 HTTP
    response wrapping the text) built by the repo's writer and parsed
    back by the repo's parser — CommonCrawl's container framing,
    value-checked: the oracle recomputes every record's type/uri/
    status/body length/digest from the documents table directly."""
    from hdk_spark.operators.warc import warc_probe

    _tables(spark, sf_dir)
    return warc_probe(spark.table("documents")).orderBy("id", "rec_idx")


_WARC_PARSE_ORACLE = """
SELECT doc_id AS id, 0 AS rec_idx,
       'warcinfo' AS warc_type, '' AS target_uri,
       CAST(NULL AS INT) AS http_status,
       CAST(21 AS BIGINT) AS body_len,
       md5('software: hdk-spark' || chr(13) || chr(10)) AS body_md5
FROM documents
UNION ALL
SELECT doc_id AS id, 1 AS rec_idx,
       'response' AS warc_type,
       'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
       200 AS http_status,
       CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
       md5(text) AS body_md5
FROM documents
ORDER BY id, rec_idx
"""

SPARK_IMPLS["warc_parse"] = q_warc_parse
ORACLES["warc_parse"] = _WARC_PARSE_ORACLE


def q_web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gating (operators/web.py::parse_robots +
    robots_filter, RFC 9309 longest-match semantics): per-domain
    robots files are parsed by the window-function block grouper and
    applied to the planted URL corpus — even-numbered sites disallow
    /a/b but re-allow the deeper /a/b/c (longest match wins), co.uk
    blocks everything, odd sites block nothing relevant. The oracle
    derives every verdict INDEPENDENTLY from the planted structure."""
    from hdk_spark.operators.web import parse_robots, robots_filter

    _tables(spark, sf_dir)
    doms = spark.range(17).select(
        F.concat(
            F.lit("site"), F.col("id").cast("string"), F.lit(".com")
        ).alias("reg_domain"),
        F.when(
            F.col("id") % 2 == 0,
            F.lit("# curated\nUser-agent: *\nDisallow: /a/b\n"
                  "Allow: /a/b/c\n"),
        ).otherwise(
            F.lit("User-agent: *\nDisallow: /nothing\n")
        ).alias("robots_txt"),
    )
    couk = spark.createDataFrame(
        [("co.uk", "User-agent: *\nDisallow: /\n")],
        "reg_domain: string, robots_txt: string",
    )
    rules = parse_robots(doms.unionByName(couk))
    return robots_filter(_planted_urls(spark), rules).orderBy("doc_id")


_ROBOTS_FILTER_ORACLE = (
    "WITH planted AS (" + _PLANTED_URLS_SQL + """)
SELECT doc_id, url,
       CASE WHEN doc_id % 13 = 0 THEN ''
            WHEN doc_id % 4 = 0 THEN 'co.uk'
            ELSE 'site' || CAST(doc_id % 17 AS VARCHAR) || '.com'
       END AS reg_domain,
       CASE WHEN doc_id % 13 = 0 THEN NULL
            WHEN doc_id % 4 = 0 THEN '/'
            WHEN doc_id % 17 % 2 = 0 THEN
                 CASE WHEN doc_id % 5 = 0 THEN '/a/b/c' ELSE '/a/b' END
            ELSE NULL
       END AS matched_prefix,
       CASE WHEN doc_id % 13 = 0 THEN TRUE
            WHEN doc_id % 4 = 0 THEN FALSE
            WHEN doc_id % 17 % 2 = 0 THEN doc_id % 5 = 0
            ELSE TRUE
       END AS allowed
FROM planted ORDER BY doc_id
"""
)

SPARK_IMPLS["web_robots_filter"] = q_web_robots_filter
ORACLES["web_robots_filter"] = _ROBOTS_FILTER_ORACLE


def q_chat_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-format lint (operators/chat.py::chat_lint): deterministic
    JSON conversations are planted per document — varying turn counts,
    optional system prefix, and seeded defects (adjacent-user
    alternation break at %7, blank content at %11, malformed JSON at
    %13) — and every verdict flag is derived INDEPENDENTLY by the
    oracle from the planting arithmetic."""
    from hdk_spark.operators.chat import chat_lint

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    pairs = (d % 3 + 1).cast("int")
    base = F.flatten(
        F.transform(
            F.sequence(F.lit(1), pairs),
            lambda i: F.array(
                F.struct(
                    F.lit("user").alias("role"),
                    F.concat(F.lit("u"), i.cast("string")).alias("content"),
                ),
                F.struct(
                    F.lit("assistant").alias("role"),
                    F.when((i == 1) & (d % 11 == 0), F.lit(""))
                    .otherwise(F.concat(F.lit("a"), i.cast("string")))
                    .alias("content"),
                ),
            ),
        )
    )
    with_dup = F.when(
        d % 7 == 0,
        F.concat(
            F.slice(base, 1, 1),
            F.array(
                F.struct(
                    F.lit("user").alias("role"),
                    F.lit("dup").alias("content"),
                )
            ),
            F.slice(base, 2, F.size(base) - 1),
        ),
    ).otherwise(base)
    with_sys = F.when(
        d % 5 == 0,
        F.concat(
            F.array(
                F.struct(
                    F.lit("system").alias("role"),
                    F.lit("sys").alias("content"),
                )
            ),
            with_dup,
        ),
    ).otherwise(with_dup)
    conv = F.when(d % 13 == 0, F.lit('{"broken": ')).otherwise(
        F.to_json(with_sys)
    )
    planted = spark.table("documents").select(
        "doc_id", conv.alias("conversation")
    )
    from hdk_spark.operators.chat import chat_lint as _lint

    return _lint(planted).orderBy("doc_id")


_CHAT_LINT_ORACLE = """
SELECT doc_id,
       doc_id % 13 <> 0 AS parsed,
       CAST(CASE WHEN doc_id % 13 = 0 THEN 0
            ELSE 2 * (doc_id % 3 + 1)
                 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
       END AS BIGINT) AS n_turns,
       CASE WHEN doc_id % 13 = 0 THEN ''
            WHEN doc_id % 5 = 0 THEN 'system'
            ELSE 'user' END AS first_role,
       doc_id % 13 <> 0 AS starts_ok,
       doc_id % 13 <> 0 AND doc_id % 7 <> 0 AS alternates,
       doc_id % 13 <> 0 AND doc_id % 11 <> 0 AS no_empty,
       doc_id % 13 <> 0 AS roles_known,
       doc_id % 13 <> 0 AS ends_assistant,
       doc_id % 13 <> 0 AND doc_id % 7 <> 0 AND doc_id % 11 <> 0 AS valid
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["chat_lint"] = q_chat_lint
ORACLES["chat_lint"] = _CHAT_LINT_ORACLE


def q_profile_dataset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary (operators/profile.py::dataset_report):
    corpus-level doc/token/empty/dup/language numbers as (metric,
    value) rows, every value exact rational arithmetic the oracle
    recomputes."""
    from hdk_spark.operators.profile import dataset_report

    _tables(spark, sf_dir)
    return dataset_report(spark.table("documents")).orderBy("metric")


_DATASET_REPORT_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, text, lang,
         CASE WHEN text IS NULL OR len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
  FROM documents
), base AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(nt) AS DOUBLE) AS total_tokens,
         round(SUM(nt) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens,
         round(SUM(CASE WHEN text IS NULL OR len(trim(text)) = 0
                        THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS pct_empty,
         round(1.0 - COUNT(DISTINCT text) / CAST(COUNT(*) AS DOUBLE), 6)
           AS exact_dup_rate
  FROM tok
), lg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS distinct_langs,
         CAST(MAX(c) AS DOUBLE) AS top
  FROM (SELECT lang, COUNT(*) AS c FROM tok GROUP BY lang)
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, n_docs AS value FROM base
  UNION ALL SELECT 'total_tokens', total_tokens FROM base
  UNION ALL SELECT 'mean_tokens', mean_tokens FROM base
  UNION ALL SELECT 'pct_empty', pct_empty FROM base
  UNION ALL SELECT 'exact_dup_rate', exact_dup_rate FROM base
  UNION ALL SELECT 'distinct_langs', distinct_langs FROM lg
  UNION ALL SELECT 'top_lang_share',
    round(lg.top / base.n_docs, 6) FROM lg, base
) ORDER BY metric
"""

SPARK_IMPLS["profile_dataset_report"] = q_profile_dataset_report
ORACLES["profile_dataset_report"] = _DATASET_REPORT_ORACLE


def q_chat_preference_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair (RLHF/DPO) validation (operators/chat.py::
    preference_lint): planted chosen/rejected pairs with seeded
    defects — malformed rejected at %13, length drift + wrong terminal
    at %17, prefix drift at %7, identical responses at %11 (priority
    in that order) — every flag derived independently by the
    oracle."""
    from hdk_spark.operators.chat import preference_lint

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")

    def conv(*turns):
        return F.to_json(
            F.array(
                *[
                    F.struct(F.lit(r).alias("role"), c.alias("content"))
                    for r, c in turns
                ]
            )
        )

    q = F.concat(F.lit("q"), ds)
    chosen = conv(("user", q), ("assistant", F.concat(F.lit("good"), ds)))
    rejected = (
        F.when(d % 13 == 0, F.lit('{"broken'))
        .when(
            d % 17 == 0,
            conv(("user", q), ("assistant", F.concat(F.lit("bad"), ds)),
                 ("user", F.lit("x"))),
        )
        .when(
            d % 7 == 0,
            conv(("user", F.lit("drift")),
                 ("assistant", F.concat(F.lit("bad"), ds))),
        )
        .when(
            d % 11 == 0,
            conv(("user", q), ("assistant", F.concat(F.lit("good"), ds))),
        )
        .otherwise(
            conv(("user", q), ("assistant", F.concat(F.lit("bad"), ds)))
        )
    )
    planted = spark.table("documents").select(
        "doc_id", chosen.alias("chosen"), rejected.alias("rejected")
    )
    return preference_lint(planted).orderBy("doc_id")


_PREFERENCE_LINT_ORACLE = """
SELECT doc_id,
       doc_id % 13 <> 0 AS both_parsed,
       doc_id % 13 <> 0 AND doc_id % 17 <> 0 AS same_length,
       doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 7 <> 0
         AS same_prefix,
       doc_id % 13 <> 0 AND doc_id % 17 <> 0 AS both_end_assistant,
       CASE WHEN doc_id % 13 = 0 THEN FALSE
            WHEN doc_id % 17 = 0 THEN TRUE
            WHEN doc_id % 7 = 0 THEN TRUE
            WHEN doc_id % 11 = 0 THEN FALSE
            ELSE TRUE END AS responses_differ,
       doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 7 <> 0
         AND doc_id % 11 <> 0 AS valid
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["chat_preference_lint"] = q_chat_preference_lint
ORACLES["chat_preference_lint"] = _PREFERENCE_LINT_ORACLE


def q_text_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated order-3 LM scoring (operators/text.py::
    trigram_logprob — Jelinek-Mercer λ=(0.5,0.3,0.2) over self-corpus
    trigram/bigram/unigram counts, full-context positions i ≥ 3): the
    oracle replays the position explode, the three count relations,
    and the fixed-order interpolation sum feeding ln()."""
    from hdk_spark.operators.text import trigram_logprob

    _tables(spark, sf_dir)
    return _ordered(trigram_logprob(
        spark.table("documents"), basis="text"
    ), "doc_id")


def _trigram_cte(
    score_where: str = "", model_where: "str | None" = None
) -> str:
    """Trigram-LM oracle CTE chunk ending in ``scored3`` (doc_id,
    n_trigrams, avg_logprob): scores documents matching
    ``score_where`` under the model built from documents matching
    ``model_where`` (defaults to the scored set — self-scoring). LEFT
    joins + the operator's coalesce fallbacks, so one generator serves
    self- and cross-corpus rows (self-scoring never produces NULLs, so
    the inner-join result is identical)."""
    sw = f"WHERE {score_where}" if score_where else ""
    mw = f"WHERE {model_where}" if model_where else sw
    return rf"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
  FROM documents {sw}
), pos AS (
  SELECT doc_id,
         CASE WHEN i >= 3 THEN tk[i - 2] END AS w1,
         CASE WHEN i >= 2 THEN tk[i - 1] END AS w2,
         tk[i] AS w3
  FROM tok, unnest(generate_series(1, len(tk))) AS s(i)
), mtok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
  FROM documents {mw}
), mpos AS (
  SELECT CASE WHEN i >= 3 THEN tk[i - 2] END AS w1,
         CASE WHEN i >= 2 THEN tk[i - 1] END AS w2,
         tk[i] AS w3
  FROM mtok, unnest(generate_series(1, len(tk))) AS s(i)
), tri AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM mpos
  WHERE w1 IS NOT NULL GROUP BY 1, 2, 3
), ctx3 AS (
  SELECT w1, w2, SUM(c3) AS x3 FROM tri GROUP BY 1, 2
), big AS (
  SELECT w2, w3, COUNT(*) AS c2 FROM mpos
  WHERE w2 IS NOT NULL GROUP BY 1, 2
), ctx2 AS (
  SELECT w2, SUM(c2) AS x2 FROM big GROUP BY 1
), uni AS (
  SELECT w3, COUNT(*) AS c1 FROM mpos GROUP BY 1
), tot AS (
  SELECT SUM(c1) AS t FROM uni
), scored3 AS (
  SELECT p.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         round(AVG(ln(
           (0.5 * coalesce(CAST(tri.c3 AS DOUBLE)
                           / CAST(ctx3.x3 AS DOUBLE), 0.0)
            + 0.3 * coalesce(CAST(big.c2 AS DOUBLE)
                             / CAST(ctx2.x2 AS DOUBLE), 0.0))
           + 0.2 * (CAST(coalesce(uni.c1, 1) AS DOUBLE)
                    / CAST(tot.t AS DOUBLE))
         )), 6) + 0 AS avg_logprob
  FROM pos p
  LEFT JOIN tri ON p.w1 = tri.w1 AND p.w2 = tri.w2 AND p.w3 = tri.w3
  LEFT JOIN ctx3 ON p.w1 = ctx3.w1 AND p.w2 = ctx3.w2
  LEFT JOIN big ON p.w2 = big.w2 AND p.w3 = big.w3
  LEFT JOIN ctx2 ON p.w2 = ctx2.w2
  LEFT JOIN uni ON p.w3 = uni.w3
  CROSS JOIN tot
  WHERE p.w1 IS NOT NULL
  GROUP BY p.doc_id
)
"""


_TRIGRAM_LP_CTE = _trigram_cte()

_TRIGRAM_LP_ORACLE = (
    _TRIGRAM_LP_CTE
    + """SELECT doc_id, n_trigrams, avg_logprob
FROM scored3 ORDER BY doc_id
"""
)

SPARK_IMPLS["text_trigram_logprob"] = q_text_trigram_logprob
ORACLES["text_trigram_logprob"] = _TRIGRAM_LP_ORACLE


def q_text_ccnet_buckets_lm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet bucketing over the interpolated trigram LM
    (operators/text.py::ccnet_buckets with model='trigram' — closes
    VERDICT r6 'What's missing #2': head/middle/tail now order by a
    KenLM-grade smoothed n-gram signal instead of the unigram proxy).
    Same window contract as text_ccnet_buckets: NTILE(3) per language
    over the ROUNDED score desc with doc_id tie-break."""
    from hdk_spark.operators.text import ccnet_buckets

    _tables(spark, sf_dir)
    return _ordered(ccnet_buckets(
        spark.table("documents"), lang_col="lang", model="trigram",
        model_basis="text",
    ), "doc_id")


_CCNET_LM3_ORACLE = (
    _TRIGRAM_LP_CTE
    + """, ranked3 AS (
  SELECT s.doc_id, d.lang, s.n_trigrams AS n_tokens, s.avg_logprob,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM scored3 s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT doc_id, lang, n_tokens, avg_logprob,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket
FROM ranked3 ORDER BY doc_id
"""
)

SPARK_IMPLS["text_ccnet_buckets_lm3"] = q_text_ccnet_buckets_lm3
ORACLES["text_ccnet_buckets_lm3"] = _CCNET_LM3_ORACLE


_LANG_TRAIN_CLASSES = ("de", "en", "es", "fr", "zh")


def _planted_lang_df(spark: SparkSession) -> DataFrame:
    """Deterministic LABELED language corpus: label = class by
    doc_id % 5, text = 6 consecutive seed words of that language
    (LANG_SEEDS, first 12 words) rotated by doc_id // 5 — text is
    genuinely correlated with the label (unlike documents.lang, which
    the synthetic generator draws independently of the text), so the
    trained classifier demonstrably LEARNS, and the oracle derives the
    identical corpus in SQL."""
    from hdk_spark.operators.text import LANG_SEEDS

    d = F.col("doc_id")
    st = F.floor(d / 5).cast("long") % 12

    def sentence(k: str):
        arr = F.array(*[F.lit(w) for w in LANG_SEEDS[k].split()[:12]])
        return F.concat_ws(
            " ",
            *[
                F.element_at(arr, ((st + j) % 12 + 1).cast("int"))
                for j in range(6)
            ],
        )

    lbl = F.lit(None).cast("string")
    text = F.lit(None).cast("string")
    for i, k in enumerate(_LANG_TRAIN_CLASSES):
        lbl = F.when(d % 5 == i, F.lit(k)).otherwise(lbl)
        text = F.when(d % 5 == i, sentence(k)).otherwise(text)
    return spark.table("documents").select(
        "doc_id", lbl.alias("lang_true"), text.alias("text")
    )


def _planted_lang_sql() -> str:
    """SQL twin of :func:`_planted_lang_df` (CTEs ``planted`` →
    ``labeled`` with (doc_id, lang_true, text))."""
    from hdk_spark.operators.text import LANG_SEEDS

    cls = _LANG_TRAIN_CLASSES

    def arr(k: str) -> str:
        ws = LANG_SEEDS[k].split()[:12]
        return "[" + ", ".join("'" + w + "'" for w in ws) + "]"

    lbl = (
        "CASE doc_id % 5 "
        + " ".join(f"WHEN {i} THEN '{k}'" for i, k in enumerate(cls[:-1]))
        + f" ELSE '{cls[-1]}' END"
    )
    ws = (
        "CASE doc_id % 5 "
        + " ".join(f"WHEN {i} THEN {arr(k)}" for i, k in enumerate(cls[:-1]))
        + f" ELSE {arr(cls[-1])} END"
    )
    words = " || ' ' || ".join(
        f"ws[((st + {j}) % 12) + 1]" for j in range(6)
    )
    return f"""
WITH planted AS (
  SELECT doc_id, {lbl} AS lang_true, {ws} AS ws,
         (doc_id // 5) % 12 AS st
  FROM documents
), labeled AS (
  SELECT doc_id, lang_true, {words} AS text FROM planted
)"""


def _lang_train_cte(n_buckets: int = 16, lr: float = 1.0) -> str:
    """Unrolled 2-iteration softmax training in DuckDB SQL over the
    planted corpus — train_quality_scorer's oracle pattern one rank up
    (K classes instead of one sigmoid): iteration 1's softmax is
    exactly 1/K (zero weights), iteration 2 recomputes per-doc
    softmax from iteration-1 weights with the SAME fixed-order
    denominator sum the Spark side uses; gradients are exact
    DECIMAL(38,0) sums of 1e-6-quantized residuals."""
    cls = _LANG_TRAIN_CLASSES
    B = n_buckets
    p1 = repr(1.0 / len(cls))

    def onehot(k: str, rel: str) -> str:
        return f"CASE WHEN {rel}.y = '{k}' THEN 1.0 ELSE 0.0 END"

    g1_cols = ", ".join(
        f"SUM(CAST(round(({p1} - {onehot(k, 'f')}) / f.n * 1000000.0) "
        f"AS DECIMAL(38,0)) * f.c[u.b + 1]) AS g_{k}"
        for k in cls
    )
    w1_cols = ", ".join(
        f"(0.0 - {lr!r} * (CAST(g1.g_{k} AS DOUBLE) / (1000000.0 * m.m)))"
        f" + 0.0 AS w_{k}"
        for k in cls
    )
    w1a_cols = ", ".join(f"list(w_{k} ORDER BY b) AS a_{k}" for k in cls)
    z_cols = ", ".join(
        f"(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {B}), b -> w1a.a_{k}[b + 1] * f.c[b + 1])), "
        f"(acc, x) -> acc + x) / f.n) AS z_{k}"
        for k in cls
    )
    e_cols = ", ".join(f"exp(z_{k}) AS e_{k}" for k in cls)
    den = f"exp(z_{cls[0]})"
    for k in cls[1:]:
        den = f"({den} + exp(z_{k}))"
    g2_cols = ", ".join(
        f"SUM(CAST(round((p2.e_{k} / p2.den - {onehot(k, 'p2')}) / p2.n "
        f"* 1000000.0) AS DECIMAL(38,0)) * p2.c[u.b + 1]) AS g_{k}"
        for k in cls
    )
    w2_cols = ", ".join(
        f"(w1.w_{k} - {lr!r} * (CAST(g2.g_{k} AS DOUBLE) / (1000000.0 * m.m)))"
        f" + 0.0 AS w_{k}"
        for k in cls
    )
    return rf""", t2 AS (
  SELECT doc_id, lang_true,
         ' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g') || ' '
           AS s
  FROM labeled
), g AS (
  SELECT doc_id, lang_true,
         CASE WHEN s IS NOT NULL AND len(s) >= 3
              THEN list_transform(range(1, len(s) - 1),
                     i -> CAST(
                       CAST('0x' || substring(md5(substr(s, i, 3)), 1, 8)
                            AS BIGINT) % {B} AS INT))
              ELSE [] END AS bidx
  FROM t2
), f AS (
  SELECT doc_id, lang_true AS y, CAST(len(bidx) AS BIGINT) AS n,
         list_transform(range(0, {B}),
                        b -> len(list_filter(bidx, x -> x = b))) AS c
  FROM g WHERE len(bidx) >= 1
), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM f),
u AS (SELECT unnest(range(0, {B})) AS b),
g1 AS (
  SELECT u.b AS b, {g1_cols}
  FROM f, u GROUP BY u.b
),
w1 AS (SELECT g1.b AS b, {w1_cols} FROM g1, m),
w1a AS (SELECT {w1a_cols} FROM w1),
s2 AS (
  SELECT f.doc_id, f.y, f.n, f.c, {z_cols}
  FROM f, w1a
),
p2 AS (
  SELECT doc_id, y, n, c, {e_cols}, {den} AS den
  FROM s2
),
g2 AS (
  SELECT u.b AS b, {g2_cols}
  FROM p2, u GROUP BY u.b
),
w2 AS (SELECT g2.b AS b, {w2_cols} FROM g2 JOIN w1 ON g2.b = w1.b, m)
"""


def q_text_lang_id_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the multi-class language classifier (operators/text.py::
    train_lang_id — deterministic full-batch softmax regression over
    md5-hashed char-trigram features, per-class quantized-DECIMAL
    gradients; closes VERDICT r6 'What's missing #3'): 2 iterations,
    16 buckets, 5 classes over the planted seed-word corpus, emitting
    every (lang, bucket) weight after each iteration. The oracle
    replays the ENTIRE training unrolled in SQL."""
    from hdk_spark.operators.text import train_lang_id

    _tables(spark, sf_dir)
    planted = _planted_lang_df(spark)
    hist = train_lang_id(
        planted, label_col="lang_true", n_buckets=16, iterations=2,
        lr=1.0, classes=list(_LANG_TRAIN_CLASSES), return_history=True,
    )
    rows = [
        (k, b, hist[0][k][b], hist[1][k][b])
        for k in _LANG_TRAIN_CLASSES
        for b in range(16)
    ]
    return spark.createDataFrame(
        rows, "lang: string, bucket: long, w_iter1: double, weight: double"
    )


def _lang_train_oracle() -> str:
    cls = _LANG_TRAIN_CLASSES
    langs_lit = ", ".join(f"'{k}'" for k in cls)
    w1_case = " ".join(f"WHEN '{k}' THEN w1.w_{k}" for k in cls)
    w2_case = " ".join(f"WHEN '{k}' THEN w2.w_{k}" for k in cls)
    return (
        _planted_lang_sql()
        + _lang_train_cte()
        + f"""SELECT l.lang,
       CAST(w1.b AS BIGINT) AS bucket,
       CASE l.lang {w1_case} END AS w_iter1,
       CASE l.lang {w2_case} END AS weight
FROM w1 JOIN w2 ON w1.b = w2.b,
     (SELECT unnest([{langs_lit}]) AS lang) l
ORDER BY lang, bucket
"""
    )


SPARK_IMPLS["text_lang_id_train"] = q_text_lang_id_train
ORACLES["text_lang_id_train"] = _lang_train_oracle()


def q_text_lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED multi-class loop: fit train_lang_id (2 iterations,
    16 buckets, 5 classes, planted corpus) and immediately APPLY the
    trained weights through lang_id_ngram's integer micro-weight
    argmax — proving the train→apply handoff (×1e6 quantization, gram
    hashing, fold order) end to end. The oracle re-runs the unrolled
    training SQL and replays scoring with the CTE's weights."""
    from hdk_spark.operators.text import lang_id_ngram, train_lang_id

    _tables(spark, sf_dir)
    planted = _planted_lang_df(spark)
    w = train_lang_id(
        planted, label_col="lang_true", n_buckets=16, iterations=2,
        lr=1.0, classes=list(_LANG_TRAIN_CLASSES),
    )
    return lang_id_ngram(
        planted, n_buckets=16, model=w
    ).orderBy("doc_id")


def _lang_trained_apply_oracle() -> str:
    cls = _LANG_TRAIN_CLASSES
    langs_lit = ", ".join(f"'{k}'" for k in cls)
    micro_cols = ", ".join(
        f"CAST(round(w_{k} * 1000000.0) AS BIGINT) AS mw_{k}" for k in cls
    )
    sum_cols = ", ".join(f"SUM(micro.mw_{k}) AS s_{k}" for k in cls)
    isum_list = ", ".join(
        f"CAST(coalesce(s.s_{k}, 0) AS BIGINT)" for k in cls
    )
    return (
        _planted_lang_sql()
        + _lang_train_cte()
        + f""", micro AS (
  SELECT b, {micro_cols} FROM w2
), e AS (
  SELECT doc_id, unnest(bidx) AS b FROM g
), sums AS (
  SELECT e.doc_id, {sum_cols}
  FROM e JOIN micro ON e.b = micro.b GROUP BY e.doc_id
), sc AS (
  SELECT g.doc_id, len(g.bidx) AS n,
         CAST(greatest(len(g.bidx), 1) AS BIGINT) AS nd,
         [{isum_list}] AS isums
  FROM g LEFT JOIN sums s ON g.doc_id = s.doc_id
), bestx AS (
  SELECT doc_id, n, nd, isums,
         list_aggregate(isums, 'max') AS bi
  FROM sc
)
SELECT doc_id,
       CASE WHEN n = 0 THEN 'und'
            ELSE [{langs_lit}][list_position(isums, bi)] END AS lang,
       CASE WHEN n = 0 THEN 0.0
            ELSE CAST(CASE WHEN bi >= 0
                           THEN (2 * bi + nd) // (2 * nd)
                           ELSE -(((-2) * bi + nd) // (2 * nd)) END
                      AS DOUBLE) / 1000000.0 END AS score,
       CAST(n AS BIGINT) AS n_grams
FROM bestx ORDER BY doc_id
"""
    )


SPARK_IMPLS["text_lang_id_trained"] = q_text_lang_id_trained
ORACLES["text_lang_id_trained"] = _lang_trained_apply_oracle()


_CRAWL_LANGS = ("de", "en", "es", "fr", "zh")


def _crawl_warcs_df(spark: SparkSession) -> DataFrame:
    """Deterministic planted WARC corpus driving the composed crawl
    pipeline: every document becomes a one-response per-record-gzip
    WARC built by the repo's own writer, with seeded gate triggers —
    HTTP 404 at doc_id%19, text/plain at %23, robots-noindex meta at
    %11, even registered domains (site{doc_id%17}.com) disallow /p,
    canonical-URL collisions via path doc_id%85 with utm/trailing-
    slash variants by parity. The oracle derives every gate verdict
    INDEPENDENTLY from this arithmetic."""
    import pandas as pd
    from pyspark.sql import types as T

    def to_warc(batches):
        from hdk_spark.operators.warc import build_warc

        for pdf in batches:
            blobs = []
            for rid, text in zip(pdf["doc_id"], pdf["text"]):
                rid = int(rid)
                url = (
                    f"https://site{rid % 17}.com/p/{rid % 85}"
                    + ("?utm_source=x" if rid % 2 == 0 else "/")
                )
                html = (
                    f"<html><head><title>Doc {rid}</title>"
                    + (
                        '<meta name="robots" content="noindex">'
                        if rid % 11 == 0 else ""
                    )
                    + f"</head><body><p>{text}</p></body></html>"
                ).encode("utf-8")
                status = (
                    b"HTTP/1.1 404 Not Found" if rid % 19 == 0
                    else b"HTTP/1.1 200 OK"
                )
                ctype = (
                    b"text/plain" if rid % 23 == 0
                    else b"text/html; charset=utf-8"
                )
                http = (
                    status + b"\r\nContent-Type: " + ctype + b"\r\n\r\n"
                    + html
                )
                blobs.append(
                    build_warc(
                        [
                            {
                                "warc_type": "response",
                                "target_uri": url,
                                "payload": http,
                                "content_type":
                                    "application/http;msgtype=response",
                            }
                        ]
                    )
                )
            yield pd.DataFrame(
                {"warc_id": pdf["doc_id"], "data": blobs}
            )

    return spark.table("documents").select("doc_id", "text").mapInPandas(
        to_warc,
        T.StructType(
            [
                T.StructField("warc_id", T.LongType()),
                T.StructField("data", T.BinaryType()),
            ]
        ),
    )


def _crawl_robots_df(spark: SparkSession) -> DataFrame:
    return spark.range(17).select(
        F.concat(
            F.lit("site"), F.col("id").cast("string"), F.lit(".com")
        ).alias("reg_domain"),
        F.when(
            F.col("id") % 2 == 0,
            F.lit("User-agent: *\nDisallow: /p\n"),
        )
        .otherwise(F.lit("User-agent: *\nDisallow: /private\n"))
        .alias("robots_txt"),
    )


def _crawl_stages(
    spark: SparkSession,
    max_per_domain: "int | None" = None,
):
    from hdk_spark.operators.crawl import crawl_curate

    return crawl_curate(
        _crawl_warcs_df(spark),
        _crawl_robots_df(spark),
        langs=list(_CRAWL_LANGS),
        max_per_domain=max_per_domain,
    )


def q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED crawl front-end end-to-end
    (operators/crawl.py::crawl_curate — closes VERDICT r6 'What's
    missing #1'): WARC parse → 200/text-html gate → robots gate →
    HTML extraction + noindex gate → 5-language trigram lang-ID →
    canonical-URL dedup → CCNet buckets over the deduped corpus, all
    through the REAL operators (the WARC bytes are built and parsed
    by the repo's writer/parser inside the job). The oracle derives
    every stage's survivor set independently from the planted
    arithmetic and replays lang-ID + the unigram LM + NTILE over
    exactly that survivor corpus — any drift in any stage handoff
    (schema, gate semantics, extraction text, dedup keep rule)
    changes the final rows."""
    _tables(spark, sf_dir)
    # crawl_curate caches its stages (r14b): even this SINGLE action
    # re-derives shared funnel stages per join branch (kept feeds
    # ccnet AND the url join-back; annotated feeds dedup AND the
    # survivor join), so uncached the WARC parse ran multiple times in
    # one job — measured 7.5 s → 5.3 s at sf0.01 (3 interleaved
    # rounds). Intra-run caching only: the stages rebuild from the
    # parquet inputs on every invocation.
    return _ordered(_crawl_stages(spark)["final"], "doc_id")


def _crawl_kept_cte() -> str:
    return """
WITH surv AS (
  SELECT doc_id, text,
         'https://site' || CAST(doc_id % 17 AS VARCHAR) || '.com/p/'
           || CAST(doc_id % 85 AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '/' END
           AS url
  FROM documents
  WHERE doc_id % 19 <> 0 AND doc_id % 23 <> 0
), rb AS (
  SELECT * FROM surv WHERE (doc_id % 17) % 2 = 1
), ni AS (
  SELECT * FROM rb WHERE doc_id % 11 <> 0
), extr AS (
  SELECT doc_id, url,
         'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
  FROM ni
), ddp AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id % 85
                               ORDER BY doc_id) AS rn
  FROM extr
), kept AS (
  SELECT doc_id, url, text FROM ddp WHERE rn = 1
)"""


def _crawl_pipeline_oracle(source: str = "kept") -> str:
    """Composed-pipeline oracle tail over ``source`` — the lang-ID +
    unigram-LM + NTILE replay runs over exactly the survivor set the
    cap (or plain dedup) leaves, matching crawl_curate building the
    CCNet model AFTER the last thinning stage."""
    langs_lit = ", ".join(f"'{x}'" for x in _CRAWL_LANGS)
    return (
        _crawl_kept_cte()
        + (
            f""", capped AS (
  SELECT doc_id, url, text FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id % 17
      ORDER BY (CAST(doc_id AS BIGINT) * 2654435761) % 1000000007,
               doc_id) AS crn
    FROM kept
  ) WHERE crn <= 2
)""" if source == "capped" else ""
        )
        + _lang_score_cte(source, _CRAWL_LANGS, 256, "lp")
        + rf""", langpred AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN 'und'
              ELSE [{langs_lit}][list_position(isums, bi)] END AS lang
  FROM lpbest
), ctok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM {source}
), cf AS (
  SELECT token, COUNT(*) AS c FROM ctok GROUP BY token
), ctot AS (
  SELECT SUM(c) AS s FROM cf
), cscored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(AVG(ln(cf.c / CAST(ctot.s AS DOUBLE))), 6) + 0
           AS avg_logprob
  FROM ctok JOIN cf USING (token) CROSS JOIN ctot
  GROUP BY doc_id
), cranked AS (
  SELECT s.doc_id, l.lang, s.n_tokens, s.avg_logprob,
         NTILE(3) OVER (PARTITION BY l.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM cscored s JOIN langpred l USING (doc_id)
)
SELECT k.doc_id, k.url, r.lang, r.n_tokens, r.avg_logprob,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket
FROM cranked r JOIN {source} k USING (doc_id)
ORDER BY doc_id
"""
    )


SPARK_IMPLS["crawl_pipeline"] = q_crawl_pipeline
ORACLES["crawl_pipeline"] = _crawl_pipeline_oracle()


def q_crawl_pipeline_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl funnel: per-stage survivor counts of the SAME
    composed run (operators/crawl.py::stage_counts, stages cached
    so the funnel is one job per stage, not a WARC re-parse per
    count). The oracle computes each count independently from the
    planted gate arithmetic — a stage silently passing too many or
    too few rows fails here even if the final rows happen to agree."""
    _tables(spark, sf_dir)
    from hdk_spark.operators.crawl import stage_counts

    st = _crawl_stages(spark)
    return _attach_caches(
        stage_counts(st).orderBy("stage"), _caches_of(st["final"]))


_CRAWL_STAGES_ORACLE = (
    _crawl_kept_cte()
    + """
SELECT stage, n_docs FROM (
  SELECT 'http_gate' AS stage,
         CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_docs
  UNION ALL
  SELECT 'robots_gate', CAST((SELECT COUNT(*) FROM rb) AS BIGINT)
  UNION ALL
  SELECT 'noindex_gate', CAST((SELECT COUNT(*) FROM ni) AS BIGINT)
  UNION ALL
  SELECT 'url_dedup', CAST((SELECT COUNT(*) FROM kept) AS BIGINT)
  UNION ALL
  SELECT 'final', CAST((SELECT COUNT(*) FROM kept) AS BIGINT)
) ORDER BY stage
"""
)

SPARK_IMPLS["crawl_pipeline_stages"] = q_crawl_pipeline_stages
ORACLES["crawl_pipeline_stages"] = _CRAWL_STAGES_ORACLE


def _bpe_planted_df(spark: SparkSession) -> DataFrame:
    """Planted BPE corpus with a HAND-DERIVABLE merge sequence: every
    document is 'aaaa aaaa aaaa aab [aab] ba' (second 'aab' on odd
    doc_ids). Aggregate word counts at D docs: aaaa 3D, aab ~1.5D,
    ba D — the pair-count ranking (and both lexicographic tie-breaks)
    is invariant in D, so the 7-step merge list in the oracle is
    derived BY HAND from the Sennrich algorithm, not by re-running the
    implementation."""
    d = F.col("doc_id")
    text = F.concat(
        F.lit("aaaa aaaa aaaa aab "),
        F.when(d % 2 == 1, F.lit("aab ")).otherwise(F.lit("")),
        F.lit("ba"),
    )
    return spark.table("documents").select("doc_id", text.alias("text"))


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training end-to-end (operators/bpe.py::bpe_train — ONE
    corpus word-count pass + the bounded driver-side merge loop) on
    the planted corpus. The oracle lists the 7 expected merges as
    literals derived independently by hand:

      counts/doc: aaaa×3, aab×(1 + doc%2), ba×1 → corpus 3D/1.5D/D
      1 (a,a)     9D+1.5D dominates
      2 (aa,aa)   ties (aa,▁) at 3D — lexicographic min wins
      3 (aaaa,▁)  3D
      4 (aa,b)    ties (b,▁) at 1.5D — lexicographic min wins
      5 (aab,▁)   1.5D
      6 (a,▁)     ties (b,a) at D — lexicographic min wins
      7 (b,a▁)    D; loop then exhausts (all words single-symbol)

    n_merges=8 proves the exhaustion break (only 7 returned)."""
    from hdk_spark.operators.bpe import bpe_train

    _tables(spark, sf_dir)
    merges = bpe_train(_bpe_planted_df(spark), n_merges=8, min_count=2)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank: long, left: string, right: string",
    )


_BPE_TRAIN_ORACLE = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), 'a', 'a'),
  (1, 'aa', 'aa'),
  (2, 'aaaa', '▁'),
  (3, 'aa', 'b'),
  (4, 'aab', '▁'),
  (5, 'a', '▁'),
  (6, 'b', 'a▁')
) AS t(rank, "left", "right") ORDER BY rank
"""

SPARK_IMPLS["bpe_train_merges"] = q_bpe_train_merges
ORACLES["bpe_train_merges"] = _BPE_TRAIN_ORACLE


def q_bpe_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed BPE loop: train on the planted corpus, ENCODE the
    same corpus with the learned merges (operators/bpe.py::bpe_encode,
    Arrow-batched greedy lowest-rank loop). Under the hand-derived
    merge list every word fuses to a single token (aaaa▁ / aab▁ /
    ba▁), so each document's token string and count follow from
    doc_id parity alone — the oracle derives them without touching
    either implementation."""
    from hdk_spark.operators.bpe import bpe_encode, bpe_train

    _tables(spark, sf_dir)
    planted = _bpe_planted_df(spark)
    merges = bpe_train(planted, n_merges=8, min_count=2)
    return (
        bpe_encode(planted, merges)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join("tokens", " ").alias("tokens_str"),
            "n_tokens",
        )
        .orderBy("doc_id")
    )


_BPE_ENCODE_ORACLE = """
SELECT doc_id,
       'aaaa▁ aaaa▁ aaaa▁ aab▁ '
         || CASE WHEN doc_id % 2 = 1 THEN 'aab▁ ' ELSE '' END
         || 'ba▁' AS tokens_str,
       CAST(5 + doc_id % 2 AS BIGINT) AS n_tokens
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["bpe_encode_roundtrip"] = q_bpe_encode_roundtrip
ORACLES["bpe_encode_roundtrip"] = _BPE_ENCODE_ORACLE


def q_text_trigram_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet cross-corpus trigram scoring: src0's documents scored
    under the interpolated order-3 model built from every OTHER source
    (operators/text.py::trigram_logprob with model_df — the real CCNet
    shape one order up from text_lm_cross_score). Positions whose
    trigram/bigram context is absent from the model exercise the
    0-contribution backoff; unseen unigrams the count-1 floor. Oracle:
    the shared generator with LEFT joins + the same coalesce chain."""
    from hdk_spark.operators.text import trigram_logprob

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    return _ordered(trigram_logprob(
        docs.filter(F.col("source") == "src0"),
        model_df=docs.filter(F.col("source") != "src0"),
        basis="text",
    ), "doc_id")


_TRIGRAM_CROSS_ORACLE = (
    _trigram_cte("source = 'src0'", "source <> 'src0'")
    + """SELECT doc_id, n_trigrams, avg_logprob
FROM scored3 ORDER BY doc_id
"""
)

SPARK_IMPLS["text_trigram_cross"] = q_text_trigram_cross
ORACLES["text_trigram_cross"] = _TRIGRAM_CROSS_ORACLE


def q_crawl_pipeline_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline with the per-domain cap stage enabled
    (crawl_curate(max_per_domain=2) — web.domain_cap's deterministic
    Knuth-hash rank inserted between dedup and the CCNet stage, as in
    scripts/crawl_demo.py's wider funnel). The LM model is built over
    the CAPPED corpus, so the oracle replays the rank arithmetic and
    then lang-ID + LM + NTILE over exactly the ≤2-per-domain survivor
    set — bucket assignments shift vs crawl_pipeline, pinning that the
    model follows the last thinning stage."""
    _tables(spark, sf_dir)
    # the domain-cap stage adds one more join-back branch over the
    # cached relation
    return _ordered(_crawl_stages(spark, max_per_domain=2)["final"], "doc_id")


SPARK_IMPLS["crawl_pipeline_capped"] = q_crawl_pipeline_capped
ORACLES["crawl_pipeline_capped"] = _crawl_pipeline_oracle("capped")


def q_streaming_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING crawl front-end (streaming.py::stream_crawl_ingest):
    the planted WARC corpus arrives as an unbounded file stream and
    flows through WARC parse → HTTP gate → extract/noindex →
    compact-robots gate (stream-static join + HOF longest-match fold —
    the window-based batch gate is illegal on a stream) → 5-language
    ID (keep= threading, no stream self-join) → canonical-URL
    annotation. Zero state operators (pinned in test_streaming); the
    oracle derives every gate, the extracted text, the predicted
    language, and the canonical URL independently from the planted
    arithmetic."""
    import hashlib
    import tempfile

    from hdk_spark.operators.web import parse_robots, robots_rules_compact
    from hdk_spark.streaming import stream_crawl_ingest, stream_parquet

    _tables(spark, sf_dir)
    tag = hashlib.sha1(
        ("crawlwarc:" + os.path.abspath(sf_dir)).encode()
    ).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"hdk_stream_src_{tag}")
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        _crawl_warcs_df(spark).coalesce(2).write.mode(
            "overwrite"
        ).parquet(stage)
    schema = spark.read.parquet(stage).schema
    st = stream_parquet(spark, stage, schema)
    compact = robots_rules_compact(parse_robots(_crawl_robots_df(spark)))
    out = stream_crawl_ingest(st, compact, langs=list(_CRAWL_LANGS))
    name = _run_stream(out, "append")
    return spark.table(name).orderBy("doc_id")


def _streaming_crawl_oracle() -> str:
    langs_lit = ", ".join(f"'{x}'" for x in _CRAWL_LANGS)
    return (
        _crawl_kept_cte()
        + _lang_score_cte("extr", _CRAWL_LANGS, 256, "sc_")
        + f"""
SELECT e.doc_id, e.url, e.text,
       CASE WHEN b.n = 0 THEN 'und'
            ELSE [{langs_lit}][list_position(b.isums, b.bi)] END AS lang,
       CAST(b.n AS BIGINT) AS n_grams,
       'https://site' || CAST(e.doc_id % 17 AS VARCHAR) || '.com/p/'
         || CAST(e.doc_id % 85 AS VARCHAR) AS canonical_url
FROM extr e JOIN sc_best b USING (doc_id)
ORDER BY e.doc_id
"""
    )


SPARK_IMPLS["streaming_crawl_ingest"] = q_streaming_crawl_ingest
ORACLES["streaming_crawl_ingest"] = _streaming_crawl_oracle()


def q_web_url_seen_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier seen-URL Bloom filter (operators/web.py::
    build_url_seen_bloom + url_seen_probe): canonical URLs of the
    planted docs with doc_id%85 < 40 are folded into a 2^20-bit
    bitset (JVM build, crc32 double-hash) and EVERY doc's URL —
    including utm/trailing-slash variants of seen pages — is probed
    through the Arrow kernel. The oracle derives ``exact_seen``
    independently (canonical membership is pure doc_id arithmetic)
    and pins the no-false-negatives invariant
    ``bloom_covers_ok = maybe_seen OR NOT exact_seen`` as literal
    TRUE (the decontamination-row pattern: the FP side is noise, the
    FN side is the contract)."""
    from hdk_spark.operators.web import build_url_seen_bloom, url_seen_probe

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://site"), (d % 17).cast("string"),
        F.lit(".com/p/"), (d % 85).cast("string"),
        F.when(d % 2 == 0, F.lit("?utm_source=x")).otherwise(F.lit("/")),
    )
    planted = spark.table("documents").select("doc_id", url.alias("url"))
    seen = planted.filter(d % 85 < 40)
    arr = build_url_seen_bloom(seen)
    probed = url_seen_probe(planted, arr)
    return probed.select(
        "doc_id",
        "url",
        "canonical_url",
        (d % 85 < 40).alias("exact_seen"),
        (F.col("maybe_seen") | ~(d % 85 < 40)).alias("bloom_covers_ok"),
    ).orderBy("doc_id")


_URL_SEEN_BLOOM_ORACLE = """
SELECT doc_id,
       'https://site' || CAST(doc_id % 17 AS VARCHAR) || '.com/p/'
         || CAST(doc_id % 85 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '/' END
         AS url,
       'https://site' || CAST(doc_id % 17 AS VARCHAR) || '.com/p/'
         || CAST(doc_id % 85 AS VARCHAR) AS canonical_url,
       doc_id % 85 < 40 AS exact_seen,
       TRUE AS bloom_covers_ok
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["web_url_seen_bloom"] = q_web_url_seen_bloom
ORACLES["web_url_seen_bloom"] = _URL_SEEN_BLOOM_ORACLE


def q_text_fix_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair (operators/text.py::fix_text) over a planted
    corrupted corpus: mojibake appended at doc_id%5, a mojibake header
    prepended at %7, a zero-width-space insertion at %11 and C0
    control bytes at %13 — the oracle replants identically and replays
    the full repair chain in SQL."""
    from hdk_spark.operators.text import fix_text

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    base = F.concat(F.lit("doc "), d.cast("string"), F.lit(" body"))
    t = F.when(
        d % 5 == 0, F.concat(base, F.lit(" cafÃ© dÃ©jÃ\xa0vu"))
    ).otherwise(base)
    t = F.when(d % 7 == 0, F.concat(F.lit("â€œheaderâ€¦ "), t)).otherwise(t)
    t = F.when(
        d % 11 == 0, F.concat(t, F.lit(" zero\u200bwidth"))
    ).otherwise(t)
    t = F.when(d % 13 == 0, F.concat(t, F.lit("\x01\x1f"))).otherwise(t)
    planted = spark.table("documents").select("doc_id", t.alias("text"))
    return fix_text(planted)


def _fix_text_oracle() -> str:
    """Replants the corrupted corpus (control/zero-width bytes via
    chr() so the SQL text itself stays clean) and replays fix_text's
    computed replacement chain + both regex passes. DuckDB's
    regexp_replace needs the explicit 'g' flag to match Spark's
    replace-all semantics."""
    from hdk_spark.operators.text import (
        _CTRL_CLASS,
        _WIDESPACE_CLASS,
        _mojibake_pairs,
    )

    pairs = _mojibake_pairs()
    expr = "t"
    for moji, ch in pairs:
        expr = f"replace({expr}, '{moji}', '{ch}')"
    fixed = (
        f"regexp_replace(regexp_replace({expr}, '{_CTRL_CLASS}', '', 'g'),"
        f" '{_WIDESPACE_CLASS}', ' ', 'g')"
    )
    alt = "|".join(m for m, _ in pairs)
    return f"""
WITH p0 AS (
  SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) || ' body' AS t FROM documents
), p1 AS (
  SELECT doc_id, CASE WHEN doc_id % 5 = 0
    THEN t || ' cafÃ© dÃ©jÃ' || chr(160) || 'vu' ELSE t END AS t FROM p0
), p2 AS (
  SELECT doc_id, CASE WHEN doc_id % 7 = 0
    THEN 'â€œheaderâ€¦ ' || t ELSE t END AS t FROM p1
), p3 AS (
  SELECT doc_id, CASE WHEN doc_id % 11 = 0
    THEN t || ' zero' || chr(8203) || 'width' ELSE t END AS t FROM p2
), p4 AS (
  SELECT doc_id, CASE WHEN doc_id % 13 = 0
    THEN t || chr(1) || chr(31) ELSE t END AS t FROM p3
)
SELECT doc_id,
       {fixed} AS text,
       regexp_matches(t, '{alt}') AS had_mojibake,
       regexp_matches(t, '{_CTRL_CLASS}') AS had_ctrl,
       regexp_matches(t, '{_WIDESPACE_CLASS}') AS had_widespace,
       CAST(length(t) - length({fixed}) AS BIGINT) AS n_removed
FROM p4
"""


SPARK_IMPLS["text_fix_encoding"] = q_text_fix_encoding
ORACLES["text_fix_encoding"] = _fix_text_oracle()


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget sampling (the mixture knob in token
    units): deterministic hash-order fill until each language's budget
    is reached, last document may overshoot. The Spark side runs the
    two-phase distributed prefix sum; the oracle replays it as ONE
    plain window — exactly equal because the (bucket, hash, id) order
    and integer token sums match."""
    from hdk_spark.operators.sampling import token_budget_sample

    _tables(spark, sf_dir)
    s = token_budget_sample(
        spark.table("documents"),
        group_col="lang",
        budgets={"en": 6000, "de": 2000, "fr": 1500},
        default_budget=2500,
        seed=7,
        n_buckets=32,
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


def _token_budget_oracle() -> str:
    h = _hb_sql("doc_id", 1000000007, 7)
    b = _hb_sql("doc_id", 32, 108)
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         {h} AS h, {b} AS b
  FROM documents
), c AS (
  SELECT *, COALESCE(SUM(tok) OVER (
    PARTITION BY lang ORDER BY b, h, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM c
WHERE cum < CASE lang WHEN 'en' THEN 6000 WHEN 'de' THEN 2000
                      WHEN 'fr' THEN 1500 ELSE 2500 END
GROUP BY lang
"""


SPARK_IMPLS["sample_token_budget"] = q_sample_token_budget
ORACLES["sample_token_budget"] = _token_budget_oracle()


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup cascade a training corpus runs, composed as ONE
    operator chain with per-stage survivor accounting (the
    crawl_pipeline pattern applied to dedup): exact text dedup (clones
    planted at doc_id%25 with +10000 ids so the stage provably bites)
    → word-3-gram Jaccard near-dup clusters, canonical min-id survivor
    → SemDedup over the survivors' embeddings. Emits one row per stage
    (stage, n_docs, id_sum) — the checksums pin every handoff."""
    from hdk_spark.operators.dedup import ngram_jaccard_pairs, semantic_dedup
    from hdk_spark.operators.graph import duplicate_clusters

    _tables(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    s0 = docs.unionAll(clones)
    s1 = s0.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    pairs = ngram_jaccard_pairs(s1, "doc_id", "text", n=3, threshold=0.5)
    removed = (
        duplicate_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    # The Jaccard chain is the expensive leg and feeds BOTH the stage-2
    # accounting branch and the semantic stage (whose k-means runs
    # several driver-coordinated actions over it) — persist the
    # survivor relation (ids + text, corpus-bounded) so the chain runs
    # once, not once per downstream action.
    s2, caches = _persist_internal(s1.join(removed, "doc_id", "left_anti"))
    emb = spark.table("embeddings").join(
        s2.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    sem = semantic_dedup(emb, "vec_id", "embedding", threshold=0.4)
    s3 = sem.filter("kept")

    def stage(name: str, frame: DataFrame, idc: str) -> DataFrame:
        return frame.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(idc).cast("bigint").alias("id_sum"),
        ).select(F.lit(name).alias("stage"), "n_docs", "id_sum")

    return _attach_caches(
        stage("0_input", s0, "doc_id")
        .unionAll(stage("1_exact", s1, "doc_id"))
        .unionAll(stage("2_neardup", s2, "doc_id"))
        .unionAll(stage("3_semantic", s3, "vec_id")),
        caches + _caches_of(sem),
    )


def _dedup_pipeline_oracle(threshold: float = 0.4) -> str:
    """Stage-by-stage SQL replay: planted clones + exact GROUP BY,
    the word-3-gram Jaccard pair/closure chain (the dedup_clusters
    oracle text over the exact survivors), and the full SemDedup chain
    (_semantic_ctes) over the near-dup survivors' embeddings."""
    return (
        r"""
WITH RECURSIVE s0 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 25 = 0
), s1 AS (
  SELECT min(doc_id) AS doc_id, text FROM s0 GROUP BY text
), jsh AS (
  SELECT doc_id AS id,
         list_distinct(
           list_transform(
             range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1, 1)),
             i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+2]
           )
         ) AS s_list
  FROM s1
), jex AS (
  SELECT id, len(s_list) AS n_sh, unnest(s_list) AS s FROM jsh WHERE len(s_list) > 0
), jpairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS common
  FROM jex a JOIN jex b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2, 3, 4
), jed AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
  UNION
  SELECT id_b, id_a FROM jpairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
), jreach(a, b) AS (
  SELECT a, b FROM jed
  UNION
  SELECT r.a, e.b FROM jreach r JOIN jed e ON r.b = e.a
), jgrp AS (
  SELECT a AS id, least(a, min(b)) AS cluster_id FROM jreach GROUP BY a
), s2 AS (
  SELECT s1.doc_id FROM s1 LEFT JOIN jgrp g ON s1.doc_id = g.id
  WHERE g.id IS NULL OR g.cluster_id = s1.doc_id
), s2emb AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: the unrolled Lloyd rounds scan their
  -- source relation once per assign/update CTE, and inlining would
  -- re-run the whole Jaccard chain each time (measured 195 s -> 7.7 s).
  SELECT e.vec_id, e.embedding FROM embeddings e JOIN s2 ON e.vec_id = s2.doc_id
),"""
        + _semantic_ctes(threshold, source="s2emb")
        + """
SELECT '0_input' AS stage, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM s0
UNION ALL
SELECT '1_exact', COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM s1
UNION ALL
SELECT '2_neardup', COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM s2
UNION ALL
SELECT '3_semantic', COUNT(*), CAST(SUM(id) AS BIGINT) FROM sem WHERE kept
"""
    )


SPARK_IMPLS["dedup_pipeline"] = q_dedup_pipeline
ORACLES["dedup_pipeline"] = _dedup_pipeline_oracle()


def _planted_link_pages(spark: SparkSession):
    """Deterministic crawl pages over documents.doc_id for the
    link-graph family: page d lives on site{d%17}.com and links to
    site{(2d+1)%17}.com (double-quoted href, always), to
    site{(3d+2)%17}.com when d%3==0 (single-quoted UPPERCASE HREF,
    https, query string), and to a relative path when d%5==0; an
    href-less ``<a name>`` anchor is planted on every page so the
    extractor's href requirement is exercised. Both cross-site
    targets self-loop exactly when d%17==16 (2d+1≡d and 3d+2≡d mod 17
    are both d≡-1), which link_graph drops."""
    d = F.col("doc_id")
    a = F.concat(
        F.lit("site"), ((d * 2 + 1) % 17).cast("string"), F.lit(".com")
    )
    b = F.concat(
        F.lit("site"), ((d * 3 + 2) % 17).cast("string"), F.lit(".com")
    )
    html = F.concat(
        F.lit('<html><body><a href="http://'), a, F.lit('/x">one</a>'),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("<A HREF='https://"), b, F.lit("/y?z=1'>two</A>")),
        ).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit('<a href="/rel/p">r</a>')).otherwise(
            F.lit("")
        ),
        F.lit('<a name="anchor">plain</a></body></html>'),
    )
    url = F.concat(
        F.lit("http://site"), (d % 17).cast("string"), F.lit(".com/p/"),
        d.cast("string"),
    )
    return spark.table("documents").select(
        "doc_id", url.alias("url"), html.alias("html")
    )


_LINK_EDGE_SQL = """
dd AS (SELECT doc_id AS d FROM documents),
e AS (
  SELECT d % 17 AS s, (2 * d + 1) % 17 AS t FROM dd
  UNION ALL
  SELECT d % 17, (3 * d + 2) % 17 FROM dd WHERE d % 3 = 0
)"""


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """href extraction (operators/html.py::extract_links) over the
    planted link pages: every quoted <a href> target in document
    order — double/single quotes, case-insensitive HREF, relative
    links passed through, href-less anchors ignored. The oracle
    derives every (doc, position, target) independently from the
    planting arithmetic."""
    from hdk_spark.operators.html import extract_links

    _tables(spark, sf_dir)
    return (
        extract_links(_planted_link_pages(spark))
        .select("doc_id", F.posexplode("links").alias("pos", "target"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "target")
        .orderBy("doc_id", "pos")
    )


_HTML_LINKS_ORACLE = """
WITH dd AS (SELECT doc_id AS d FROM documents),
l AS (
  SELECT d, CAST(0 AS BIGINT) AS pos,
         'http://site' || CAST((2 * d + 1) % 17 AS VARCHAR) || '.com/x' AS target
  FROM dd
  UNION ALL
  SELECT d, 1, 'https://site' || CAST((3 * d + 2) % 17 AS VARCHAR) || '.com/y?z=1'
  FROM dd WHERE d % 3 = 0
  UNION ALL
  SELECT d, CASE WHEN d % 3 = 0 THEN 2 ELSE 1 END, '/rel/p'
  FROM dd WHERE d % 5 = 0
)
SELECT d AS doc_id, pos, target FROM l ORDER BY doc_id, pos
"""

SPARK_IMPLS["html_links"] = q_html_links
ORACLES["html_links"] = _HTML_LINKS_ORACLE


def q_web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link-graph edges (operators/web.py::link_graph):
    absolute http(s) targets only, registrable-domain endpoints,
    self-edges dropped, parallel links aggregated into n_links. The
    oracle derives the edge multiset independently from the planting
    arithmetic (never replaying the extraction regex)."""
    from hdk_spark.operators.web import link_graph

    _tables(spark, sf_dir)
    return link_graph(_planted_link_pages(spark)).orderBy(
        "src_domain", "dst_domain"
    )


_LINK_GRAPH_ORACLE = (
    "WITH " + _LINK_EDGE_SQL + """
SELECT 'site' || CAST(s AS VARCHAR) || '.com' AS src_domain,
       'site' || CAST(t AS VARCHAR) || '.com' AS dst_domain,
       COUNT(*) AS n_links
FROM e WHERE s <> t
GROUP BY 1, 2 ORDER BY 1, 2
"""
)

SPARK_IMPLS["web_link_graph"] = q_web_link_graph
ORACLES["web_link_graph"] = _LINK_GRAPH_ORACLE


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (operators/graph.py::page_rank,
    3 iterations, damping 17/20, micro-unit scale 1e6) over the
    DISTINCT host graph that link_graph extracts from the planted
    pages — the crawl-prioritization composition end-to-end (HTML →
    hrefs → host edges → authority). The oracle re-derives the edge
    set from the planting arithmetic and unrolls all three exact
    integer iterations in SQL."""
    from hdk_spark.operators.graph import page_rank
    from hdk_spark.operators.web import link_graph

    _tables(spark, sf_dir)
    edges = (
        link_graph(_planted_link_pages(spark))
        .select(
            F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
        )
        .distinct()
    )
    return page_rank(edges, iters=3).orderBy("node")


def _pagerank_ctes() -> str:
    """The planted link-graph edges + unrolled 3-iteration integer
    PageRank as a CTE chain ending in ``r3`` (node int, rm bigint) —
    contributions are (rank*17) // (20*outdeg) with DuckDB's integer
    // matching Spark's DIV on the all-positive ranks; base = 150000
    micro-units = (1e6 * 3) // 20. Shared by the graph_pagerank
    oracle and the composed crawl-frontier oracle."""
    it = """
c{k} AS (
  SELECT de.t AS node, SUM((r.rm * 17) // (20 * g.outdeg)) AS sm
  FROM de JOIN r{p} r ON r.node = de.s JOIN deg g ON g.s = de.s
  GROUP BY de.t
),
r{k} AS (
  SELECT n.node, CAST(150000 + COALESCE(c.sm, 0) AS BIGINT) AS rm
  FROM r{p} n LEFT JOIN c{k} c ON c.node = n.node
)"""
    return (
        _LINK_EDGE_SQL + """,
de AS (SELECT DISTINCT s, t FROM e WHERE s <> t),
deg AS (SELECT s, COUNT(*) AS outdeg FROM de GROUP BY s),
nodes AS (SELECT DISTINCT n FROM (SELECT s AS n FROM de UNION ALL SELECT t FROM de)),
r0 AS (SELECT n AS node, CAST(1000000 AS BIGINT) AS rm FROM nodes),"""
        + it.format(k=1, p=0) + ","
        + it.format(k=2, p=1) + ","
        + it.format(k=3, p=2)
    )


def _pagerank_oracle() -> str:
    return (
        "WITH " + _pagerank_ctes()
        + """
SELECT 'site' || CAST(node AS VARCHAR) || '.com' AS node,
       rm AS rank_micro, rm / 1000000.0 AS rank
FROM r3 ORDER BY 1
"""
    )


SPARK_IMPLS["graph_pagerank"] = q_graph_pagerank
ORACLES["graph_pagerank"] = _pagerank_oracle()


def q_temporal_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrices
    (operators/temporal.py::retention_cohorts) at day AND week grain
    over events, tagged and unioned — the epoch-anchored integer
    periods make both engines agree without any week-anchor
    convention. n_users is COUNT(*) over the distinct (user, period)
    activity relation."""
    from hdk_spark.operators.temporal import retention_cohorts

    _tables(spark, sf_dir)
    e = spark.table("events")
    day = retention_cohorts(e, grain="day").select(
        F.lit("day").alias("grain"), "cohort_period", "period_offset",
        "n_users",
    )
    week = retention_cohorts(e, grain="week").select(
        F.lit("week").alias("grain"), "cohort_period", "period_offset",
        "n_users",
    )
    return day.unionAll(week).orderBy(
        "grain", "cohort_period", "period_offset"
    )


_RETENTION_ORACLE = """
WITH act AS (
  SELECT grain, user_id, p FROM (
    SELECT 'day' AS grain, user_id,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS p
    FROM events
    UNION ALL
    SELECT 'week', user_id,
           CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT)
    FROM events
  ) GROUP BY 1, 2, 3
), coh AS (
  SELECT grain, user_id, MIN(p) AS cohort FROM act GROUP BY 1, 2
)
SELECT a.grain, c.cohort AS cohort_period,
       a.p - c.cohort AS period_offset,
       COUNT(*) AS n_users
FROM act a JOIN coh c ON a.grain = c.grain AND a.user_id = c.user_id
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

SPARK_IMPLS["temporal_retention"] = q_temporal_retention
ORACLES["temporal_retention"] = _RETENTION_ORACLE


def q_sample_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard manifest
    (operators/sampling.py::shard_manifest, 16 shards): per-shard
    n_docs / n_tokens / key_sum plus the order-independent md5-basis
    content digest — the oracle recomputes every shard's digest from
    the same published formula, pinning that a consumer can verify a
    delivered shard file in any row order."""
    from hdk_spark.operators.sampling import shard_manifest

    _tables(spark, sf_dir)
    return shard_manifest(
        spark.table("documents"), n_shards=16
    ).orderBy("shard")


def _shard_manifest_oracle() -> str:
    sh = _hb_sql("doc_id", 16, 0)
    return f"""
WITH t AS (
  SELECT {sh} AS shard, doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         ((doc_id % 2147483647) * 2654435761
          + (CAST(concat('0x', substr(md5(COALESCE(text, '')), 1, 12)) AS BIGINT)
             % 2147483647)) % 2147483647 AS term
  FROM documents
)
SELECT CAST(shard AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(term AS DECIMAL(38,0))) % 2147483647 AS BIGINT) AS digest
FROM t GROUP BY 1 ORDER BY 1
"""


SPARK_IMPLS["sample_shard_manifest"] = q_sample_shard_manifest
ORACLES["sample_shard_manifest"] = _shard_manifest_oracle()


def q_web_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed frontier scheduler
    (operators/web.py::crawl_frontier): the web_url_seen_bloom
    planting (seen = doc_id%85 < 40, utm/trailing-slash variants)
    feeds the Bloom probe, and host authority comes from page_rank
    over the SAME planted link graph graph_pagerank uses — pinning
    the reg_domain seam between the probe's canonical URL and the
    link graph's node naming. drop_seen=False so the hash compare
    stays FP-independent: maybe_seen is checked through the
    covers-exact invariant (the web_url_seen_bloom pattern) while
    priority/ordering are exact."""
    from hdk_spark.operators.graph import page_rank
    from hdk_spark.operators.web import (
        build_url_seen_bloom, crawl_frontier, link_graph,
    )

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://site"), (d % 17).cast("string"),
        F.lit(".com/p/"), (d % 85).cast("string"),
        F.when(d % 2 == 0, F.lit("?utm_source=x")).otherwise(F.lit("/")),
    )
    planted = spark.table("documents").select("doc_id", url.alias("url"))
    arr = build_url_seen_bloom(planted.filter(d % 85 < 40))
    authority = page_rank(
        link_graph(_planted_link_pages(spark)).select(
            F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
        ).distinct(),
        iters=3,
    )
    out = crawl_frontier(planted, arr, authority, drop_seen=False)
    return out.select(
        "doc_id", "url", "canonical_url", "reg_domain", "priority",
        (d % 85 < 40).alias("exact_seen"),
        (F.col("maybe_seen") | ~(d % 85 < 40)).alias("bloom_covers_ok"),
    ).orderBy(F.desc("priority"), "canonical_url", "doc_id")


def _crawl_frontier_oracle() -> str:
    return (
        "WITH " + _pagerank_ctes() + """,
cand AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 17 AS VARCHAR) || '.com/p/'
           || CAST(doc_id % 85 AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '/' END
           AS url,
         'https://site' || CAST(doc_id % 17 AS VARCHAR) || '.com/p/'
           || CAST(doc_id % 85 AS VARCHAR) AS canonical_url,
         'site' || CAST(doc_id % 17 AS VARCHAR) || '.com' AS reg_domain,
         doc_id % 17 AS dom
  FROM documents
)
SELECT c.doc_id, c.url, c.canonical_url, c.reg_domain,
       CAST(COALESCE(r.rm, 0) AS BIGINT) AS priority,
       c.doc_id % 85 < 40 AS exact_seen,
       TRUE AS bloom_covers_ok
FROM cand c LEFT JOIN r3 r ON r.node = c.dom
ORDER BY priority DESC, canonical_url, doc_id
"""
    )


SPARK_IMPLS["web_crawl_frontier"] = q_web_crawl_frontier
ORACLES["web_crawl_frontier"] = _crawl_frontier_oracle()


def q_sample_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training export
    (operators/sampling.py::export_corpus): token-budget mixture fill
    (the sample_token_budget budgets) → 8-way shard shuffle → delivery
    manifest; the returned manifest checksums the whole composition —
    the oracle independently replays the serial budget cut, reassigns
    shards, and recomputes every shard's digest, so any drift in any
    stage handoff breaks the hash match."""
    from hdk_spark.operators.sampling import export_corpus

    _tables(spark, sf_dir)
    budgets = {"en": 6000, "de": 2000, "fr": 1500}
    _, manifest = export_corpus(
        spark.table("documents"),
        "lang",
        budgets,
        n_shards=8,
        default_budget=2500,
    )
    return manifest.orderBy("shard")


def _export_pipeline_oracle() -> str:
    h = _hb_sql("doc_id", 1000000007, 7)
    b = _hb_sql("doc_id", 32, 108)
    sh = _hb_sql("doc_id", 8, 7)
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         ((doc_id % 2147483647) * 2654435761
          + (CAST(concat('0x', substr(md5(COALESCE(text, '')), 1, 12)) AS BIGINT)
             % 2147483647)) % 2147483647 AS term,
         {h} AS h, {b} AS b
  FROM documents
), c AS (
  SELECT *, COALESCE(SUM(tok) OVER (
    PARTITION BY lang ORDER BY b, h, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
), s AS (
  SELECT doc_id, tok, term FROM c
  WHERE cum < CASE lang WHEN 'en' THEN 6000 WHEN 'de' THEN 2000
                        WHEN 'fr' THEN 1500 ELSE 2500 END
)
SELECT CAST({sh} AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(term AS DECIMAL(38,0))) % 2147483647 AS BIGINT) AS digest
FROM s GROUP BY 1 ORDER BY 1
"""


SPARK_IMPLS["sample_export_pipeline"] = q_sample_export_pipeline
ORACLES["sample_export_pipeline"] = _export_pipeline_oracle()


def q_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan (operators/layout.py::compaction_bins) over a
    planted file listing: per-partition path-ordered cumulative-size
    binning at a 1 MB target — the oracle replays the window
    arithmetic, pinning the never-split / idempotent-replan
    contract."""
    from hdk_spark.operators.layout import compaction_bins

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    listing = spark.table("documents").select(
        F.concat(F.lit("dt="), (d % 7).cast("string")).alias("part"),
        F.concat(
            F.lit("dt="), (d % 7).cast("string"), F.lit("/f"),
            F.lpad(d.cast("string"), 6, "0"), F.lit(".parquet"),
        ).alias("path"),
        ((d % 97) * 4096 + 1024).alias("size_bytes"),
    )
    return compaction_bins(
        listing, target_bytes=1 << 20, partition_col="part"
    ).orderBy("part", "path")


_COMPACTION_ORACLE = """
WITH listing AS (
  SELECT 'dt=' || CAST(doc_id % 7 AS VARCHAR) AS part,
         'dt=' || CAST(doc_id % 7 AS VARCHAR) || '/f'
           || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.parquet' AS path,
         (doc_id % 97) * 4096 + 1024 AS size_bytes
  FROM documents
), c AS (
  SELECT part, path, size_bytes,
         COALESCE(SUM(size_bytes) OVER (
           PARTITION BY part ORDER BY path
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // 1048576 AS bin
  FROM listing
)
SELECT part, path, size_bytes, CAST(bin AS BIGINT) AS bin,
       CAST(row_number() OVER (
         PARTITION BY part, bin ORDER BY path) - 1 AS BIGINT) AS bin_pos
FROM c ORDER BY part, path
"""

SPARK_IMPLS["layout_compaction"] = q_layout_compaction
ORACLES["layout_compaction"] = _COMPACTION_ORACLE


def q_web_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-rule robots.txt directives
    (operators/web.py::robots_directives) over 17 planted per-domain
    files: even domains declare a * Crawl-delay equal to their index
    plus a bot-group delay of 99 that must be IGNORED, and two
    file-scoped Sitemap lines (one under the bot group — still
    counts, RFC 9309 §2.3); domain 4 writes a fractional delay
    (floors); domain 8 writes two * delays (max wins); odd domains
    declare none. Every value is derived INDEPENDENTLY by the oracle
    from the planting arithmetic. Arrays are emitted joined so the
    compare is type-stable."""
    from hdk_spark.operators.web import robots_directives

    _tables(spark, sf_dir)
    i = F.col("id")
    dom = F.concat(F.lit("site"), i.cast("string"), F.lit(".com"))
    delay_line = F.when(
        i == 4, F.lit("Crawl-delay: 4.5 # fractional\n")
    ).when(
        i == 8, F.lit("Crawl-delay: 3\nCrawl-delay: 8\n")
    ).otherwise(F.concat(F.lit("Crawl-delay: "), i.cast("string"), F.lit("\n")))
    even = F.concat(
        F.lit("User-agent: *\n"), delay_line,
        F.lit("Sitemap: https://"), dom, F.lit("/sm1.xml\n"),
        F.lit("User-agent: bot\nCrawl-delay: 99\n"),
        F.lit("Sitemap: https://"), dom, F.lit("/sm2.xml\n"),
    )
    odd = F.lit("User-agent: *\nDisallow: /x\n")
    robots = spark.range(17).select(
        dom.alias("reg_domain"),
        F.when(i % 2 == 0, even).otherwise(odd).alias("robots_txt"),
    )
    out = robots_directives(robots)
    return out.select(
        "domain", "crawl_delay_s",
        F.array_join("sitemaps", ",").alias("sitemaps_joined"),
    ).orderBy("domain")


_ROBOTS_DIRECTIVES_ORACLE = """
WITH d AS (SELECT range AS i FROM range(17))
SELECT 'site' || CAST(i AS VARCHAR) || '.com' AS domain,
       CASE WHEN i % 2 = 1 THEN NULL
            WHEN i = 4 THEN 4
            WHEN i = 8 THEN 8
            ELSE i END AS crawl_delay_s,
       CASE WHEN i % 2 = 1 THEN ''
            ELSE 'https://site' || CAST(i AS VARCHAR) || '.com/sm1.xml,'
                 || 'https://site' || CAST(i AS VARCHAR) || '.com/sm2.xml'
       END AS sitemaps_joined
FROM d ORDER BY domain
"""

SPARK_IMPLS["web_robots_directives"] = q_web_robots_directives
ORACLES["web_robots_directives"] = _ROBOTS_DIRECTIVES_ORACLE


def q_stats_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (operators/stats.py::annotator_agreement) over
    two planted annotator label columns: annotator A labels
    doc_id%5; annotator B agrees except at doc_id%7==0 (shifts one
    class) and abstains (NULL) at doc_id%11==0. The oracle recomputes
    the integer confusion counts and the single-divide po/pe/kappa
    from the same planting arithmetic."""
    from hdk_spark.operators.stats import annotator_agreement

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    labeled = spark.table("documents").select(
        (d % 5).cast("string").alias("ann_a"),
        F.when(d % 11 == 0, F.lit(None).cast("string")).otherwise(
            F.when(d % 7 == 0, ((d + 1) % 5).cast("string"))
            .otherwise((d % 5).cast("string"))
        ).alias("ann_b"),
    )
    return annotator_agreement(labeled, "ann_a", "ann_b")


_AGREEMENT_ORACLE = """
WITH lab AS (
  SELECT CAST(doc_id % 5 AS VARCHAR) AS a,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              WHEN doc_id % 7 = 0 THEN CAST((doc_id + 1) % 5 AS VARCHAR)
              ELSE CAST(doc_id % 5 AS VARCHAR) END AS b
  FROM documents
), p AS (
  SELECT a, b, COUNT(*) AS c FROM lab WHERE b IS NOT NULL GROUP BY a, b
), t AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
  FROM p
), rm AS (SELECT a AS cls, SUM(c) AS r FROM p GROUP BY a),
cm AS (SELECT b AS cls, SUM(c) AS k FROM p GROUP BY b),
rc AS (
  SELECT CAST(COALESCE(SUM(r * k), 0) AS BIGINT) AS rc
  FROM rm JOIN cm USING (cls)
), nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes FROM (
    SELECT a AS cls FROM p UNION SELECT b FROM p)
)
SELECT t.n AS n_items, nc.n_classes,
       round(CAST(t.diag AS DOUBLE) / t.n, 6) + 0 AS po,
       round(CAST(rc.rc AS DOUBLE) / (t.n * t.n), 6) + 0 AS pe,
       round(CASE WHEN t.n * t.n <> rc.rc
             THEN CAST(t.n * t.diag - rc.rc AS DOUBLE) / (t.n * t.n - rc.rc)
             END, 6) + 0 AS kappa
FROM t, rc, nc
"""

SPARK_IMPLS["stats_agreement"] = q_stats_agreement
ORACLES["stats_agreement"] = _AGREEMENT_ORACLE


def q_multimodal_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction (operators/exif.py::exif_extract) —
    header-only, pixels never decoded: ten planted blob classes keyed
    by doc_id%10 cover both TIFF byte orders (classes 0-3 II, 4-7 MM),
    orientation/datetime/make/model/GPS-flag variation, a no-EXIF
    JPEG (class 8) and a truncated APP1 (class 9 — has_exif with all
    fields NULL, the totality contract). The oracle derives every
    field from the class arithmetic."""
    from hdk_spark.operators.exif import build_exif_app1
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)
    _tables(spark, sf_dir)
    blobs = []
    for c in range(8):
        app1 = build_exif_app1(
            orientation=c + 1,
            datetime=f"2024:01:{c + 1:02d} 12:00:00",
            make=f"Cam{c}",
            model=f"M{c % 3}",
            gps=(c % 2 == 0),
            big_endian=(c >= 4),
        )
        blobs.append(b"\xff\xd8" + app1 + b"\xff\xd9")
    blobs.append(b"\xff\xd8\xff\xd9")  # class 8: no EXIF
    trunc = build_exif_app1(make="TruncatedMakerName", orientation=3)
    blobs.append(b"\xff\xd8" + trunc[:16])  # class 9: cut mid-TIFF
    d = F.col("doc_id")
    data = F.element_at(
        F.array(*[F.lit(b) for b in blobs]), (d % 10 + 1).cast("int")
    )
    planted = spark.table("documents").select("doc_id", data.alias("data"))
    from hdk_spark.operators.exif import exif_extract

    return exif_extract(planted).orderBy("doc_id")


_EXIF_ORACLE = """
SELECT doc_id,
       doc_id % 10 <> 8 AS has_exif,
       CASE WHEN doc_id % 10 < 8 THEN CAST(doc_id % 10 + 1 AS INTEGER) END
         AS orientation,
       CASE WHEN doc_id % 10 < 8 THEN
         '2024:01:' || lpad(CAST(doc_id % 10 + 1 AS VARCHAR), 2, '0')
           || ' 12:00:00' END AS datetime,
       CASE WHEN doc_id % 10 < 8 THEN 'Cam' || CAST(doc_id % 10 AS VARCHAR)
         END AS make,
       CASE WHEN doc_id % 10 < 8 THEN 'M' || CAST(doc_id % 10 % 3 AS VARCHAR)
         END AS model,
       doc_id % 10 < 8 AND doc_id % 10 % 2 = 0 AS has_gps
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["multimodal_exif"] = q_multimodal_exif
ORACLES["multimodal_exif"] = _EXIF_ORACLE


def q_multimodal_image_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only image size gate
    (operators/exif.py::image_info_extract) over REAL codec-built
    blobs: classes 0-1 PNG, 2-3 baseline JPEG, 4 progressive JPEG
    (all solid-gray, dims from the class arithmetic), class 5 junk
    bytes — format/width/height/progressive all derived by the oracle
    from the arithmetic; pixels never decoded."""
    import numpy as np

    from hdk_spark.operators.exif import image_info_extract
    from hdk_spark.operators.jpeg import encode_jpeg
    from hdk_spark.operators.png import encode_png
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)
    _tables(spark, sf_dir)
    blobs = []
    for c in range(5):
        img = np.full((16 + 4 * c, 32 + 8 * c, 3), 100 + c, dtype=np.uint8)
        if c < 2:
            blobs.append(encode_png(img))
        else:
            blobs.append(encode_jpeg(img, progressive=(c == 4)))
    blobs.append(b"not an image at all")
    d = F.col("doc_id")
    data = F.element_at(
        F.array(*[F.lit(b) for b in blobs]), (d % 6 + 1).cast("int")
    )
    planted = spark.table("documents").select("doc_id", data.alias("data"))
    out = image_info_extract(planted)
    # progressive emits as a nullable INT flag: a boolean NULL
    # round-trips None-vs-NaN through pandas in the driver compare,
    # a numeric NULL normalizes (the crawl_delay_s precedent)
    return out.select(
        "doc_id", "format", "width", "height",
        F.col("progressive").cast("int").alias("progressive_flag"),
    ).orderBy("doc_id")


_IMAGE_INFO_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 6 < 2 THEN 'png'
            WHEN doc_id % 6 < 5 THEN 'jpeg'
            ELSE 'unknown' END AS format,
       CASE WHEN doc_id % 6 < 5 THEN CAST(32 + 8 * (doc_id % 6) AS INTEGER)
            END AS width,
       CASE WHEN doc_id % 6 < 5 THEN CAST(16 + 4 * (doc_id % 6) AS INTEGER)
            END AS height,
       CASE WHEN doc_id % 6 < 5 THEN CAST(doc_id % 6 = 4 AS INTEGER)
            END AS progressive_flag
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["multimodal_image_info"] = q_multimodal_image_info
ORACLES["multimodal_image_info"] = _IMAGE_INFO_ORACLE


def q_stats_fleiss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (operators/stats.py::fleiss_kappa) over three
    planted annotators per document (long format via explode):
    annotator a deviates from the base label d%4 by a+1 classes
    whenever (d+a)%5==0 — the oracle recomputes A/B and the
    single-divide po/pe/kappa from the same arithmetic."""
    from hdk_spark.operators.stats import fleiss_kappa

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    a = F.col("a")
    ann = spark.table("documents").select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("a")
    ).select(
        "doc_id",
        ((d + F.when((d + a) % 5 == 0, a + 1).otherwise(0)) % 4)
        .cast("string").alias("label"),
    )
    return fleiss_kappa(ann, "doc_id", "label")


_FLEISS_ORACLE = """
WITH ann AS (
  SELECT doc_id AS i,
         CAST((doc_id + CASE WHEN (doc_id + t.a) % 5 = 0 THEN t.a + 1
                             ELSE 0 END) % 4 AS VARCHAR) AS l
  FROM documents, (VALUES (0), (1), (2)) t(a)
), nij AS (
  SELECT i, l, COUNT(*) AS n FROM ann GROUP BY 1, 2
), tot AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS N FROM nij),
asum AS (
  SELECT CAST(SUM(n * (n - 1)) AS BIGINT) AS A,
         CAST(COUNT(DISTINCT l) AS BIGINT) AS k
  FROM nij
), bsum AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS B
  FROM (SELECT l, SUM(n) AS c FROM nij GROUP BY l)
)
SELECT N AS n_items, k AS n_classes, CAST(3 AS BIGINT) AS n_raters,
       round(CAST(A AS DOUBLE) / (N * 3 * 2), 6) + 0 AS po,
       round(CAST(B AS DOUBLE) / (CAST(N * 3 AS DOUBLE) * (N * 3)), 6) + 0 AS pe,
       round(CAST(A * (N * 3) * (N * 3) - B * (N * 6) AS DOUBLE)
             / (CAST(N * 6 AS DOUBLE) * ((N * 3) * (N * 3) - B)), 6) + 0 AS kappa,
       TRUE AS m_constant
FROM tot, asum, bsum
"""

SPARK_IMPLS["stats_fleiss"] = q_stats_fleiss
ORACLES["stats_fleiss"] = _FLEISS_ORACLE


def q_stats_label_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote merge (operators/stats.py::label_merge) over the
    stats_fleiss planting (3 annotators, deterministic deviations) —
    the oracle replays the vote window with the same
    most-votes-then-lexicographic rule."""
    from hdk_spark.operators.stats import label_merge

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    a = F.col("a")
    ann = spark.table("documents").select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("a")
    ).select(
        "doc_id",
        ((d + F.when((d + a) % 5 == 0, a + 1).otherwise(0)) % 4)
        .cast("string").alias("label"),
    )
    return label_merge(ann, "doc_id", "label").orderBy("doc_id")


_LABEL_MERGE_ORACLE = """
WITH ann AS (
  SELECT doc_id AS i,
         CAST((doc_id + CASE WHEN (doc_id + t.a) % 5 = 0 THEN t.a + 1
                             ELSE 0 END) % 4 AS VARCHAR) AS l
  FROM documents, (VALUES (0), (1), (2)) t(a)
), v AS (
  SELECT i, l, COUNT(*) AS c FROM ann GROUP BY 1, 2
), r AS (
  SELECT i, l, c,
         row_number() OVER (PARTITION BY i ORDER BY c DESC, l ASC) AS rn,
         SUM(c) OVER (PARTITION BY i) AS n,
         MAX(c) OVER (PARTITION BY i) AS mx
  FROM v
), top AS (
  SELECT i, COUNT(*) AS top_ct FROM r WHERE c = mx GROUP BY i
)
SELECT r.i AS doc_id, r.l AS label,
       CAST(r.c AS BIGINT) AS votes,
       CAST(r.n AS BIGINT) AS n_annotations,
       round(CAST(r.c AS DOUBLE) / r.n, 6) + 0 AS share,
       top.top_ct > 1 AS tied
FROM r JOIN top ON r.i = top.i
WHERE r.rn = 1 ORDER BY doc_id
"""

SPARK_IMPLS["stats_label_merge"] = q_stats_label_merge
ORACLES["stats_label_merge"] = _LABEL_MERGE_ORACLE


def q_multimodal_media_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only audio/video facts
    (operators/exif.py::media_info_extract) over real codec-built
    blobs: classes 0-1 WAV (stdlib wave writer; channels/rate/length
    from class arithmetic), 2-3 uncompressed AVI (encode_avi;
    dims/fps/frames from the arithmetic), class 4 junk. The oracle
    recomputes every field — including the integer duration and
    milli-fps formulas — from the same arithmetic; sample/frame
    payloads are never decoded."""
    import io
    import wave

    import numpy as np

    from hdk_spark.operators.avi import encode_avi
    from hdk_spark.operators.exif import media_info_extract
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)
    _tables(spark, sf_dir)
    blobs = []
    for c in range(2):  # WAV classes 0-1
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(c + 1)
            wf.setsampwidth(2)
            wf.setframerate(8000 * (c + 1))
            wf.writeframes(b"\x00\x00" * (c + 1) * (1000 * (c + 2)))
        blobs.append(buf.getvalue())
    for c in range(2, 4):  # AVI classes 2-3
        frames = [
            np.full((8 + 2 * c, 16 + 4 * c, 3), 40 * c + i, dtype=np.uint8)
            for i in range(3 + c)
        ]
        blobs.append(encode_avi(frames, fps=10 * c))
    blobs.append(b"neither riff nor sense")
    d = F.col("doc_id")
    data = F.element_at(
        F.array(*[F.lit(b) for b in blobs]), (d % 5 + 1).cast("int")
    )
    planted = spark.table("documents").select("doc_id", data.alias("data"))
    return media_info_extract(planted).orderBy("doc_id")


_MEDIA_INFO_ORACLE = """
SELECT doc_id,
  CASE WHEN doc_id % 5 < 2 THEN 'wav'
       WHEN doc_id % 5 < 4 THEN 'avi' ELSE 'unknown' END AS format,
  CASE WHEN doc_id % 5 < 2 THEN CAST(doc_id % 5 + 1 AS INTEGER) END AS channels,
  CASE WHEN doc_id % 5 < 2 THEN CAST(8000 * (doc_id % 5 + 1) AS INTEGER) END
    AS sample_rate,
  CASE WHEN doc_id % 5 < 2 THEN CAST(1000 * (doc_id % 5 + 2) AS BIGINT) END
    AS n_samples,
  CASE WHEN doc_id % 5 IN (2, 3) THEN CAST(16 + 4 * (doc_id % 5) AS INTEGER) END
    AS width,
  CASE WHEN doc_id % 5 IN (2, 3) THEN CAST(8 + 2 * (doc_id % 5) AS INTEGER) END
    AS height,
  CASE WHEN doc_id % 5 IN (2, 3) THEN CAST(3 + doc_id % 5 AS BIGINT) END
    AS n_frames,
  CASE WHEN doc_id % 5 IN (2, 3)
       THEN CAST(1000000000 // (1000000 // (10 * (doc_id % 5))) AS BIGINT) END
    AS fps_milli,
  CASE WHEN doc_id % 5 < 2
       THEN CAST((1000 * (doc_id % 5 + 2)) * 1000 // (8000 * (doc_id % 5 + 1))
            AS BIGINT)
       WHEN doc_id % 5 IN (2, 3)
       THEN CAST((3 + doc_id % 5) * (1000000 // (10 * (doc_id % 5))) // 1000
            AS BIGINT) END AS duration_ms
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["multimodal_media_info"] = q_multimodal_media_info
ORACLES["multimodal_media_info"] = _MEDIA_INFO_ORACLE


def q_search_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 over a persistent inverted index
    (operators/search.py::build_text_index + bm25_batch) — the
    build-once/query-many retrieval shape, fully declarative (corpus
    stats are broadcast 1-row relations, no driver action) with
    order-independent quantized score sums. Three planted queries,
    k=5; the oracle rebuilds the index and replays the whole batch
    in SQL."""
    from hdk_spark.operators.search import bm25_batch, build_text_index

    _tables(spark, sf_dir)
    postings, docs = build_text_index(spark.table("documents"))
    queries = spark.createDataFrame(
        [(1, ["hash", "join"]), (2, ["window"]), (3, ["data", "the", "hash"])],
        "query_id: long, terms: array<string>",
    )
    return bm25_batch(postings, docs, queries, k=5).orderBy(
        "query_id", "rank"
    )


_BM25_BATCH_ORACLE = r"""
WITH q(qid, terms) AS (
  VALUES (1, ['hash', 'join']), (2, ['window']), (3, ['data', 'the', 'hash'])
), qt AS (
  SELECT DISTINCT qid, unnest(terms) AS term FROM q
), staged AS (
  SELECT doc_id AS id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl
  FROM documents
), post AS (
  SELECT id, term, COUNT(*) AS tf
  FROM (SELECT id, unnest(toks) AS term FROM staged) GROUP BY 1, 2
), stats AS (
  SELECT COUNT(*) AS n, avg(dl) AS avgdl FROM staged
), hits AS (
  SELECT qt.qid, p.term, p.id, p.tf FROM post p JOIN qt USING (term)
), dfq AS (
  SELECT qid, term, COUNT(DISTINCT id) AS dft FROM hits GROUP BY 1, 2
), sc AS (
  SELECT h.qid, h.id,
         CAST(round(
           ln(1.0 + (st.n - d.dft + 0.5) / (d.dft + 0.5))
           * (CAST(h.tf AS DOUBLE) * 2.2
              / (CAST(h.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * s.dl / st.avgdl))) * 1e9
         ) AS BIGINT) AS cq
  FROM hits h
  JOIN dfq d ON h.qid = d.qid AND h.term = d.term
  JOIN staged s ON s.id = h.id
  CROSS JOIN stats st
), agg AS (
  SELECT qid, id, SUM(cq) AS sq FROM sc GROUP BY 1, 2 HAVING SUM(cq) > 0
), r AS (
  SELECT qid, id, sq,
         row_number() OVER (PARTITION BY qid ORDER BY sq DESC, id) AS rank
  FROM agg
)
SELECT qid AS query_id, id, round(sq / 1e9, 6) + 0 AS score,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""

SPARK_IMPLS["search_bm25_batch"] = q_search_bm25_batch
ORACLES["search_bm25_batch"] = _BM25_BATCH_ORACLE


def q_search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (operators/search.py::rrf_fuse) over two
    planted per-query rankings derived from doc_id arithmetic — a
    'lexical' leg ranking doc d at (d%7)+1 for query d%3 and a
    'dense' leg ranking (d+2) at (d%5)+1 for query d%3, so some docs
    appear in both legs and some in one. The oracle replays the exact
    integer 1e9 div (60+rank) fusion and the per-query re-rank."""
    from hdk_spark.operators.search import rrf_fuse

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    base = spark.table("documents").filter(d < 60)
    leg_a = base.select(
        (d % 3).alias("query_id"), d.alias("id"), ((d % 7) + 1).alias("rank")
    )
    leg_b = base.select(
        (d % 3).alias("query_id"), (d + 2).alias("id"),
        ((d % 5) + 1).alias("rank"),
    )
    return rrf_fuse(leg_a, leg_b, k=8).orderBy("query_id", "rank")


_RRF_ORACLE = """
WITH base AS (SELECT doc_id AS d FROM documents WHERE doc_id < 60),
legs AS (
  SELECT d % 3 AS q, d AS i, 1000000000 // (60 + (d % 7) + 1) AS c FROM base
  UNION ALL
  SELECT d % 3, d + 2, 1000000000 // (60 + (d % 5) + 1) FROM base
), agg AS (
  SELECT q, i, CAST(SUM(c) AS BIGINT) AS s FROM legs GROUP BY 1, 2
), r AS (
  SELECT q, i, s, row_number() OVER (PARTITION BY q ORDER BY s DESC, i) AS rank
  FROM agg
)
SELECT q AS query_id, i AS id, round(s / 1e9, 6) + 0 AS rrf_score,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 8 ORDER BY query_id, rank
"""

SPARK_IMPLS["search_rrf_fusion"] = q_search_rrf_fusion
ORACLES["search_rrf_fusion"] = _RRF_ORACLE


# ---------------------------------------------------------------------------
# round 9: the capstone training-export composition (VERDICT r8 "What's
# missing #1") — the full funnel a training-data job actually runs, as
# ONE contract row whose hash surface is every stage's survivor
# accounting plus the delivery manifest digests.
# ---------------------------------------------------------------------------


def q_training_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data funnel, every stage through the
    real operators, handoff-to-handoff:

      crawl_curate (WARC → gates → lang-ID → URL dedup → CCNet
      buckets, operators/crawl.py) → CCNet tail-bucket gate → planted
      re-crawl clones (exact at doc_id%10==3 +20000, one-token drift
      at %10==7 +30000 — so the dedup stages provably bite) → exact
      text dedup (min-id) → word-3-gram Jaccard near-dup clusters →
      SemDedup over survivors' embeddings → quality_score ≥ 0.52 gate
      → per-language token_budget_sample → pack_sequences (budget 256,
      4 shards) → shard_manifest (4 shards).

    Emits one row per stage (stage, n_docs, id_sum, n_tokens, digest):
    stages 0-7 carry exact survivor counts / id sums / whitespace-token
    sums (digest 0 except pack, whose digest pins the (shard, chunk)
    assignment as Σ(shard·100000 + chunk_id)); the manifest stage emits
    one row PER SHARD with the order-independent md5-basis content
    digest. The oracle replays every stage in SQL — lang-ID integer
    scoring, the unigram LM + NTILE, the Jaccard pair/closure chain,
    the unrolled k-means + SemDedup keep rule, the quality arithmetic,
    the serial prefix-sum budget cut, the packing window, and the
    manifest digests — so drift in ANY handoff (schema, gate
    semantics, survivor set, hash order) breaks the hash match.

    Scale shape: the composition adds NO exchanges of its own — every
    shuffle belongs to a member stage, each audited at its own
    contract row; survivor relations are persisted once per stage
    because the funnel accounting triggers one action per stage."""
    from hdk_spark.operators.dedup import ngram_jaccard_pairs, semantic_dedup
    from hdk_spark.operators.graph import duplicate_clusters
    from hdk_spark.operators.packing import pack_sequences
    from hdk_spark.operators.sampling import shard_manifest, token_budget_sample
    from hdk_spark.operators.text import quality_score, token_count

    _tables(spark, sf_dir)

    # Stage boundaries are EAGER localCheckpoints, not persists: each
    # stage's plan references its input 2+ times (groupBy+join-back,
    # operator+accounting branch), so raw lineage DOUBLES per stage —
    # the analyzed plan of the final 10-branch union reached the 2 GiB
    # plan-string ceiling and never finished analysis. Checkpointing
    # truncates the logical plan at every handoff (the PageRank
    # per-round discipline, graph.py) — and at 100 TB it's also the
    # right recovery unit: recomputing a lost funnel-stage partition
    # must not re-run the whole upstream funnel.
    def _cp(frame: DataFrame) -> DataFrame:
        return frame.localCheckpoint()

    st = _crawl_stages(spark)
    d = F.col("doc_id")
    s0 = (
        st["final"].select("doc_id", "lang", "bucket")
        .join(st["url_dedup"].select("doc_id", "text"), "doc_id")
    )
    s0 = _cp(s0)
    release_caches(st["final"])  # nothing after the checkpoint reads them
    s1 = _cp(
        s0.filter(F.col("bucket") != "tail").select("doc_id", "text", "lang")
    )
    inp = (
        s1.unionByName(
            s1.filter(d % 10 == 3).select(
                (d + 20000).alias("doc_id"), "text", "lang"
            )
        ).unionByName(
            s1.filter(d % 10 == 7).select(
                (d + 30000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" recrawl")).alias("text"),
                "lang",
            )
        )
    )
    inp = _cp(inp)
    s3 = _cp(
        inp.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        .join(inp, ["doc_id", "text"])
    )
    removed = (
        duplicate_clusters(
            ngram_jaccard_pairs(s3, "doc_id", "text", n=3, threshold=0.5)
        )
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    s4 = _cp(s3.join(removed, "doc_id", "left_anti"))
    sem = semantic_dedup(
        spark.table("embeddings").join(
            s4.select(d.alias("vec_id")), "vec_id"
        ),
        "vec_id", "embedding", threshold=0.3,
    )
    kept_sem = sem.filter("kept").select(F.col("vec_id").alias("doc_id"))
    s5 = _cp(s4.join(kept_sem, "doc_id"))
    release_caches(sem)
    s6 = _cp(
        s5.filter(F.round(quality_score(F.col("text")), 6) >= 0.52)
    )
    s7 = _cp(token_budget_sample(
        s6, group_col="lang",
        budgets={"fr": 400, "en": 350}, default_budget=250, seed=7,
    ))
    packed = pack_sequences(
        s7.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
        budget=256, n_shards=4, seed=0,
    )
    manifest = shard_manifest(s7, "doc_id", "text", n_shards=4, seed=0)

    zero = F.lit(0).cast("bigint")

    def acc(name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.sum(token_count(F.col("text")).cast("bigint"))
            .cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(name).alias("stage"), "n_docs", "id_sum", "n_tokens",
            zero.alias("digest"),
        )

    pack_acc = packed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.col("shard") * 100000 + F.col("chunk_id"))
        .cast("bigint").alias("digest"),
    ).select(
        F.lit("8_pack").alias("stage"), "n_docs", "id_sum", "n_tokens",
        "digest",
    )
    shard_rows = manifest.select(
        F.concat(F.lit("9_shard_"), F.col("shard").cast("string"))
        .alias("stage"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("key_sum").alias("id_sum"),
        F.col("n_tokens"),
        F.col("digest"),
    )
    return (
        acc("0_crawl", s0)
        .unionByName(acc("1_ccnet_gate", s1))
        .unionByName(acc("2_recrawl_input", inp))
        .unionByName(acc("3_exact", s3))
        .unionByName(acc("4_neardup", s4))
        .unionByName(acc("5_semantic", s5))
        .unionByName(acc("6_quality", s6))
        .unionByName(acc("7_budget", s7))
        .unionByName(pack_acc)
        .unionByName(shard_rows)
        .orderBy("stage")
    )


def _training_export_oracle() -> str:
    """Stage-by-stage SQL replay of the capstone funnel: the crawl
    survivor arithmetic + lang-ID scoring + unigram-LM NTILE (the
    crawl_pipeline oracle machinery), planted clones, exact GROUP BY,
    the word-3-gram Jaccard pair/closure chain (the dedup_pipeline
    oracle text), unrolled k-means + SemDedup (_semantic_ctes), the
    quality_score arithmetic (the text_profile oracle expression), the
    serial-window token-budget cut, the packing window, and the
    per-shard manifest digests."""
    langs_lit = ", ".join(f"'{x}'" for x in _CRAWL_LANGS)
    bh = _hb_sql("doc_id", 1000000007, 7)
    bb = _hb_sql("doc_id", 32, 108)
    ph = _hb_sql("doc_id", 1000000007, 0)
    psh = _hb_sql("doc_id", 4, 1)
    msh = _hb_sql("doc_id", 4, 0)
    return (
        _crawl_kept_cte().replace("WITH surv", "WITH RECURSIVE surv", 1)
        + _lang_score_cte("kept", _CRAWL_LANGS, 256, "lp")
        + rf""", langpred AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN 'und'
              ELSE [{langs_lit}][list_position(isums, bi)] END AS lang
  FROM lpbest
), ctok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM kept
), cf AS (
  SELECT token, COUNT(*) AS c FROM ctok GROUP BY token
), ctot AS (
  SELECT SUM(c) AS s FROM cf
), cscored AS (
  SELECT doc_id,
         round(AVG(ln(cf.c / CAST(ctot.s AS DOUBLE))), 6) + 0
           AS avg_logprob
  FROM ctok JOIN cf USING (token) CROSS JOIN ctot
  GROUP BY doc_id
), cranked AS (
  SELECT s.doc_id, l.lang,
         NTILE(3) OVER (PARTITION BY l.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM cscored s JOIN langpred l USING (doc_id)
), s0 AS MATERIALIZED (
  SELECT k.doc_id, k.text, r.lang, r.nt
  FROM cranked r JOIN kept k USING (doc_id)
), s1 AS MATERIALIZED (
  SELECT doc_id, text, lang FROM s0 WHERE nt < 3
), inp AS MATERIALIZED (
  SELECT doc_id, text, lang FROM s1
  UNION ALL
  SELECT doc_id + 20000, text, lang FROM s1 WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 30000, text || ' recrawl', lang FROM s1
  WHERE doc_id % 10 = 7
), s3k AS (
  SELECT min(doc_id) AS doc_id, text FROM inp GROUP BY text
), s3 AS MATERIALIZED (
  SELECT k.doc_id, k.text, i.lang
  FROM s3k k JOIN inp i ON k.doc_id = i.doc_id AND k.text = i.text
), jsh AS (
  SELECT doc_id AS id,
         list_distinct(
           list_transform(
             range(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 1, 1)),
             i -> regexp_split_to_array(trim(lower(text)), '\s+')[i] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+1] || ' ' ||
                  regexp_split_to_array(trim(lower(text)), '\s+')[i+2]
           )
         ) AS s_list
  FROM s3
), jex AS (
  SELECT id, len(s_list) AS n_sh, unnest(s_list) AS s
  FROM jsh WHERE len(s_list) > 0
), jpairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS common
  FROM jex a JOIN jex b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2, 3, 4
), jed AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
  UNION
  SELECT id_b, id_a FROM jpairs
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5
), jreach(a, b) AS (
  SELECT a, b FROM jed
  UNION
  SELECT r.a, e.b FROM jreach r JOIN jed e ON r.b = e.a
), jgrp AS (
  SELECT a AS id, least(a, min(b)) AS cluster_id FROM jreach GROUP BY a
), s4 AS MATERIALIZED (
  SELECT s3.doc_id, s3.text, s3.lang
  FROM s3 LEFT JOIN jgrp g ON s3.doc_id = g.id
  WHERE g.id IS NULL OR g.cluster_id = s3.doc_id
), s4emb AS MATERIALIZED (
  -- MATERIALIZED: the unrolled Lloyd rounds scan their source once
  -- per assign/update CTE; inlining would re-run the crawl + Jaccard
  -- chains each time (the dedup_pipeline oracle's measured 195->7.7 s)
  SELECT e.vec_id, e.embedding
  FROM embeddings e JOIN s4 ON e.vec_id = s4.doc_id
),"""
        + _semantic_ctes(0.3, source="s4emb")
        + rf""", s5 AS MATERIALIZED (
  SELECT s4.doc_id, s4.text, s4.lang
  FROM s4 JOIN sem ON sem.id = s4.doc_id AND sem.kept
), s6 AS MATERIALIZED (
  SELECT doc_id, text, lang FROM (
    SELECT doc_id, text, lang,
           round(
             least(length(text) / 500.0, 1.0) * 0.4
             + (1.0 - least(
                 CASE WHEN length(text) > 0
                      THEN CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS DOUBLE)
                           / length(text)
                      ELSE 0.0 END * 5.0, 1.0)) * 0.3
             + least(
                 CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                      THEN CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                                x -> list_contains({_SW['en']}, x))) AS DOUBLE)
                           / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                      ELSE 0.0 END * 4.0, 1.0) * 0.3,
             6) AS qual
    FROM s5
  ) WHERE qual >= 0.52
), bt AS (
  SELECT doc_id, text, lang,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok,
         {bh} AS h, {bb} AS b
  FROM s6
), bc AS (
  SELECT *, COALESCE(SUM(tok) OVER (
    PARTITION BY lang ORDER BY b, h, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM bt
), s7 AS MATERIALIZED (
  SELECT doc_id, text, lang, tok FROM bc
  WHERE cum < CASE lang WHEN 'fr' THEN 400 WHEN 'en' THEN 350
                        ELSE 250 END
), pk AS (
  SELECT doc_id, tok, {psh} AS shard,
         SUM(tok) OVER (
           PARTITION BY {psh} ORDER BY {ph}, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM s7
), mt AS (
  SELECT {msh} AS shard, doc_id, tok,
         ((doc_id % 2147483647) * 2654435761
          + (CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT)
             % 2147483647)) % 2147483647 AS term
  FROM s7
), wtok AS MATERIALIZED (
  -- token counts for EVERY id the funnel accounts: s0 covers the
  -- tail-bucket docs that never reach inp; inp covers the clones
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
  FROM (
    SELECT doc_id, text FROM s0
    UNION
    SELECT doc_id, text FROM inp
  )
)
SELECT '0_crawl' AS stage, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(w.tok) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS digest
FROM s0 JOIN wtok w USING (doc_id)
UNION ALL
SELECT '1_ccnet_gate', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(w.tok) AS BIGINT), 0
FROM s1 JOIN wtok w USING (doc_id)
UNION ALL
SELECT '2_recrawl_input', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(w.tok) AS BIGINT), 0
FROM inp JOIN wtok w USING (doc_id)
UNION ALL
SELECT '3_exact', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(w.tok) AS BIGINT), 0
FROM s3 JOIN wtok w USING (doc_id)
UNION ALL
SELECT '4_neardup', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(w.tok) AS BIGINT), 0
FROM s4 JOIN wtok w USING (doc_id)
UNION ALL
SELECT '5_semantic', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(w.tok) AS BIGINT), 0
FROM s5 JOIN wtok w USING (doc_id)
UNION ALL
SELECT '6_quality', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(w.tok) AS BIGINT), 0
FROM s6 JOIN wtok w USING (doc_id)
UNION ALL
SELECT '7_budget', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(tok) AS BIGINT), 0
FROM s7
UNION ALL
SELECT '8_pack', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
       CAST(SUM(tok) AS BIGINT),
       CAST(SUM(shard * 100000 + CAST(floor((cum - tok) / 256.0) AS BIGINT))
            AS BIGINT)
FROM pk
UNION ALL
SELECT '9_shard_' || CAST(shard AS VARCHAR), COUNT(*),
       CAST(SUM(doc_id) AS BIGINT), CAST(SUM(tok) AS BIGINT),
       CAST(SUM(CAST(term AS DECIMAL(38,0))) % 2147483647 AS BIGINT)
FROM mt GROUP BY 1
ORDER BY stage
"""
    )


SPARK_IMPLS["training_export_pipeline"] = q_training_export_pipeline
ORACLES["training_export_pipeline"] = _training_export_oracle()


def q_multimodal_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL DCT pHash path, value-checked via closed-form planted
    payloads (the BPE graduation pattern — VERDICT r8 'What's missing
    #2'): each doc_id < 126 becomes a 32×32 grayscale PNG built as

        X = 128 + Σ_{p=1..63} s_p · 2 · g_u ⊗ g_v,   p = 8u+v,

    where g_0 = 1, g_u(i) = cos(π(2i+1)u/64) are exactly the DCT-II
    basis vectors of image_phash's transform and s_p = +1 iff
    ((p−1+doc_id%63) % 63) < 31 (a rotating balanced pattern: with the
    always-positive DC, exactly 32 of the 64 low-block coefficients
    are positive). By basis orthogonality C·g_u = √(N/2)·e_u (√N for
    u=0), the 8×8 block is DC ≈ 4096 plus ±32/±45 at every other
    position — uint8 rounding perturbs each coefficient by ≲2 and the
    median sits in the ±32 gap, so bit k of the hash is EXACTLY s_k.
    The image is encoded by the repo's own PNG writer, decoded and
    DCT'd by image_phash(use_real_codec=True); the oracle computes the
    expected 64-bit hash purely from the sign-pattern arithmetic —
    no DCT anywhere in the oracle (verified exact for 130 consecutive
    ids at build time)."""
    from hdk_spark.operators.multimodal import image_phash

    _tables(spark, sf_dir)
    base = spark.table("documents").select("doc_id").filter(
        F.col("doc_id") < 126
    )

    def build(batches):
        import numpy as np
        import pandas as pd

        from hdk_spark.operators.png import encode_png

        N = 32
        gs = [np.ones(N)] + [
            np.cos(np.pi * (2 * np.arange(N) + 1) * u / (2 * N))
            for u in range(1, 8)
        ]
        for pdf in batches:
            blobs = []
            for rid in pdf["doc_id"]:
                r = int(rid) % 63
                X = np.full((N, N), 128.0)
                for p in range(1, 64):
                    u, v = divmod(p, 8)
                    s = 1.0 if ((p - 1 + r) % 63) < 31 else -1.0
                    X += s * 2.0 * np.outer(gs[u], gs[v])
                blobs.append(
                    encode_png(np.clip(np.round(X), 0, 255).astype(np.uint8))
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": blobs})

    payloads = base.mapInPandas(build, "media_id long, data binary")
    return image_phash(payloads, use_real_codec=True).orderBy("id")


# expected hash: DC is the MSB (always set — expressed as the signed
# int64 minimum), plus 1<<(63-p) for every p whose rotated-pattern
# sign is positive; pure integer arithmetic, no DCT.
_MULTIMODAL_PHASH_DCT_ORACLE = """
WITH ps AS (SELECT unnest(range(1, 64)) AS p),
h AS (
  SELECT d.doc_id,
         (-9223372036854775807 - 1) + SUM(
           CASE WHEN ((p.p - 1 + d.doc_id % 63) % 63) < 31
                THEN (CAST(1 AS BIGINT) << (63 - p.p))
                ELSE 0 END) AS phash
  FROM documents d CROSS JOIN ps p
  WHERE d.doc_id < 126
  GROUP BY d.doc_id
)
SELECT doc_id AS id, CAST(phash AS BIGINT) AS phash FROM h ORDER BY id
"""

SPARK_IMPLS["multimodal_phash_dct"] = q_multimodal_phash_dct
ORACLES["multimodal_phash_dct"] = _MULTIMODAL_PHASH_DCT_ORACLE


# ---------------------------------------------------------------------------
# round 9: data-selection operators (operators/selection.py) — DSIR
# importance resampling (Xie et al. 2023) and temperature mixture
# weights/budgets (the multilingual alpha-sampling rule).
# ---------------------------------------------------------------------------


def _dsir_target_df(spark: SparkSession) -> DataFrame:
    # deterministic planted "high-quality target": the en documents
    # with doc_id % 7 == 0 (sample-sized, id-derived — the oracle
    # replays the same predicate)
    return spark.table("documents").filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 7 == 0)
    ).select("doc_id", "text")


def q_select_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance weights
    (operators/selection.py::dsir_logweights, 256 buckets, unigrams +
    bigrams, add-1 smoothing) of every document against the planted
    en target. The oracle replays gram extraction, the md5 bucket
    hash, both count distributions, the quantized per-bucket
    log-ratio table, and the exact int64 micro-sum."""
    from hdk_spark.operators.selection import dsir_logweights

    _tables(spark, sf_dir)
    return dsir_logweights(
        spark.table("documents"), _dsir_target_df(spark), n_buckets=256
    ).orderBy("doc_id")


_DSIR_GRAMS = r"""
grams AS (
  SELECT doc_id AS id, unnest(list_concat(toks,
           list_transform(range(1, greatest(len(toks), 1)),
                          i -> toks[i] || ' ' || toks[i+1]))) AS g
  FROM (
    SELECT doc_id,
           CASE WHEN text IS NULL OR length(trim(text)) = 0
                THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(lower(text)), '\s+')
           END AS toks
    FROM documents
  )
), tgrams AS (
  SELECT g FROM grams
  JOIN documents d ON grams.id = d.doc_id
  WHERE d.lang = 'en' AND d.doc_id % 7 = 0
), rb AS (
  SELECT id,
         CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b
  FROM grams
), tb AS (
  SELECT CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b
  FROM tgrams
), rc AS (
  SELECT b, COUNT(*) AS cr FROM rb GROUP BY b
), tc AS (
  SELECT b, COUNT(*) AS ct FROM tb GROUP BY b
), tot AS (
  SELECT (SELECT SUM(cr) FROM rc) AS tr, (SELECT SUM(ct) FROM tc) AS tt
), ratio AS (
  SELECT rc.b,
         CAST(round((ln(COALESCE(tc.ct, 0) + 1)
                     - ln(COALESCE(tot.tt, 0) + 256)
                     - ln(rc.cr + 1)
                     + ln(tot.tr + 256)) * 1000000) AS BIGINT) AS lrm
  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot
), sc AS (
  SELECT rb.id, COUNT(*) AS n_grams, SUM(ratio.lrm) AS m
  FROM rb JOIN ratio ON rb.b = ratio.b GROUP BY rb.id
)"""


_DSIR_WEIGHTS_ORACLE = (
    "WITH " + _DSIR_GRAMS + """
SELECT d.doc_id,
       CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
       round(COALESCE(sc.m, 0) / 1e6, 6) + 0 AS log_weight
FROM documents d LEFT JOIN sc ON d.doc_id = sc.id
ORDER BY d.doc_id
"""
)

SPARK_IMPLS["select_dsir_weights"] = q_select_dsir_weights
ORACLES["select_dsir_weights"] = _DSIR_WEIGHTS_ORACLE


def q_select_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR resampling step: Gumbel top-25 over length-normalized
    log-weights with the repo's deterministic-hash uniform (pure
    function of (doc_id, seed) — stable under repartitioning). The
    oracle replays weight computation, the hash uniform, the Gumbel
    transform, and the top-k cut."""
    from hdk_spark.operators.selection import dsir_sample

    _tables(spark, sf_dir)
    return dsir_sample(
        spark.table("documents"), _dsir_target_df(spark), k=25,
        n_buckets=256, seed=17,
    )


def _dsir_sample_oracle() -> str:
    u = ("((" + _hb_sql("d.doc_id", 2147483647, 17)
         + ") + 0.5) / 2147483647.0")
    return (
        "WITH " + _DSIR_GRAMS + f"""
, w AS (
  SELECT d.doc_id,
         CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
         round(COALESCE(sc.m, 0) / 1e6, 6) + 0 AS log_weight,
         round(round(COALESCE(sc.m, 0) / 1e6, 6)
                 / greatest(COALESCE(sc.n_grams, 0), 1)
               + (-ln(-ln({u}))), 6) + 0 AS score
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.id
)
SELECT doc_id, n_grams, log_weight, score
FROM w ORDER BY score DESC, doc_id LIMIT 25
"""
    )


SPARK_IMPLS["select_dsir_sample"] = q_select_dsir_sample
ORACLES["select_dsir_sample"] = _dsir_sample_oracle()


def q_select_temperature_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-flattened mixture weights q_g ∝ p_g^0.3 by token
    mass (operators/selection.py::temperature_mixture — the
    mBERT/XLM-R alpha-sampling rule): majority languages damp, tails
    boost. Oracle replays token counting, the power law, and the
    normalization."""
    from hdk_spark.operators.selection import temperature_mixture

    _tables(spark, sf_dir)
    return temperature_mixture(
        spark.table("documents"), "lang", alpha=0.3
    ).orderBy("lang")


_TEMP_MIX_CTES = r"""
g AS (
  SELECT lang AS grp, COUNT(*) AS n_docs,
         SUM(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
             END) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT SUM(CAST(n_tokens AS DOUBLE)) AS t FROM g
), staged AS (
  SELECT grp, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / tot.t AS p,
         pow(CAST(n_tokens AS DOUBLE) / tot.t, 0.3) AS pa
  FROM g CROSS JOIN tot
), z AS (
  SELECT SUM(pa) AS z FROM staged
)"""


_TEMP_MIX_ORACLE = (
    "WITH " + _TEMP_MIX_CTES + """
SELECT grp AS lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(p, 6) + 0 AS p,
       round(pa / z.z, 6) + 0 AS q,
       round(pa / z.z / p, 6) + 0 AS boost
FROM staged CROSS JOIN z ORDER BY lang
"""
)

SPARK_IMPLS["select_temperature_mixture"] = q_select_temperature_mixture
ORACLES["select_temperature_mixture"] = _TEMP_MIX_ORACLE


def q_select_temperature_budgets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Integer per-group token budgets from the temperature weights,
    summing EXACTLY to 1,000,003 (a deliberately awkward total —
    largest-remainder rounding must distribute the shortfall):
    operators/selection.py::temperature_budgets. Oracle replays the
    micro-quantized shares, HUGEINT floor division, and the
    remainder-ranked distribution."""
    from hdk_spark.operators.selection import temperature_budgets

    _tables(spark, sf_dir)
    return temperature_budgets(
        spark.table("documents"), 1_000_003, "lang", alpha=0.3
    ).orderBy("lang")


_TEMP_BUDGETS_ORACLE = (
    "WITH " + _TEMP_MIX_CTES + """
, m AS (
  SELECT grp, n_docs, n_tokens, round(pa / z.z, 6) + 0 AS q
  FROM staged CROSS JOIN z
), qm AS (
  SELECT grp, n_docs, n_tokens, q,
         CAST(round(q * 1e6) AS BIGINT) AS qmv
  FROM m
), s AS (
  SELECT SUM(qmv) AS s FROM qm
), fl AS (
  SELECT grp, n_docs, n_tokens, q,
         CAST((CAST(qmv AS HUGEINT) * 1000003) // s.s AS BIGINT) AS fl,
         CAST((CAST(qmv AS HUGEINT) * 1000003)
              - ((CAST(qmv AS HUGEINT) * 1000003) // s.s) * s.s
              AS BIGINT) AS rem
  FROM qm CROSS JOIN s
), short AS (
  SELECT 1000003 - SUM(fl) AS sh FROM fl
), rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, grp ASC NULLS LAST)
              AS rk
  FROM fl
)
SELECT grp AS lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens, q,
       CAST(fl + CASE WHEN rk <= short.sh THEN 1 ELSE 0 END AS BIGINT)
         AS budget
FROM rk CROSS JOIN short ORDER BY lang
"""
)

SPARK_IMPLS["select_temperature_budgets"] = q_select_temperature_budgets
ORACLES["select_temperature_budgets"] = _TEMP_BUDGETS_ORACLE


def q_pack_sequences_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-SPLITTING sequence packing
    (operators/packing.py::pack_sequences_split, budget 128, 8
    shards): exact-fill chunks — every chunk but each shard's last
    holds exactly 128 tokens, docs straddling a boundary split into
    (piece_index, offset, n_tokens) pieces. The oracle replays the
    hash order, the running sum, and the piece interval arithmetic
    with generate_series."""
    from hdk_spark.operators.packing import pack_sequences_split
    from hdk_spark.operators.text import token_count

    _tables(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    return pack_sequences_split(
        docs, "doc_id", "n_tokens", budget=128, n_shards=8, seed=0
    ).orderBy("shard", "chunk_id", "piece_index", "doc_id")


_PACK_SPLIT_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           AS n_tokens,
         {_hb_sql('doc_id', 1000000007, 0)} AS h,
         {_hb_sql('doc_id', 8, 1)} AS shard
  FROM documents
), runs AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM toks
), spans AS (
  SELECT doc_id, shard, n_tokens, cum, cum - n_tokens AS start,
         CAST(floor((cum - n_tokens) / 128.0) AS BIGINT) AS lo,
         greatest(CAST(floor((cum - 1) / 128.0) AS BIGINT),
                  CAST(floor((cum - n_tokens) / 128.0) AS BIGINT)) AS hi
  FROM runs
), pieces AS (
  SELECT doc_id, shard, start, cum, lo,
         unnest(range(lo, hi + 1)) AS chunk_id
  FROM spans
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id - lo AS BIGINT) AS piece_index,
       CAST(greatest(chunk_id * 128, start) - start AS BIGINT) AS offset,
       CAST(least((chunk_id + 1) * 128, cum)
            - greatest(chunk_id * 128, start) AS BIGINT) AS n_tokens
FROM pieces
ORDER BY shard, chunk_id, piece_index, doc_id
"""

SPARK_IMPLS["pack_sequences_split"] = q_pack_sequences_split
ORACLES["pack_sequences_split"] = _PACK_SPLIT_ORACLE


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point HITS (operators/graph.py::hits, 2
    iterations, L∞ normalization, 1e9 micro-scale) over the same
    DISTINCT host graph as graph_pagerank — hubs and authorities
    separated where PageRank folds them. The oracle re-derives the
    edges from the planting arithmetic and unrolls both iterations
    (each half-round: DECIMAL sum-join, scalar max, ·scale // max)."""
    from hdk_spark.operators.graph import hits
    from hdk_spark.operators.web import link_graph

    _tables(spark, sf_dir)
    edges = (
        link_graph(_planted_link_pages(spark))
        .select(
            F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
        )
        .distinct()
    )
    return hits(edges, iters=2).orderBy("node")


def _hits_ctes(iters: int = 2) -> str:
    """Unrolled HITS rounds ending in ``h{iters}`` / ``a{iters}``
    (node, m): the planted de/nodes CTEs of _pagerank_ctes, hub_0 =
    1e9, then per round an authority half (sum hubs over in-edges,
    max-normalize) and a hub half (sum auths over out-edges,
    max-normalize). HUGEINT keeps the ·1e9 rescale exact."""
    half = """
{out}raw AS (
  SELECT de.{to} AS node, SUM(CAST(s.m AS HUGEINT)) AS sm
  FROM de JOIN {src} s ON s.node = de.{frm} GROUP BY de.{to}
),
{out}mx AS (
  SELECT greatest(MAX(sm), 1) AS mx FROM {out}raw
),
{out} AS (
  SELECT n.node,
         CAST((COALESCE(r.sm, 0) * 1000000000) // m.mx AS BIGINT) AS m
  FROM h0 n LEFT JOIN {out}raw r ON r.node = n.node CROSS JOIN {out}mx m
)"""
    parts = [
        _LINK_EDGE_SQL + """,
de AS (SELECT DISTINCT s, t FROM e WHERE s <> t),
nodes AS (SELECT DISTINCT n FROM (SELECT s AS n FROM de UNION ALL SELECT t FROM de)),
h0 AS (SELECT n AS node, CAST(1000000000 AS BIGINT) AS m FROM nodes)"""
    ]
    prev_hub = "h0"
    for k in range(1, iters + 1):
        parts.append(half.format(out=f"a{k}", to="t", frm="s", src=prev_hub))
        parts.append(half.format(out=f"h{k}", to="s", frm="t", src=f"a{k}"))
        prev_hub = f"h{k}"
    return ",".join(parts)


def _hits_oracle(iters: int = 2) -> str:
    return (
        "WITH " + _hits_ctes(iters)
        + f"""
SELECT 'site' || CAST(h.node AS VARCHAR) || '.com' AS node,
       h.m AS hub_micro, a.m AS auth_micro,
       h.m / 1000000000.0 AS hub, a.m / 1000000000.0 AS authority
FROM h{iters} h JOIN a{iters} a ON h.node = a.node
ORDER BY node
"""
    )


SPARK_IMPLS["graph_hits"] = q_graph_hits
ORACLES["graph_hits"] = _hits_oracle()


# ---------------------------------------------------------------------------
# round 9: product quantization (Jégou et al. 2011) — contract rows use
# EXPLICIT literal codebooks (the ann_ivf_topk centroids= discipline:
# trained codebooks are driver-sample-dependent; literal ones make
# encode and ADC bit-replayable in SQL). 8 subspaces × 4 constant-
# vector centroids sized to the synthetic embeddings' per-dim scale.
# ---------------------------------------------------------------------------

_PQ_VALS = (-0.15, -0.05, 0.05, 0.15)
_PQ_CB = [[[v] * 8 for v in _PQ_VALS] for _ in range(8)]


def q_similarity_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding (operators/similarity.py::pq_encode): every 64-dim
    embedding → 8 centroid ids (2 bits each with ksub=4 — a 64×
    compression of float32 vectors), emitted PACKED into one bigint
    (Σ code_j·4^j) so the hash surface is scalar. Oracle replays the
    per-subspace constant-centroid distances, first-minimum argmin
    (ties to the lower centroid id), and the packing."""
    from hdk_spark.operators.similarity import pq_encode

    _tables(spark, sf_dir)
    enc = pq_encode(spark.table("embeddings"), _PQ_CB)
    packed = F.lit(0).cast("bigint")
    for j in range(8):
        packed = packed + F.col("code")[j].cast("bigint") * F.lit(4 ** j)
    return enc.select(
        F.col("id").alias("vec_id"), packed.alias("code_packed")
    ).orderBy("vec_id")


def _pq_sub_dist_sql(vexpr: str, j: int, val: float) -> str:
    lo, hi = j * 8 + 1, j * 8 + 8
    return (
        f"list_reduce(list_transform({vexpr}[{lo}:{hi}], "
        f"x -> (CAST(x AS DOUBLE) - ({val})) * (CAST(x AS DOUBLE) - ({val}))), "
        "(p, q) -> p + q)"
    )


def _pq_code_sql(vexpr: str, j: int) -> str:
    ds = ", ".join(_pq_sub_dist_sql(vexpr, j, v) for v in _PQ_VALS)
    return (
        f"(list_position([{ds}], list_aggregate([{ds}], 'min')) - 1)"
    )


def _pq_encode_oracle() -> str:
    packed = " + ".join(
        f"CAST({_pq_code_sql('v', j)} AS BIGINT) * {4 ** j}"
        for j in range(8)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT vec_id, CAST({packed} AS BIGINT) AS code_packed
FROM e ORDER BY vec_id
"""


SPARK_IMPLS["similarity_pq_encode"] = q_similarity_pq_encode
ORACLES["similarity_pq_encode"] = _pq_encode_oracle()


def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5 for queries 0-3
    (operators/similarity.py::pq_topk): the corpus is scanned as
    codes, each query's exact subvector→centroid distances form the
    LUT, candidate distance = Σ_j lut[j][code_j]. Oracle recomputes
    codes, LUTs, the ADC sum in the same fold order, and the
    (adc asc, id asc) rank window."""
    from hdk_spark.operators.similarity import pq_topk

    _tables(spark, sf_dir)
    return pq_topk(
        spark.table("embeddings"), [0, 1, 2, 3], _PQ_CB, k=5
    ).orderBy("qid", "rank")


def _pq_topk_oracle() -> str:
    codes = ", ".join(
        f"CAST({_pq_code_sql('v', j)} AS INT)" for j in range(8)
    )
    luts = ", ".join(
        "[" + ", ".join(_pq_sub_dist_sql("qv", j, v) for v in _PQ_VALS) + "]"
        f" AS lut{j}"
        for j in range(8)
    )
    adc = " + ".join(f"q.lut{j}[c.code[{j + 1}] + 1]" for j in range(8))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id, [{codes}] AS code FROM e
), q AS (
  SELECT vec_id AS qid, v AS qv, {luts}
  FROM e WHERE vec_id IN (0, 1, 2, 3)
), scored AS (
  SELECT q.qid, c.vec_id AS neighbor_id, {adc} AS adc
  FROM c CROSS JOIN q WHERE c.vec_id <> q.qid
), r AS (
  SELECT qid, neighbor_id,
         row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id)
           AS rank,
         adc
  FROM scored
)
SELECT qid, neighbor_id, CAST(rank AS INT) AS rank,
       round(adc, 6) + 0 AS adc_dist
FROM r WHERE rank <= 5 ORDER BY qid, rank
"""


SPARK_IMPLS["similarity_pq_topk"] = q_similarity_pq_topk
ORACLES["similarity_pq_topk"] = _pq_topk_oracle()


def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram scoring
    (operators/text.py::kneser_ney_logprob, D=0.75 both orders,
    self-scored) — the literal KenLM smoothing family behind CCNet.
    The oracle rebuilds every count relation (trigram counts, context
    totals/type counts, continuation pairs, middle types, follower
    types, continuation unigrams, the bigram-type total) and replays
    the fixed-order interpolation + ln per position."""
    from hdk_spark.operators.text import kneser_ney_logprob

    _tables(spark, sf_dir)
    return _ordered(kneser_ney_logprob(spark.table("documents")), "doc_id")


_KNESER_NEY_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), pos AS (
  SELECT doc_id,
         toks[CAST(i AS INT) - 2] AS w1,
         toks[CAST(i AS INT) - 1] AS w2,
         toks[CAST(i AS INT)] AS w3
  FROM (SELECT doc_id, toks, unnest(range(3, len(toks) + 1)) AS i FROM t)
), tri AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM pos GROUP BY 1, 2, 3
), ctx3 AS (
  SELECT w1, w2, SUM(c3) AS ctx3_c, COUNT(*) AS ctx3_n1
  FROM tri GROUP BY 1, 2
), cont2 AS (
  SELECT w2, w3, COUNT(*) AS cont2 FROM tri GROUP BY 1, 2
), mid AS (
  SELECT w2, COUNT(*) AS mid_n FROM tri GROUP BY 1
), fol AS (
  SELECT w2, COUNT(*) AS fol_n FROM cont2 GROUP BY 1
), cont1 AS (
  SELECT w3, COUNT(*) AS cont1 FROM cont2 GROUP BY 1
), nbb AS (
  SELECT COUNT(*) AS nbb FROM cont2
), sc AS (
  SELECT p.doc_id,
         ln(
           CASE WHEN x3.ctx3_c IS NOT NULL THEN
             greatest(COALESCE(tr.c3, 0) - 0.75, 0) / x3.ctx3_c
             + 0.75 * x3.ctx3_n1 / x3.ctx3_c * (
               CASE WHEN m.mid_n IS NOT NULL THEN
                 greatest(COALESCE(c2.cont2, 0) - 0.75, 0) / m.mid_n
                 + 0.75 * f.fol_n / m.mid_n
                   * (CAST(greatest(COALESCE(c1.cont1, 0), 1) AS DOUBLE)
                      / nbb.nbb)
               ELSE CAST(greatest(COALESCE(c1.cont1, 0), 1) AS DOUBLE)
                    / nbb.nbb END)
           ELSE
             CASE WHEN m.mid_n IS NOT NULL THEN
               greatest(COALESCE(c2.cont2, 0) - 0.75, 0) / m.mid_n
               + 0.75 * f.fol_n / m.mid_n
                 * (CAST(greatest(COALESCE(c1.cont1, 0), 1) AS DOUBLE)
                    / nbb.nbb)
             ELSE CAST(greatest(COALESCE(c1.cont1, 0), 1) AS DOUBLE)
                  / nbb.nbb END
           END
         ) AS lp
  FROM pos p
  LEFT JOIN tri tr ON p.w1 = tr.w1 AND p.w2 = tr.w2 AND p.w3 = tr.w3
  LEFT JOIN ctx3 x3 ON p.w1 = x3.w1 AND p.w2 = x3.w2
  LEFT JOIN cont2 c2 ON p.w2 = c2.w2 AND p.w3 = c2.w3
  LEFT JOIN mid m ON p.w2 = m.w2
  LEFT JOIN fol f ON p.w2 = f.w2
  LEFT JOIN cont1 c1 ON p.w3 = c1.w3
  CROSS JOIN nbb
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       round(AVG(lp), 6) + 0 AS avg_logprob
FROM sc GROUP BY doc_id ORDER BY doc_id
"""

SPARK_IMPLS["text_kneser_ney"] = q_text_kneser_ney
ORACLES["text_kneser_ney"] = _KNESER_NEY_ORACLE


def q_text_ccnet_buckets_kn3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet buckets over the KNESER-NEY trigram scorer
    (ccnet_buckets(model='kn3') — the literal Wenzek et al. pipeline:
    KenLM-family smoothed LM + per-language NTILE thirds). The oracle
    chains the full KN replay into the rounded-score NTILE window."""
    from hdk_spark.operators.text import ccnet_buckets

    _tables(spark, sf_dir)
    return _ordered(ccnet_buckets(
        spark.table("documents"), lang_col="lang", model="kn3"
    ), "doc_id")


# the KN replay as a nested WITH, its tail re-aimed at the bucket
# window (n_trigrams -> n_tokens, no inner ORDER BY)
_CCNET_KN3_ORACLE = _KNESER_NEY_ORACLE.replace(
    """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       round(AVG(lp), 6) + 0 AS avg_logprob
FROM sc GROUP BY doc_id ORDER BY doc_id""",
    """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(AVG(lp), 6) + 0 AS avg_logprob
FROM sc GROUP BY doc_id""",
)
_CCNET_KN3_ORACLE = f"""
WITH scored AS ({_CCNET_KN3_ORACLE}
), ranked AS (
  SELECT s.doc_id, d.lang, s.n_tokens, s.avg_logprob,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS nt
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, n_tokens, avg_logprob,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id
"""

SPARK_IMPLS["text_ccnet_buckets_kn3"] = q_text_ccnet_buckets_kn3
ORACLES["text_ccnet_buckets_kn3"] = _CCNET_KN3_ORACLE


# ---------------------------------------------------------------------------
# round 9: unigram-LM tokenizer (Kudo 2018 / SentencePiece) — encode is
# value-checked under a HAND-SPECIFIED literal vocab on a planted
# closed lexicon, every segmentation derived by hand in the oracle
# (the bpe_encode_roundtrip pattern); training is pinned by the
# brute-force-Viterbi + invariant tests in test_bpe.py.
# ---------------------------------------------------------------------------

_UNI_LEX = ("lowering", "redoing", "undoing", "lower", "doing",
            "slow", "under", "sing", "ring")
# hand-specified vocab (max piece len 3). Hand derivations, Σ log p,
# every alternative strictly worse (chars cost −4 each):
#   lowering = low|er|ing  (−2−2.2−2.1 = −6.3)
#   redoing  = re|do|ing   (−2.4−2.5−2.1 = −7.0)
#   undoing  = un|do|ing   (−2.3−2.5−2.1 = −6.9)
#   lower    = low|er      (−4.2)   doing = do|ing (−4.6)
#   slow     = s|low       (−6.0)   under = un|d|er (−8.5)
#   sing     = s|ing       (−6.1)   ring  = r|ing  (−6.1)
_UNI_VOCAB = (
    [("low", -2.0), ("ing", -2.1), ("er", -2.2), ("un", -2.3),
     ("re", -2.4), ("do", -2.5)]
    + [(c, -4.0) for c in "delginorsuw"]
)
_UNI_SEG = {
    "lowering": "low|er|ing", "redoing": "re|do|ing",
    "undoing": "un|do|ing", "lower": "low|er", "doing": "do|ing",
    "slow": "s|low", "under": "un|d|er", "sing": "s|ing",
    "ring": "r|ing",
}


def q_tok_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi tokenization
    (operators/bpe.py::unigram_encode) of a planted closed-lexicon
    corpus (word k of doc d = lexicon[(d+k) % 9], d%4+2 words per
    doc) under the hand-specified literal vocab above — the oracle
    carries each word's hand-derived optimal segmentation as a VALUES
    table and reassembles documents in word order, so the DP, the
    tie-break rules, and the Arrow plumbing are all value-checked
    with NO Viterbi anywhere in the oracle."""
    from hdk_spark.operators.bpe import unigram_encode

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    lex = F.array(*[F.lit(w) for w in _UNI_LEX])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), d % 4 + 1),
            lambda k: F.element_at(lex, ((d + k) % 9 + 1).cast("int")),
        ),
        " ",
    )
    planted = spark.table("documents").select("doc_id", text.alias("text"))
    enc = unigram_encode(planted, _UNI_VOCAB)
    return enc.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens"),
        F.array_join("tokens", "|").alias("toks"),
    ).orderBy("doc_id")


def _unigram_encode_oracle() -> str:
    lex_rows = ", ".join(
        f"({i}, '{w}')" for i, w in enumerate(_UNI_LEX)
    )
    seg_rows = ", ".join(
        f"('{w}', '{p}')" for w, p in sorted(_UNI_SEG.items())
    )
    return f"""
WITH lex(i, w) AS (VALUES {lex_rows}),
seg(w, pieces) AS (VALUES {seg_rows}),
words AS (
  SELECT d.doc_id, k, l.w
  FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS k
        FROM documents) d
  JOIN lex l ON l.i = (d.doc_id + k) % 9
), joined AS (
  SELECT w1.doc_id,
         string_agg(s.pieces, '|' ORDER BY w1.k) AS toks
  FROM words w1 JOIN seg s ON s.w = w1.w
  GROUP BY w1.doc_id
)
SELECT doc_id,
       CAST(len(string_split(toks, '|')) AS BIGINT) AS n_tokens,
       toks
FROM joined ORDER BY doc_id
"""


SPARK_IMPLS["tok_unigram_encode"] = q_tok_unigram_encode
ORACLES["tok_unigram_encode"] = _unigram_encode_oracle()


def q_stats_ndv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL NDV rollups (operators/sketches.py): per-language
    distinct counts of doc_id%97 via DataSketches HLL, PLUS the
    mergeability check in-query — the corpus is sketched in two
    disjoint halves and merged, and ``merge_equal`` pins
    estimate(merge) == estimate(single-pass) exactly. At this
    cardinality (≤97 ≪ the lgk=12 coupon threshold) the sketch is in
    exact mode, so ``ndv`` itself value-checks against DuckDB's exact
    COUNT(DISTINCT); at estimate-mode cardinalities the contract
    degrades to the agg_approx error-band pattern (documented)."""
    from hdk_spark.operators.sketches import (
        merge_ndv_rollups,
        ndv_estimate,
        ndv_rollup,
    )

    _tables(spark, sf_dir)
    vals = spark.table("documents").select(
        "lang", (F.col("doc_id") % 97).alias("v"), "doc_id"
    )
    single = ndv_estimate(ndv_rollup(vals, "lang", "v"))
    merged = ndv_estimate(
        merge_ndv_rollups(
            ndv_rollup(vals.filter(F.col("doc_id") % 2 == 0), "lang", "v"),
            ndv_rollup(vals.filter(F.col("doc_id") % 2 == 1), "lang", "v"),
        )
    ).select(
        F.col("grp").alias("g2"),
        F.col("n_rows").alias("n2"),
        F.col("ndv").alias("ndv2"),
    )
    return (
        single.join(merged, single["grp"] == merged["g2"])
        .select(
            F.col("grp").alias("lang"),
            "n_rows",
            "ndv",
            ((F.col("ndv") == F.col("ndv2")) & (F.col("n_rows") == F.col("n2")))
            .alias("merge_equal"),
        )
        .orderBy("lang")
    )


_NDV_SKETCH_ORACLE = """
SELECT lang, COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT doc_id % 97) AS BIGINT) AS ndv,
       TRUE AS merge_equal
FROM documents GROUP BY lang ORDER BY lang
"""

SPARK_IMPLS["stats_ndv_sketch_rollup"] = q_stats_ndv_sketch_rollup
ORACLES["stats_ndv_sketch_rollup"] = _NDV_SKETCH_ORACLE


def q_web_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness waves (operators/web.py::politeness_schedule,
    per_host=2) over the planted skewed frontier (site{d%17}.com —
    domain 0 holds ~6% of all urls, so its queue stretches over many
    waves while small hosts finish in wave 0). Priority = doc_id%13.
    The oracle replays canonicalization arithmetic, the per-host
    (priority desc, url) window, and the wave division."""
    from hdk_spark.operators.web import politeness_schedule

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    planted = spark.table("documents").select(
        F.concat(
            F.lit("https://site"), (d % 17).cast("string"),
            F.lit(".com/p/"), d.cast("string"),
            F.when(d % 2 == 0, F.lit("?utm_source=x")).otherwise(F.lit("/")),
        ).alias("url"),
        (d % 13).alias("prio"),
    )
    return politeness_schedule(
        planted, per_host=2, priority_col="prio"
    ).orderBy("reg_domain", "host_rank")


_POLITENESS_ORACLE = """
WITH cand AS (
  SELECT 'https://site' || CAST(doc_id % 17 AS VARCHAR) || '.com/p/'
           || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '/' END
           AS url,
         'site' || CAST(doc_id % 17 AS VARCHAR) || '.com' AS reg_domain,
         doc_id % 13 AS prio
  FROM documents
), r AS (
  SELECT url, reg_domain,
         row_number() OVER (PARTITION BY reg_domain
                            ORDER BY prio DESC, url) AS rn
  FROM cand
)
SELECT url, reg_domain, CAST(rn AS BIGINT) AS host_rank,
       CAST((rn - 1) // 2 AS BIGINT) AS wave
FROM r ORDER BY reg_domain, host_rank
"""

SPARK_IMPLS["web_politeness_schedule"] = q_web_politeness_schedule
ORACLES["web_politeness_schedule"] = _POLITENESS_ORACLE


# coarse quantizer for the IVF-PQ row: 4 literal 64-dim centroids from
# a simple formula (((c·(d+1)) mod 5 − 2)/20 — distinct directions,
# magnitudes inside the synthetic embeddings' per-dim scale)
_IVFPQ_CENTS = {
    c: [(((c * (d + 1)) % 5) - 2) / 20.0 for d in range(64)]
    for c in range(4)
}


def q_similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (operators/similarity.py::ann_ivfpq_topk,
    nprobe=2, the PQ row's codebooks): coarse lists cut candidates,
    ADC scores only probed codes. The oracle replays the whole chain
    — struct-sort assignment/probe set, per-subspace codes, query
    LUTs, fold-order ADC over probed candidates, rank window."""
    from hdk_spark.operators.similarity import ann_ivfpq_topk

    _tables(spark, sf_dir)
    return ann_ivfpq_topk(
        spark.table("embeddings"), [0, 1, 2, 3],
        _IVFPQ_CENTS, _PQ_CB, k=5, nprobe=2,
    ).orderBy("qid", "rank")


def _ivfpq_full_dist_sql(vexpr: str, cent: "list[float]") -> str:
    lits = ", ".join(repr(float(x)) for x in cent)
    return (
        f"list_reduce(list_transform(list_zip({vexpr}, [{lits}]), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), "
        "(p, q) -> p + q)"
    )


def _ivfpq_oracle() -> str:
    structs = ", ".join(
        "struct_pack(d := "
        + _ivfpq_full_dist_sql("v", _IVFPQ_CENTS[c])
        + f", c := CAST({c} AS BIGINT))"
        for c in sorted(_IVFPQ_CENTS)
    )
    codes = ", ".join(
        f"CAST({_pq_code_sql('v', j)} AS INT)" for j in range(8)
    )
    luts = ", ".join(
        "[" + ", ".join(_pq_sub_dist_sql("qv", j, v) for v in _PQ_VALS) + "]"
        f" AS lut{j}"
        for j in range(8)
    )
    adc = " + ".join(f"ql.lut{j}[c.code[{j + 1}] + 1]" for j in range(8))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), asg AS (
  SELECT vec_id, v, list_sort([{structs}]) AS s FROM e
), a2 AS (
  SELECT vec_id, v, s[1].c AS list_id, [s[1].c, s[2].c] AS probes
  FROM asg
), c AS (
  SELECT vec_id, list_id, [{codes}] AS code FROM a2
), q AS (
  SELECT a.vec_id AS qid, unnest(a.probes) AS qlist, a.v AS qv
  FROM a2 a WHERE a.vec_id IN (0, 1, 2, 3)
), ql AS (
  SELECT qid, qlist, {luts} FROM q
), scored AS (
  SELECT ql.qid, c.vec_id AS neighbor_id, {adc} AS adc
  FROM c JOIN ql ON c.list_id = ql.qlist AND c.vec_id <> ql.qid
), r AS (
  SELECT qid, neighbor_id,
         row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id)
           AS rank,
         adc
  FROM scored
)
SELECT qid, neighbor_id, CAST(rank AS INT) AS rank,
       round(adc, 6) + 0 AS adc_dist
FROM r WHERE rank <= 5 ORDER BY qid, rank
"""


SPARK_IMPLS["similarity_ivfpq_topk"] = q_similarity_ivfpq_topk
ORACLES["similarity_ivfpq_topk"] = _ivfpq_oracle()


def q_select_temperature_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temperature→budget→sample BRIDGE as one composed row:
    temperature_budgets (α=0.3, 8,000 total tokens) computes the
    per-language budgets — collected to the driver (a GROUPS-sized
    relation, the bounded-driver-action pattern of the IVF coarse
    quantizer) — and token_budget_sample executes the mixture; the
    emitted per-language (n_docs, n_tokens, budget) pins the whole
    handoff. Oracle replays the budget arithmetic AND the serial
    prefix-sum cut, joining the cut against the derived budget
    relation instead of literals."""
    from hdk_spark.operators.sampling import token_budget_sample
    from hdk_spark.operators.selection import temperature_budgets

    _tables(spark, sf_dir)
    docs = spark.table("documents")
    brel = temperature_budgets(docs, 8_000, "lang", alpha=0.3)
    budgets = {r["lang"]: r["budget"] for r in brel.collect()}
    sampled = token_budget_sample(
        docs, "lang", budgets, default_budget=0, seed=7
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .join(
            brel.select("lang", "budget"), "lang"
        )
        .orderBy("lang")
    )


_TEMP_EXPORT_ORACLE = (
    "WITH " + _TEMP_MIX_CTES + """
, m AS (
  SELECT grp, round(pa / z.z, 6) + 0 AS q FROM staged CROSS JOIN z
), qm AS (
  SELECT grp, q, CAST(round(q * 1e6) AS BIGINT) AS qmv FROM m
), s AS (
  SELECT SUM(qmv) AS s FROM qm
), fl AS (
  SELECT grp,
         CAST((CAST(qmv AS HUGEINT) * 8000) // s.s AS BIGINT) AS fl,
         CAST((CAST(qmv AS HUGEINT) * 8000)
              - ((CAST(qmv AS HUGEINT) * 8000) // s.s) * s.s
              AS BIGINT) AS rem
  FROM qm CROSS JOIN s
), short AS (
  SELECT 8000 - SUM(fl) AS sh FROM fl
), budgets AS (
  SELECT grp,
         CAST(fl + CASE WHEN
           row_number() OVER (ORDER BY rem DESC, grp ASC NULLS LAST)
             <= short.sh THEN 1 ELSE 0 END AS BIGINT) AS budget
  FROM fl CROSS JOIN short
), bt AS (
  SELECT doc_id, lang,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok,
         """ + _hb_sql("doc_id", 1000000007, 7) + """ AS h,
         """ + _hb_sql("doc_id", 32, 108) + """ AS b
  FROM documents
), bc AS (
  SELECT *, COALESCE(SUM(tok) OVER (
    PARTITION BY lang ORDER BY b, h, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM bt
), cut AS (
  SELECT bc.doc_id, bc.lang, bc.tok
  FROM bc JOIN budgets bg ON bc.lang = bg.grp
  WHERE bc.cum < bg.budget
)
SELECT c.lang, COUNT(*) AS n_docs, CAST(SUM(c.tok) AS BIGINT) AS n_tokens,
       bg.budget
FROM cut c JOIN budgets bg ON c.lang = bg.grp
GROUP BY c.lang, bg.budget ORDER BY c.lang
"""
)

SPARK_IMPLS["select_temperature_export"] = q_select_temperature_export
ORACLES["select_temperature_export"] = _TEMP_EXPORT_ORACLE


def q_pack_materialize_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenize→split-pack→materialize composition
    (operators/packing.py::materialize_chunks over unigram_encode's
    output, budget 64, 4 shards): actual fixed-length training
    examples with document-boundary counts. The oracle rebuilds each
    shard's WHOLE token stream (hand-derived segmentations
    concatenated in pack order) and slices it at 64-token boundaries
    — an INDEPENDENT formulation (stream slicing) of what the
    operator computes via per-piece intervals, so agreement pins the
    tiling, the within-chunk order, and the boundary arithmetic."""
    from hdk_spark.operators.bpe import unigram_encode
    from hdk_spark.operators.packing import materialize_chunks

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    lex = F.array(*[F.lit(w) for w in _UNI_LEX])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), d % 4 + 1),
            lambda k: F.element_at(lex, ((d + k) % 9 + 1).cast("int")),
        ),
        " ",
    )
    planted = spark.table("documents").select("doc_id", text.alias("text"))
    toks = unigram_encode(planted, _UNI_VOCAB).select(
        F.col("id").alias("doc_id"), "tokens"
    )
    out = materialize_chunks(
        toks, "doc_id", "tokens", budget=64, n_shards=4, seed=0
    )
    return _attach_caches(out.select(
        "shard", "chunk_id", "n_tokens", "n_docs",
        F.md5(F.encode(F.array_join("tokens", "|"), "utf-8")).alias("digest"),
    ).orderBy("shard", "chunk_id"), _caches_of(out))


def _materialize_oracle() -> str:
    lex_rows = ", ".join(f"({i}, '{w}')" for i, w in enumerate(_UNI_LEX))
    seg_rows = ", ".join(
        f"('{w}', '{p}')" for w, p in sorted(_UNI_SEG.items())
    )
    h = _hb_sql("doc_id", 1000000007, 0)
    sh = _hb_sql("doc_id", 4, 1)
    return f"""
WITH lex(i, w) AS (VALUES {lex_rows}),
seg(w, pieces) AS (VALUES {seg_rows}),
words AS (
  SELECT d.doc_id, k, l.w
  FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS k
        FROM documents) d
  JOIN lex l ON l.i = (d.doc_id + k) % 9
), dtoks AS (
  SELECT w1.doc_id,
         string_agg(s.pieces, '|' ORDER BY w1.k) AS toks,
         {h} AS h, {sh} AS shard
  FROM words w1 JOIN seg s ON s.w = w1.w
  GROUP BY w1.doc_id
), streams AS (
  SELECT shard, string_agg(toks, '|' ORDER BY h, doc_id) AS stream
  FROM dtoks GROUP BY shard
), spl AS (
  SELECT shard, string_split(stream, '|') AS ts FROM streams
), chunks AS (
  SELECT shard, unnest(range(0, (len(ts) + 63) // 64)) AS chunk_id, ts
  FROM spl
), built AS (
  SELECT shard, chunk_id,
         ts[CAST(chunk_id * 64 + 1 AS INT):CAST(least((chunk_id + 1) * 64,
                                                len(ts)) AS INT)] AS ck
  FROM chunks
), spans AS (
  SELECT d.doc_id, d.shard,
         SUM(len(string_split(d.toks, '|'))) OVER (
           PARTITION BY d.shard ORDER BY d.h, d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS fin,
         len(string_split(d.toks, '|')) AS nt
  FROM dtoks d
), ndocs AS (
  SELECT b.shard, b.chunk_id, COUNT(*) AS n_docs
  FROM built b JOIN spans s
    ON s.shard = b.shard
   AND s.fin - s.nt < (b.chunk_id + 1) * 64
   AND s.fin > b.chunk_id * 64
  GROUP BY b.shard, b.chunk_id
)
SELECT b.shard, CAST(b.chunk_id AS BIGINT) AS chunk_id,
       CAST(len(b.ck) AS BIGINT) AS n_tokens,
       CAST(n.n_docs AS BIGINT) AS n_docs,
       md5(array_to_string(b.ck, '|')) AS digest
FROM built b JOIN ndocs n ON b.shard = n.shard AND b.chunk_id = n.chunk_id
ORDER BY b.shard, b.chunk_id
"""


SPARK_IMPLS["pack_materialize_chunks"] = q_pack_materialize_chunks
ORACLES["pack_materialize_chunks"] = _materialize_oracle()


def q_graph_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (operators/graph.py::trust_rank, seeds = the even
    site ids, 3 iterations) over the planted host graph — trust flows
    out of the seed half only, so odd sites score exactly their
    link-inherited trust (no base term). The oracle unrolls the
    seeded integer iteration like the graph_pagerank oracle."""
    from hdk_spark.operators.graph import trust_rank
    from hdk_spark.operators.web import link_graph

    _tables(spark, sf_dir)
    edges = (
        link_graph(_planted_link_pages(spark))
        .select(
            F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
        )
        .distinct()
    )
    seeds = [f"site{i}.com" for i in range(0, 17, 2)]
    return trust_rank(edges, seeds, iters=3).orderBy("node")


def _trustrank_ctes() -> str:
    """Seeded variant of _pagerank_ctes: rank_0 = 1e6 for even nodes
    else 0; per-round base 150000 paid to even nodes only."""
    it = """
tc{k} AS (
  SELECT de.t AS node, SUM((r.rm * 17) // (20 * g.outdeg)) AS sm
  FROM de JOIN tr{p} r ON r.node = de.s JOIN deg g ON g.s = de.s
  GROUP BY de.t
),
tr{k} AS (
  SELECT n.node,
         CAST(CASE WHEN n.node % 2 = 0 THEN 150000 ELSE 0 END
              + COALESCE(c.sm, 0) AS BIGINT) AS rm
  FROM tr{p} n LEFT JOIN tc{k} c ON c.node = n.node
)"""
    return (
        _LINK_EDGE_SQL + """,
de AS (SELECT DISTINCT s, t FROM e WHERE s <> t),
deg AS (SELECT s, COUNT(*) AS outdeg FROM de GROUP BY s),
nodes AS (SELECT DISTINCT n FROM (SELECT s AS n FROM de UNION ALL SELECT t FROM de)),
tr0 AS (SELECT n AS node,
               CAST(CASE WHEN n % 2 = 0 THEN 1000000 ELSE 0 END AS BIGINT)
                 AS rm
        FROM nodes),"""
        + it.format(k=1, p=0) + ","
        + it.format(k=2, p=1) + ","
        + it.format(k=3, p=2)
    )


def _trustrank_oracle() -> str:
    return (
        "WITH " + _trustrank_ctes()
        + """
SELECT 'site' || CAST(node AS VARCHAR) || '.com' AS node,
       rm AS trust_micro, rm / 1000000.0 AS trust
FROM tr3 ORDER BY 1
"""
    )


SPARK_IMPLS["graph_trustrank"] = q_graph_trustrank
ORACLES["graph_trustrank"] = _trustrank_oracle()


def q_text_dedup_doc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc line dedup (operators/text.py::dedup_doc_lines) over
    a planted multi-line corpus: doc d = lines [L(d), L(d+1), L(d),
    banner, L(d+2), banner] (the repeated first line and the
    twice-pasted banner must both collapse). The oracle is the
    INDEPENDENT formulation — explode + per-(doc, line) first-position
    window + ordered string_agg — versus the operator's map-only JVM
    fold."""
    from hdk_spark.operators.text import dedup_doc_lines

    _tables(spark, sf_dir)
    d = F.col("doc_id")

    def line(k):
        return F.concat(F.lit("line "), ((d + k) % 7).cast("string"))

    planted = spark.table("documents").select(
        "doc_id",
        F.concat_ws(
            "\n", line(0), line(1), line(0), F.lit("COOKIE BANNER"),
            line(2), F.lit("COOKIE BANNER"),
        ).alias("text"),
    )
    return dedup_doc_lines(planted).orderBy("doc_id")


_DEDUP_DOC_LINES_ORACLE = r"""
WITH planted AS (
  SELECT doc_id,
         'line ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
         'line ' || CAST((doc_id + 1) % 7 AS VARCHAR) || chr(10) ||
         'line ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
         'COOKIE BANNER' || chr(10) ||
         'line ' || CAST((doc_id + 2) % 7 AS VARCHAR) || chr(10) ||
         'COOKIE BANNER' AS text
  FROM documents
), ex AS (
  SELECT doc_id, text, i,
         string_split(text, chr(10))[CAST(i AS INT)] AS line
  FROM (SELECT doc_id, text,
               unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i
        FROM planted)
), firsts AS (
  SELECT doc_id, i, line,
         row_number() OVER (PARTITION BY doc_id, line ORDER BY i) AS rn,
         COUNT(*) OVER (PARTITION BY doc_id) AS total
  FROM ex
)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY i) FILTER (WHERE rn = 1) AS text,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_lines,
       CAST(ANY_VALUE(total) - COUNT(*) FILTER (WHERE rn = 1) AS BIGINT)
         AS n_removed
FROM firsts GROUP BY doc_id ORDER BY doc_id
"""

SPARK_IMPLS["text_dedup_doc_lines"] = q_text_dedup_doc_lines
ORACLES["text_dedup_doc_lines"] = _DEDUP_DOC_LINES_ORACLE


def q_chat_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT sample building (operators/chat.py::chat_loss_mask) over
    planted conversations (doc d: d%3+1 user/assistant pairs, pair i
    content 'u{i} q{(d+i)%5}' / 'a{i} r{(d+i)%3} ok'): rendered token
    stream + per-token loss mask, trainable only on assistant
    content. The oracle rebuilds both streams independently from the
    planting arithmetic — per-pair 7-token fragments and the constant
    '0001011...' mask pattern — with no JSON and no HOFs."""
    from hdk_spark.operators.chat import chat_loss_mask

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    pairs = (d % 3 + 1).cast("int")
    conv = F.to_json(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), pairs),
                lambda i: F.array(
                    F.struct(
                        F.lit("user").alias("role"),
                        F.concat(
                            F.lit("u"), i.cast("string"), F.lit(" q"),
                            ((d + i) % 5).cast("string"),
                        ).alias("content"),
                    ),
                    F.struct(
                        F.lit("assistant").alias("role"),
                        F.concat(
                            F.lit("a"), i.cast("string"), F.lit(" r"),
                            ((d + i) % 3).cast("string"), F.lit(" ok"),
                        ).alias("content"),
                    ),
                ),
            )
        )
    )
    planted = spark.table("documents").select(
        "doc_id", conv.alias("conversation")
    )
    out = chat_loss_mask(planted)
    return out.select(
        "doc_id", "n_tokens", "n_trainable",
        F.md5(F.encode(F.array_join("tokens", "|"), "utf-8")).alias(
            "tok_digest"
        ),
        F.array_join(F.transform("loss_mask", lambda x: x.cast("string")), "")
        .alias("mask"),
    ).orderBy("doc_id")


_CHAT_LOSS_MASK_ORACLE = """
WITH p AS (
  SELECT doc_id, doc_id % 3 + 1 AS pairs FROM documents
), frags AS (
  SELECT p.doc_id, i,
         '<|user|>|u' || CAST(i AS VARCHAR) || '|q'
           || CAST((p.doc_id + i) % 5 AS VARCHAR)
           || '|<|assistant|>|a' || CAST(i AS VARCHAR) || '|r'
           || CAST((p.doc_id + i) % 3 AS VARCHAR) || '|ok' AS frag
  FROM p, unnest(range(1, pairs + 1)) AS t(i)
)
SELECT f.doc_id,
       CAST(7 * p.pairs AS BIGINT) AS n_tokens,
       CAST(3 * p.pairs AS BIGINT) AS n_trainable,
       md5(string_agg(f.frag, '|' ORDER BY f.i)) AS tok_digest,
       repeat('0000111', CAST(p.pairs AS INT)) AS mask
FROM frags f JOIN p ON f.doc_id = p.doc_id
GROUP BY f.doc_id, p.pairs ORDER BY f.doc_id
"""

SPARK_IMPLS["chat_loss_mask"] = q_chat_loss_mask
ORACLES["chat_loss_mask"] = _CHAT_LOSS_MASK_ORACLE


def q_denoise_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (operators/denoise.py::span_corruption,
    density 3/20, mean span 3) over planted token arrays
    (doc d: tokens w{(d+j)%11}, j < d%17+4). The oracle replays the
    ENTIRE deterministic sampler in SQL — noise budget, window cuts,
    per-(id, k) Knuth-hash offsets, slice framing, sentinel placement
    — and emits the same digests, so the whole corruption contract is
    value-checked."""
    from hdk_spark.operators.denoise import span_corruption

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    toks = F.transform(
        F.sequence(F.lit(0), (d % 17 + 3).cast("int")),
        lambda j: F.concat(F.lit("w"), ((d + j) % 11).cast("string")),
    )
    planted = spark.table("documents").select("doc_id", toks.alias("tokens"))
    out = span_corruption(planted)
    return out.select(
        "doc_id", "n_tokens", "n_noise", "n_spans",
        F.md5(F.encode(F.array_join("inputs", "|"), "utf-8")).alias(
            "in_digest"
        ),
        F.md5(F.encode(F.array_join("targets", "|"), "utf-8")).alias(
            "tgt_digest"
        ),
    ).orderBy("doc_id")


def _span_corruption_oracle() -> str:
    h = _hb_sql("(((doc_id % 1000000007) * 1000003 + k) % 1000000007)", 1000000007, 11)
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 17 + 4 AS L,
         list_transform(range(0, doc_id % 17 + 4),
                        j -> 'w' || CAST((doc_id + j) % 11 AS VARCHAR))
           AS toks,
         (3 * (doc_id % 17 + 4) + 10) // 20 AS n_noise
  FROM documents
), p2 AS (
  SELECT *, greatest(n_noise // 3, 1) AS n_spans FROM p
), frag AS (
  SELECT p.doc_id, ks.kk AS k,
         CAST((ks.kk * p.L) // p.n_spans AS INT) AS ws,
         CAST(((ks.kk + 1) * p.L) // p.n_spans AS INT) AS we,
         least(
           CAST(p.n_noise // p.n_spans AS INT)
           + CASE WHEN ks.kk < p.n_noise % p.n_spans THEN 1 ELSE 0 END,
           CAST(((ks.kk + 1) * p.L) // p.n_spans
                - (ks.kk * p.L) // p.n_spans AS INT)
         ) AS ln,
         p.toks, p.L, p.n_spans
  FROM p2 p, (SELECT unnest(range(0, 100)) AS kk) ks
  WHERE ks.kk < p.n_spans
), placed AS (
  SELECT doc_id, k, toks, n_spans, ws, we, ln,
         ws + CAST({h} %
              greatest(we - ws - ln + 1, 1) AS INT) AS a
  FROM frag
), parts AS (
  SELECT doc_id, k, n_spans,
         array_to_string(
           list_concat(
             list_concat(toks[ws + 1:a],
                         ['<extra_id_' || CAST(k AS VARCHAR) || '>']),
             toks[a + ln + 1:we]
           ), '|') AS inp,
         array_to_string(
           list_concat(['<extra_id_' || CAST(k AS VARCHAR) || '>'],
                       toks[a + 1:a + ln]), '|') AS tgt
  FROM placed
), agg AS (
  SELECT doc_id,
         string_agg(inp, '|' ORDER BY k) AS inputs,
         string_agg(tgt, '|' ORDER BY k)
           || '|<extra_id_' || CAST(ANY_VALUE(n_spans) AS VARCHAR) || '>'
           AS targets
  FROM parts GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.L AS BIGINT) AS n_tokens,
       CAST(p.n_noise AS BIGINT) AS n_noise,
       CAST(p.n_spans AS BIGINT) AS n_spans,
       md5(a.inputs) AS in_digest,
       md5(a.targets) AS tgt_digest
FROM p2 p JOIN agg a USING (doc_id)
ORDER BY p.doc_id
"""


SPARK_IMPLS["denoise_span_corruption"] = q_denoise_span_corruption
ORACLES["denoise_span_corruption"] = _span_corruption_oracle()


def q_denoise_fim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (operators/denoise.py::
    fim_transform, PSM framing, rate 1/2) over the same planted token
    arrays as span corruption. The oracle replays the gate, the two
    Knuth-hash cut points, the ordered (a, b) pair, and the
    sentinel framing in SQL and emits identical digests."""
    from hdk_spark.operators.denoise import fim_transform

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    toks = F.transform(
        F.sequence(F.lit(0), (d % 17 + 3).cast("int")),
        lambda j: F.concat(F.lit("w"), ((d + j) % 11).cast("string")),
    )
    planted = spark.table("documents").select("doc_id", toks.alias("tokens"))
    out = fim_transform(planted)
    return out.select(
        "doc_id", "n_tokens", "fim_applied", "cut_a", "cut_b",
        F.md5(F.encode(F.array_join("out", "|"), "utf-8")).alias(
            "out_digest"
        ),
    ).orderBy("doc_id")


def _fim_oracle() -> str:
    gate = _hb_sql("doc_id", 2, 13)
    h1 = _hb_sql("(((doc_id % 1000000007) * 1000003 + 1) % 1000000007)", 1000000007, 13)
    h2 = _hb_sql("(((doc_id % 1000000007) * 1000003 + 2) % 1000000007)", 1000000007, 13)
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 17 + 4 AS L,
         list_transform(range(0, doc_id % 17 + 4),
                        j -> 'w' || CAST((doc_id + j) % 11 AS VARCHAR))
           AS toks,
         CASE WHEN {gate} < 1 THEN 1 ELSE 0 END AS applied,
         CAST({h1} % (doc_id % 17 + 5) AS INT) AS p1,
         CAST({h2} % (doc_id % 17 + 5) AS INT) AS p2
  FROM documents
), cuts AS (
  SELECT doc_id, L, toks, applied,
         least(p1, p2) AS a, greatest(p1, p2) AS b
  FROM p
)
SELECT doc_id, CAST(L AS BIGINT) AS n_tokens, applied AS fim_applied,
       CAST(CASE WHEN applied = 1 THEN a ELSE -1 END AS INT) AS cut_a,
       CAST(CASE WHEN applied = 1 THEN b ELSE -1 END AS INT) AS cut_b,
       md5(CASE WHEN applied = 1 THEN
             array_to_string(
               list_concat(
                 list_concat(
                   list_concat(
                     list_concat(
                       list_concat(['<fim_prefix>'], toks[1:a]),
                       ['<fim_suffix>']),
                     toks[b + 1:L]),
                   ['<fim_middle>']),
                 toks[a + 1:b]), '|')
           ELSE array_to_string(toks, '|') END) AS out_digest
FROM cuts ORDER BY doc_id
"""


SPARK_IMPLS["denoise_fim_psm"] = q_denoise_fim
ORACLES["denoise_fim_psm"] = _fim_oracle()


def q_denoise_mlm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM masking (operators/denoise.py::mlm_mask,
    select_pct=30) over the planted token arrays. The oracle replays
    the per-position selection hash, the 80/10/10 corruption draw, and
    the deterministic replacement pick, and rebuilds both the masked
    stream and the label stream (NULL labels rendered '~')."""
    from hdk_spark.operators.denoise import mlm_mask

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    toks = F.transform(
        F.sequence(F.lit(0), (d % 17 + 3).cast("int")),
        lambda j: F.concat(F.lit("w"), ((d + j) % 11).cast("string")),
    )
    planted = spark.table("documents").select("doc_id", toks.alias("tokens"))
    out = mlm_mask(planted, select_pct=30)
    return out.select(
        "doc_id", "n_tokens", "n_selected",
        F.md5(F.encode(F.array_join("masked", "|"), "utf-8")).alias(
            "masked_digest"
        ),
        F.md5(F.encode(F.array_join("labels", "|", "~"), "utf-8")).alias(
            "label_digest"
        ),
    ).orderBy("doc_id")


def _mlm_oracle() -> str:
    sel = _hb_sql("(((doc_id % 1000000007) * 1000003 + j) % 1000000007)", 100, 17)
    r = _hb_sql("(((doc_id % 1000000007) * 2000003 + j) % 1000000007)", 10, 18)
    repl = _hb_sql("(((doc_id % 1000000007) * 3000017 + j) % 1000000007)", 4, 19)
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 17 + 4 AS L,
         list_transform(range(0, doc_id % 17 + 4),
                        j -> 'w' || CAST((doc_id + j) % 11 AS VARCHAR))
           AS toks
  FROM documents
)
SELECT doc_id, CAST(L AS BIGINT) AS n_tokens,
       CAST(len(list_filter(range(0, L), j -> {sel} < 30)) AS BIGINT)
         AS n_selected,
       md5(array_to_string(
         list_transform(range(0, L), j ->
           CASE WHEN {sel} < 30 THEN
             CASE WHEN {r} < 8 THEN '[MASK]'
                  WHEN {r} = 8 THEN 'r' || CAST({repl} AS VARCHAR)
                  ELSE toks[j + 1] END
           ELSE toks[j + 1] END), '|')) AS masked_digest,
       md5(array_to_string(
         list_transform(range(0, L), j ->
           CASE WHEN {sel} < 30 THEN toks[j + 1] ELSE '~' END),
         '|')) AS label_digest
FROM p ORDER BY doc_id
"""


SPARK_IMPLS["denoise_mlm_mask"] = q_denoise_mlm
ORACLES["denoise_mlm_mask"] = _mlm_oracle()


_WP_VOCAB = ["un", "run", "##n", "##ing", "##ed", "jump", "walk",
             "##s", "over", "##able", "a", "##b"]
_WP_LEX = ["running", "jumps", "walked", "unable", "walking",
           "zebra", "run", "ab", "overrun"]
# Hand-derived greedy longest-match segmentations under _WP_VOCAB —
# the oracle carries these as literals, so NO matching loop exists
# anywhere on the oracle side. 'zebra' has an uncoverable first char;
# 'overrun' matches 'over' then fails ('##run' absent) — both collapse
# to [UNK] whole-word, the BERT contract.
_WP_SEG = {
    "running": "run|##n|##ing",
    "jumps": "jump|##s",
    "walked": "walk|##ed",
    "unable": "un|##able",
    "walking": "walk|##ing",
    "zebra": "[UNK]",
    "run": "run",
    "ab": "a|##b",
    "overrun": "[UNK]",
}


def q_tok_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match tokenization
    (operators/bpe.py::wordpiece_encode) of a planted closed-lexicon
    corpus (word k of doc d = lexicon[(d+k) % 9], d%4+2 words per
    doc) under the literal vocab above — the oracle carries each
    word's HAND-DERIVED segmentation as a VALUES table and reassembles
    documents in word order, so the longest-match loop, the
    whole-word-[UNK] collapse, and the Arrow plumbing are all
    value-checked with no matching logic in the oracle."""
    from hdk_spark.operators.bpe import wordpiece_encode

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    lex = F.array(*[F.lit(w) for w in _WP_LEX])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), d % 4 + 1),
            lambda k: F.element_at(lex, ((d + k) % 9 + 1).cast("int")),
        ),
        " ",
    )
    planted = spark.table("documents").select("doc_id", text.alias("text"))
    enc = wordpiece_encode(planted, _WP_VOCAB)
    return enc.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens"),
        F.array_join("tokens", "|").alias("toks"),
    ).orderBy("doc_id")


def _wordpiece_encode_oracle() -> str:
    lex_rows = ", ".join(f"({i}, '{w}')" for i, w in enumerate(_WP_LEX))
    seg_rows = ", ".join(
        f"('{w}', '{p}')" for w, p in sorted(_WP_SEG.items())
    )
    return f"""
WITH lex(i, w) AS (VALUES {lex_rows}),
seg(w, pieces) AS (VALUES {seg_rows}),
words AS (
  SELECT d.doc_id, k, l.w
  FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS k
        FROM documents) d
  JOIN lex l ON l.i = (d.doc_id + k) % 9
), joined AS (
  SELECT w1.doc_id,
         string_agg(s.pieces, '|' ORDER BY w1.k) AS toks
  FROM words w1 JOIN seg s ON s.w = w1.w
  GROUP BY w1.doc_id
)
SELECT doc_id,
       CAST(len(string_split(toks, '|')) AS BIGINT) AS n_tokens,
       toks
FROM joined ORDER BY doc_id
"""


SPARK_IMPLS["tok_wordpiece_encode"] = q_tok_wordpiece_encode
ORACLES["tok_wordpiece_encode"] = _wordpiece_encode_oracle()


def q_stats_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (operators/sketches.py::frequent_items,
    k=10) over a planted skewed item column ('hot0'/'hot1' ~2/3 of
    rows, a mid tier, a unique tail). The Misra-Gries candidate pass
    is guaranteed a superset of {cnt·k > n}, and the recount pass is
    exact — so the oracle is nothing but GROUP BY + HAVING with the
    same integer threshold."""
    from hdk_spark.operators.sketches import frequent_items

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    item = (
        F.when(d % 3 != 2, F.concat(F.lit("hot"), (d % 2).cast("string")))
        .when(d % 9 == 2, F.concat(F.lit("mid"), (d % 27).cast("string")))
        .otherwise(F.concat(F.lit("tail"), d.cast("string")))
    )
    planted = spark.table("documents").select(item.alias("v"))
    return frequent_items(planted, "v", k=10)


_HEAVY_HITTERS_ORACLE = """
WITH src AS (
  SELECT CASE WHEN doc_id % 3 <> 2 THEN 'hot' || CAST(doc_id % 2 AS VARCHAR)
              WHEN doc_id % 9 = 2 THEN 'mid' || CAST(doc_id % 27 AS VARCHAR)
              ELSE 'tail' || CAST(doc_id AS VARCHAR) END AS item
  FROM documents
), tot AS (SELECT COUNT(*) AS n FROM src)
SELECT s.item, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(t.n AS BIGINT) AS n_total
FROM src s, tot t
GROUP BY s.item, t.n
HAVING COUNT(*) * 10 > t.n
ORDER BY cnt DESC, item
"""

SPARK_IMPLS["stats_heavy_hitters"] = q_stats_heavy_hitters
ORACLES["stats_heavy_hitters"] = _HEAVY_HITTERS_ORACLE


def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test
    (operators/stats.py::chi2_contingency) between two planted
    categorical columns (a = doc_id % 3, b = (doc_id % 7) % 4 —
    dependent through the shared id). The oracle replays the exact
    cell/marginal relations and the micro-quantized per-cell terms
    ((O·n − r·c)²/(n·r·c), round(·1e9) into a 128-bit sum), so the
    statistic, dof, and Cramér's V are all value-checked."""
    from hdk_spark.operators.stats import chi2_contingency

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    planted = spark.table("documents").select(
        F.concat(F.lit("a"), (d % 3).cast("string")).alias("a"),
        F.concat(F.lit("b"), ((d % 7) % 4).cast("string")).alias("b"),
    )
    return chi2_contingency(planted, "a", "b")


_CHI2_ORACLE = """
WITH src AS (
  SELECT 'a' || CAST(doc_id % 3 AS VARCHAR) AS a,
         'b' || CAST((doc_id % 7) % 4 AS VARCHAR) AS b
  FROM documents
), cells AS (
  SELECT a, b, COUNT(*) AS o FROM src GROUP BY a, b
), rm AS (
  SELECT a, SUM(o) AS r FROM cells GROUP BY a
), cm AS (
  SELECT b, SUM(o) AS k FROM cells GROUP BY b
), tot AS (
  SELECT SUM(o) AS n, COUNT(DISTINCT a) AS ac, COUNT(DISTINCT b) AS bc
  FROM cells
), grid AS (
  SELECT rm.a, cm.b, rm.r, cm.k, COALESCE(c.o, 0) AS o
  FROM rm CROSS JOIN cm LEFT JOIN cells c ON c.a = rm.a AND c.b = cm.b
), terms AS (
  SELECT CAST(round(
           (CAST(o AS DOUBLE) * t.n - CAST(r AS DOUBLE) * k)
           * (CAST(o AS DOUBLE) * t.n - CAST(r AS DOUBLE) * k)
           / (CAST(t.n AS DOUBLE) * r * k) * 1e9
         ) AS HUGEINT) AS micro,
         t.n, t.ac, t.bc
  FROM grid, tot t
)
SELECT CAST(n AS BIGINT) AS n_items,
       CAST(ac AS BIGINT) AS a_classes,
       CAST(bc AS BIGINT) AS b_classes,
       CAST((ac - 1) * (bc - 1) AS BIGINT) AS dof,
       round(CAST(SUM(micro) AS DOUBLE) / 1e9, 6) + 0 AS chi2,
       round(sqrt(CAST(SUM(micro) AS DOUBLE) / 1e9
                  / (n * least(ac - 1, bc - 1))), 6) + 0 AS cramers_v
FROM terms GROUP BY n, ac, bc
"""

SPARK_IMPLS["stats_chi2_independence"] = q_stats_chi2
ORACLES["stats_chi2_independence"] = _CHI2_ORACLE


def q_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension-history compression
    (operators/temporal.py::scd2_history) of the orders change-log:
    key = o_custkey % 20, event time = o_orderdate, tracked attributes
    (o_orderstatus, o_orderpriority). The oracle replays the NULL-safe
    lag change-detection, the run compression, and the lead valid_to
    chain with identical window specs."""
    from hdk_spark.operators.temporal import scd2_history

    _tables(spark, sf_dir)
    log = spark.table("orders").select(
        (F.col("o_custkey") % 20).alias("cust_bucket"),
        F.col("o_orderdate").alias("event_date"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    )
    out = scd2_history(log, "cust_bucket", "event_date",
                       ["status", "priority"])
    return out.orderBy("key", "valid_from", "status", "priority")


_SCD2_ORACLE = """
WITH base AS (
  SELECT o_custkey % 20 AS key, o_orderdate AS valid_from,
         o_orderstatus AS status, o_orderpriority AS priority
  FROM orders
), marked AS (
  SELECT key, valid_from, status, priority,
         row_number() OVER w AS rn,
         lag(status) OVER w AS ps, lag(priority) OVER w AS pp
  FROM base
  WINDOW w AS (PARTITION BY key ORDER BY valid_from, status, priority)
), chg AS (
  SELECT key, valid_from, status, priority FROM marked
  WHERE rn = 1 OR status IS DISTINCT FROM ps
     OR priority IS DISTINCT FROM pp
)
SELECT key, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       status, priority
FROM chg
WINDOW w2 AS (PARTITION BY key ORDER BY valid_from, status, priority)
ORDER BY key, valid_from, status, priority
"""

SPARK_IMPLS["temporal_scd2_history"] = q_temporal_scd2
ORACLES["temporal_scd2_history"] = _SCD2_ORACLE


def q_stats_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorer reliability diagram
    (operators/stats.py::calibration_curve, 10 bins) over a planted
    score/label pair correlated through the id (score = (id·37 mod
    1000)/1000, label = [ (id·17 mod 1000) < score·1000 ]). The oracle
    replays the clamped binning, the DECIMAL(28,9)-quantized score
    sums, and both per-bin divides."""
    from hdk_spark.operators.stats import calibration_curve

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    planted = spark.table("documents").select(
        (((d * 37) % 1000) / F.lit(1000.0)).alias("score"),
        ((d * 17) % 1000 < (d * 37) % 1000).cast("int").alias("label"),
    )
    return calibration_curve(planted, "score", "label")


_CALIBRATION_ORACLE = """
WITH src AS (
  SELECT CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score,
         CASE WHEN (doc_id * 17) % 1000 < (doc_id * 37) % 1000
              THEN 1 ELSE 0 END AS label
  FROM documents
), binned AS (
  SELECT greatest(0, least(CAST(floor(score * 10) AS INT), 9)) AS bin,
         score, label
  FROM src
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(SUM(CAST(score AS DECIMAL(28,9))) AS DOUBLE)
             / COUNT(*), 6) + 0 AS mean_score,
       round(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) + 0 AS pos_rate,
       round(abs(CAST(SUM(CAST(score AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*)
                 - CAST(SUM(label) AS DOUBLE) / COUNT(*)), 6) + 0
         AS abs_gap
FROM binned GROUP BY bin ORDER BY bin
"""

SPARK_IMPLS["stats_calibration_curve"] = q_stats_calibration
ORACLES["stats_calibration_curve"] = _CALIBRATION_ORACLE


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation
    (operators/graph.py::label_propagation, 3 rounds) over a planted
    two-community graph: ring+chord edges inside 0-14 and 15-29, one
    bridge (0, 15). The oracle unrolls all three rounds in SQL —
    neighbor-mass counts, max-count/min-label pick — with the same
    deterministic tie-break."""
    from hdk_spark.operators.graph import label_propagation

    _tables(spark, sf_dir)
    base = spark.table("documents").select(
        (F.col("doc_id") % 15).cast("long").alias("i")
    ).distinct()
    i = F.col("i")
    parts = [
        base.select(i.alias("src"), ((i + 1) % 15).alias("dst")),
        base.select(i.alias("src"), ((i + 2) % 15).alias("dst")),
        base.select((i + 15).alias("src"), ((i + 1) % 15 + 15).alias("dst")),
        base.select((i + 15).alias("src"), ((i + 2) % 15 + 15).alias("dst")),
        base.filter(i == 0).select(
            F.lit(0).cast("long").alias("src"),
            F.lit(15).cast("long").alias("dst"),
        ),
    ]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.union(p)
    out = label_propagation(edges.distinct(), rounds=3)
    return out.orderBy("node")


def _lpa_oracle() -> str:
    rnd = """
l{k} AS (
  SELECT node, label FROM (
    SELECT u.a AS node, l.label, SUM(u.w) AS c,
           row_number() OVER (PARTITION BY u.a
                              ORDER BY SUM(u.w) DESC, l.label) AS rn
    FROM und u JOIN l{p} l ON l.node = u.b
    GROUP BY u.a, l.label
  ) WHERE rn = 1
)"""
    return (
        """
WITH base AS (SELECT DISTINCT doc_id % 15 AS i FROM documents),
e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT i AS src, (i + 1) % 15 AS dst FROM base
    UNION ALL SELECT i, (i + 2) % 15 FROM base
    UNION ALL SELECT i + 15, (i + 1) % 15 + 15 FROM base
    UNION ALL SELECT i + 15, (i + 2) % 15 + 15 FROM base
    UNION ALL SELECT 0, 15 FROM base WHERE i = 0
  )
),
und AS (
  SELECT a, b, COUNT(*) AS w FROM (
    SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
    UNION ALL SELECT dst, src FROM e0 WHERE src <> dst
  ) GROUP BY a, b
),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),"""
        + rnd.format(k=1, p=0) + ","
        + rnd.format(k=2, p=1) + ","
        + rnd.format(k=3, p=2)
        + """
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
FROM l3 ORDER BY node
"""
    )


SPARK_IMPLS["graph_label_propagation"] = q_graph_label_propagation
ORACLES["graph_label_propagation"] = _lpa_oracle()


def q_similarity_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining
    (operators/similarity.py::mine_contrastive_pairs, positives ≥
    0.35, hard-negative band [0.2, 0.35), the LSH candidate machinery
    of dedup_embedding_cosine). The oracle reuses the exact LSH pair
    SQL at threshold 0.2, then replays the symmetrize → classify-on-
    rounded-cosine → per-(anchor, class) QUALIFY pick → join."""
    from hdk_spark.operators.similarity import mine_contrastive_pairs

    _tables(spark, sf_dir)
    out = mine_contrastive_pairs(
        spark.table("embeddings"),
        pos_threshold=0.35, neg_lo=0.2, neg_hi=0.35,
    )
    return _ordered(out, "anchor")


def _contrastive_oracle() -> str:
    inner = _emb_lsh_oracle(threshold=0.2)
    return f"""
WITH pairs AS (
  SELECT * FROM ({inner})
), sym AS (
  SELECT id_a AS anchor, id_b AS other, cosine FROM pairs
  UNION ALL
  SELECT id_b, id_a, cosine FROM pairs
), classified AS (
  SELECT anchor, other, cosine,
         CASE WHEN cosine >= 0.35 THEN 'P'
              WHEN cosine < 0.35 THEN 'N' END AS cls
  FROM sym
), top AS (
  SELECT anchor, other, cosine, cls
  FROM classified
  QUALIFY row_number() OVER (PARTITION BY anchor, cls
                             ORDER BY cosine DESC, other) = 1
), folded AS (
  SELECT anchor,
         MAX(CASE WHEN cls = 'P' THEN other END) AS positive,
         MAX(CASE WHEN cls = 'P' THEN cosine END) AS pos_cos,
         MAX(CASE WHEN cls = 'N' THEN other END) AS negative,
         MAX(CASE WHEN cls = 'N' THEN cosine END) AS neg_cos
  FROM top GROUP BY anchor
)
SELECT anchor, positive, pos_cos, negative, neg_cos
FROM folded
WHERE positive IS NOT NULL AND negative IS NOT NULL
ORDER BY anchor
"""


SPARK_IMPLS["similarity_contrastive_mine"] = q_similarity_contrastive
ORACLES["similarity_contrastive_mine"] = _contrastive_oracle()


def q_text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-boundary blocklist gate
    (operators/text.py::blocklist_gate, C4 drop-on-any-hit policy)
    over planted text 'Alpha (W{d%11}).,  end' — the middle token is
    wrapped in punctuation and upper-cased so the gate's
    normalization (case fold + edge strip) is what decides the match.
    The oracle derives every output closed-form from the planting
    arithmetic: no tokenizer anywhere on the oracle side."""
    from hdk_spark.operators.text import blocklist_gate

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    text = F.concat(
        F.lit("Alpha (W"), (d % 11).cast("string"), F.lit(").,  end")
    )
    planted = spark.table("documents").select("doc_id", text.alias("text"))
    out = blocklist_gate(planted, ["w3", "W7"])
    return out.select(
        "doc_id", "n_tokens", "n_hits",
        F.array_join("hit_terms", "|").alias("hits"),
        "blocked",
    ).orderBy("doc_id")


_BLOCKLIST_ORACLE = """
SELECT doc_id, CAST(3 AS BIGINT) AS n_tokens,
       CAST(CASE WHEN doc_id % 11 IN (3, 7) THEN 1 ELSE 0 END AS BIGINT)
         AS n_hits,
       CASE WHEN doc_id % 11 IN (3, 7)
            THEN 'w' || CAST(doc_id % 11 AS VARCHAR) ELSE '' END AS hits,
       doc_id % 11 IN (3, 7) AS blocked
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["text_blocklist_gate"] = q_text_blocklist
ORACLES["text_blocklist_gate"] = _BLOCKLIST_ORACLE


def q_text_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level BLEU-2 (operators/text.py::ngram_overlap_score)
    over planted (reference, hypothesis) pairs: ref = w{(d+j)%7} for
    j < d%6+3, hyp = w{(d+j+d%3)%7} for j < d%5+3 — the shared-vocab
    shift gives the full overlap spectrum. The oracle rebuilds both
    token lists, the clipped n-gram counts, the brevity penalty, and
    the √ geometric mean with DuckDB list HOFs."""
    from hdk_spark.operators.text import ngram_overlap_score

    _tables(spark, sf_dir)
    d = F.col("doc_id")

    def words(shift, upper):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), upper),
                lambda j: F.concat(
                    F.lit("w"), ((d + j + shift) % 7).cast("string")
                ),
            ),
            " ",
        )

    planted = spark.table("documents").select(
        "doc_id",
        words(F.lit(0), (d % 6 + 2).cast("int")).alias("ref"),
        words(d % 3, (d % 5 + 2).cast("int")).alias("hyp"),
    )
    return ngram_overlap_score(planted, "ref", "hyp").orderBy("doc_id")


_BLEU_ORACLE = """
WITH p AS (
  SELECT doc_id,
         list_transform(range(0, doc_id % 6 + 3),
           j -> 'w' || CAST((doc_id + j) % 7 AS VARCHAR)) AS tr,
         list_transform(range(0, doc_id % 5 + 3),
           j -> 'w' || CAST((doc_id + j + doc_id % 3) % 7 AS VARCHAR)) AS th
  FROM documents
), g AS (
  SELECT doc_id, tr, th,
         list_transform(range(0, len(th) - 1),
           j -> th[j + 1] || ' ' || th[j + 2]) AS gh2,
         list_transform(range(0, len(tr) - 1),
           j -> tr[j + 1] || ' ' || tr[j + 2]) AS gr2
  FROM p
), prec AS (
  SELECT doc_id, len(tr) AS ref_len, len(th) AS hyp_len,
         CAST(list_sum(list_transform(list_distinct(th), t ->
              least(len(list_filter(th, x -> x = t)),
                    len(list_filter(tr, x -> x = t))))) AS DOUBLE)
           / len(th) AS p1,
         CAST(list_sum(list_transform(list_distinct(gh2), t ->
              least(len(list_filter(gh2, x -> x = t)),
                    len(list_filter(gr2, x -> x = t))))) AS DOUBLE)
           / len(gh2) AS p2
  FROM g
)
SELECT doc_id, CAST(ref_len AS BIGINT) AS ref_len,
       CAST(hyp_len AS BIGINT) AS hyp_len,
       round(p1, 6) + 0 AS p1, round(p2, 6) + 0 AS p2,
       round(CASE WHEN hyp_len >= ref_len THEN 1.0
                  ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / hyp_len) END
             * sqrt(p1 * p2), 6) + 0 AS bleu2
FROM prec ORDER BY doc_id
"""

SPARK_IMPLS["text_bleu_overlap"] = q_text_bleu
ORACLES["text_bleu_overlap"] = _BLEU_ORACLE


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-histogram junk signals
    (operators/text.py::char_entropy) over planted ASCII text (the
    w{(d+j)%11} token stream joined by spaces — chars are 'w', digits,
    space, so the histogram is arithmetic). The oracle rebuilds the
    character list, folds -p·log2 p over the SORTED distinct set (the
    operator's canonical order), and emits the same rounded values."""
    from hdk_spark.operators.text import char_entropy

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (d % 17 + 3).cast("int")),
            lambda j: F.concat(F.lit("w"), ((d + j) % 11).cast("string")),
        ),
        " ",
    )
    planted = spark.table("documents").select("doc_id", text.alias("text"))
    return char_entropy(planted).orderBy("doc_id")


_CHAR_ENTROPY_ORACLE = """
WITH p AS (
  SELECT doc_id,
         string_split(array_to_string(
           list_transform(range(0, doc_id % 17 + 4),
             j -> 'w' || CAST((doc_id + j) % 11 AS VARCHAR)), ' '), '')
           AS cs
  FROM documents
), m AS (
  SELECT doc_id, cs, len(cs) AS n,
         list_sort(list_distinct(cs)) AS dc
  FROM p
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       CAST(len(dc) AS BIGINT) AS n_distinct,
       round(list_aggregate(list_transform(dc, ch ->
           -(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / n)
           * log2(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / n)),
         'sum'), 6) + 0 AS entropy_bits,
       round(CAST(list_max(list_transform(dc, ch ->
           len(list_filter(cs, x -> x = ch)))) AS DOUBLE) / n, 6) + 0
         AS max_char_ratio
FROM m ORDER BY doc_id
"""

SPARK_IMPLS["text_char_entropy"] = q_text_char_entropy
ORACLES["text_char_entropy"] = _CHAR_ENTROPY_ORACLE


def q_stats_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance (operators/stats.py::ks_test)
    between two planted integer score distributions (group a:
    (d·37)%100, group b: (d·41)%110 — different supports and shapes;
    a third group 'c' must be ignored). The oracle replays the
    support groupBy, the cumulative window, and the integer
    cross-multiplied max."""
    from hdk_spark.operators.stats import ks_test

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    planted = spark.table("documents").select(
        F.when(d % 3 == 0, F.lit("a"))
        .when(d % 3 == 1, F.lit("b"))
        .otherwise(F.lit("c")).alias("g"),
        F.when(d % 3 == 0, (d * 37) % 100)
        .otherwise((d * 41) % 110).cast("long").alias("v"),
    )
    return ks_test(planted, "g", "v", "a", "b")


_KS_ORACLE = """
WITH src AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'a'
              WHEN doc_id % 3 = 1 THEN 'b' ELSE 'c' END AS g,
         CASE WHEN doc_id % 3 = 0 THEN (doc_id * 37) % 100
              ELSE (doc_id * 41) % 110 END AS v
  FROM documents
), f AS (SELECT * FROM src WHERE g IN ('a', 'b')),
per AS (
  SELECT v, SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS cb
  FROM f GROUP BY v
), cum AS (
  SELECT SUM(ca) OVER (ORDER BY v) AS fa,
         SUM(cb) OVER (ORDER BY v) AS fb
  FROM per
), tot AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per
)
SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
       CAST(MAX(abs(c.fa * t.nb - c.fb * t.na)) AS BIGINT) AS d_num,
       round(CAST(MAX(abs(c.fa * t.nb - c.fb * t.na)) AS DOUBLE)
             / (t.na * t.nb), 6) + 0 AS d
FROM cum c, tot t GROUP BY t.na, t.nb
"""

SPARK_IMPLS["stats_ks_test"] = q_stats_ks
ORACLES["stats_ks_test"] = _KS_ORACLE


def q_stats_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney ROC-AUC (operators/stats.py::auc_score)
    over the same correlated score/label planting as the calibration
    row — scores hit a 1000-point grid so midrank tie handling is
    exercised for real. The oracle replays the support groupBy, the
    tie-group prefix window, and the integer rank2 numerator."""
    from hdk_spark.operators.stats import auc_score

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    planted = spark.table("documents").select(
        (((d * 37) % 1000) / F.lit(1000.0)).alias("score"),
        ((d * 17) % 1000 < (d * 37) % 1000).cast("int").alias("label"),
    )
    out = auc_score(planted, "score", "label")
    # bigint surface for the driver hash (the operator's internal sum
    # stays DECIMAL(38,0); sf-scale numerators are far inside int64)
    return out.withColumn("auc_num", F.col("auc_num").cast("long"))


_AUC_ORACLE = """
WITH src AS (
  SELECT CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS s,
         CASE WHEN (doc_id * 17) % 1000 < (doc_id * 37) % 1000
              THEN 1 ELSE 0 END AS y
  FROM documents
), per AS (
  SELECT s, SUM(y) AS p, COUNT(*) AS t FROM src GROUP BY s
), ranked AS (
  SELECT p, t,
         COALESCE(SUM(t) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS before
  FROM per
), agg AS (
  SELECT SUM(p) AS np, SUM(t) - SUM(p) AS nn,
         SUM(CAST(p * (2 * before + t + 1) AS DECIMAL(38,0))) AS r2
  FROM ranked
)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       CAST(r2 - CAST(np AS DECIMAL(38,0)) * (np + 1) AS BIGINT)
         AS auc_num,
       round(CAST(r2 - CAST(np AS DECIMAL(38,0)) * (np + 1) AS DOUBLE)
             / (2.0 * np * nn), 6) + 0 AS auc
FROM agg
"""

SPARK_IMPLS["stats_auc_exact"] = q_stats_auc
ORACLES["stats_auc_exact"] = _AUC_ORACLE


def q_stats_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (operators/stats.py::pass_at_k, Chen 2021
    eq. 1) over planted per-problem sample counts (n = d%20+1,
    c = (d·7) mod (n+1) — every (n, c) shape incl. c=0 and c=n). The
    oracle replays the k-term telescoping product with the same
    branch rules (c=0 → 0, n−c<k → 1)."""
    from hdk_spark.operators.stats import pass_at_k

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    n = (d % 20 + 1).cast("int")
    planted = spark.table("documents").select(
        F.concat(F.lit("p"), d.cast("string")).alias("problem_id"),
        n.alias("n"),
        ((d * 7) % (n + 1)).cast("int").alias("c"),
    )
    return pass_at_k(planted, "n", "c", ks=(1, 5, 10)).orderBy("problem_id")


def _pass_at_k_oracle() -> str:
    def pk(k: int) -> str:
        return f"""
       round(CASE WHEN c = 0 THEN 0.0
                  WHEN n - c < {k} THEN 1.0
                  ELSE 1.0 - list_aggregate(
                    list_transform(range(0, {k}),
                      i -> CAST(n - c - i AS DOUBLE) / (n - i)),
                    'product') END, 6) + 0 AS pass_at_{k}"""

    return f"""
WITH p AS (
  SELECT 'p' || CAST(doc_id AS VARCHAR) AS problem_id,
         doc_id % 20 + 1 AS n,
         (doc_id * 7) % (doc_id % 20 + 2) AS c
  FROM documents
)
SELECT problem_id, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
       {pk(1)}, {pk(5)}, {pk(10)}
FROM p ORDER BY problem_id
"""


SPARK_IMPLS["stats_pass_at_k"] = q_stats_pass_at_k
ORACLES["stats_pass_at_k"] = _pass_at_k_oracle()


def q_search_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREC-style retrieval metrics
    (operators/search.py::retrieval_metrics, k=5) over a planted run
    (the distinct (q = d%5, doc = d%40) grid scored by
    (7q + 13·doc) % 31) and planted graded qrels (judged where
    (q + doc) % 7 = 0, rel = doc%3 + 1). The oracle replays the rank
    window, the micro-quantized DCG/IDCG sums, and every divide."""
    from hdk_spark.operators.search import retrieval_metrics

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    grid = (
        spark.table("documents")
        .select((d % 5).alias("qn"), (d % 40).alias("dn"))
        .distinct()
    )
    run = grid.select(
        F.concat(F.lit("q"), F.col("qn").cast("string")).alias("query_id"),
        F.concat(F.lit("d"), F.col("dn").cast("string")).alias("doc_id"),
        ((F.col("qn") * 7 + F.col("dn") * 13) % 31)
        .cast("double").alias("score"),
    )
    qrels = grid.filter((F.col("qn") + F.col("dn")) % 7 == 0).select(
        F.concat(F.lit("q"), F.col("qn").cast("string")).alias("query_id"),
        F.concat(F.lit("d"), F.col("dn").cast("string")).alias("doc_id"),
        (F.col("dn") % 3 + 1).cast("int").alias("rel"),
    )
    return retrieval_metrics(run, qrels, k=5).orderBy("query_id")


_RETRIEVAL_METRICS_ORACLE = """
WITH grid AS (
  SELECT DISTINCT doc_id % 5 AS qn, doc_id % 40 AS dn FROM documents
), run AS (
  SELECT 'q' || CAST(qn AS VARCHAR) AS q, 'd' || CAST(dn AS VARCHAR) AS d,
         CAST((qn * 7 + dn * 13) % 31 AS DOUBLE) AS score
  FROM grid
), jr AS (
  SELECT 'q' || CAST(qn AS VARCHAR) AS q, 'd' || CAST(dn AS VARCHAR) AS d,
         dn % 3 + 1 AS rel
  FROM grid WHERE (qn + dn) % 7 = 0
), topk AS (
  SELECT q, d, rnk FROM (
    SELECT q, d, row_number() OVER (PARTITION BY q
             ORDER BY score DESC, d) AS rnk
    FROM run
  ) WHERE rnk <= 5
), ideal AS (
  SELECT q, COUNT(*) AS n_rel,
         SUM(CASE WHEN irank <= 5 THEN
           CAST(round(CAST(rel AS DOUBLE) / log2(irank + 1) * 1e9)
                AS BIGINT) ELSE 0 END) AS idcg_u
  FROM (
    SELECT q, rel, row_number() OVER (PARTITION BY q
             ORDER BY rel DESC, d) AS irank
    FROM jr
  ) GROUP BY q
), judged AS (
  SELECT t.q, t.rnk, j.rel
  FROM topk t LEFT JOIN jr j ON j.q = t.q AND j.d = t.d
), per_q AS (
  SELECT q,
         SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END) AS hits,
         MIN(CASE WHEN rel IS NOT NULL THEN rnk END) AS first_rel,
         SUM(CASE WHEN rel IS NOT NULL THEN
           CAST(round(CAST(rel AS DOUBLE) / log2(rnk + 1) * 1e9)
                AS BIGINT) ELSE 0 END) AS dcg_u
  FROM judged GROUP BY q
)
SELECT p.q AS query_id,
       CAST(COALESCE(i.n_rel, 0) AS BIGINT) AS n_rel,
       CAST(p.hits AS BIGINT) AS hits_at_k,
       round(p.hits / 5.0, 6) + 0 AS p_at_k,
       round(CASE WHEN i.n_rel > 0
             THEN CAST(p.hits AS DOUBLE) / i.n_rel END, 6) + 0
         AS recall_at_k,
       round(COALESCE(1.0 / p.first_rel, 0.0), 6) + 0 AS rr,
       round(CASE WHEN i.idcg_u > 0
             THEN CAST(p.dcg_u AS DOUBLE) / i.idcg_u END, 6) + 0
         AS ndcg_at_k
FROM per_q p LEFT JOIN ideal i ON i.q = p.q
ORDER BY query_id
"""

SPARK_IMPLS["search_retrieval_metrics"] = q_search_retrieval_metrics
ORACLES["search_retrieval_metrics"] = _RETRIEVAL_METRICS_ORACLE


def q_sample_repeat_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch repeat expansion
    (operators/sampling.py::repeat_expand, Muennighoff 2023) over the
    documents table's lang groups: en 5/2 epochs, everything else 1/4.
    The oracle replays the per-id base+extra copy law and the range
    unnest, emitting (doc_id, copy_idx) plus per-row copy counts."""
    from hdk_spark.operators.sampling import repeat_expand

    _tables(spark, sf_dir)
    out = repeat_expand(
        spark.table("documents").select("doc_id", "lang"),
        "lang", {"en": (5, 2)}, default_epochs=(1, 4),
    )
    return out.select("doc_id", "lang", "copy_idx").orderBy(
        "doc_id", "copy_idx"
    )


def _repeat_expand_oracle() -> str:
    h = _hb_sql("doc_id", 1000000007, 23)
    return f"""
WITH p AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 5 ELSE 1 END AS nu,
         CASE WHEN lang = 'en' THEN 2 ELSE 4 END AS de
  FROM documents
), c AS (
  SELECT doc_id, lang,
         nu // de + CASE WHEN {h} % de < nu % de THEN 1 ELSE 0 END
           AS copies
  FROM p
)
SELECT doc_id, lang, CAST(t.i AS INT) AS copy_idx
FROM c, unnest(range(1, copies + 1)) AS t(i)
WHERE copies > 0
ORDER BY doc_id, copy_idx
"""


SPARK_IMPLS["sample_repeat_expand"] = q_sample_repeat_expand
ORACLES["sample_repeat_expand"] = _repeat_expand_oracle()


def q_stats_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit
    (operators/stats.py::k_anonymity_audit, k=5) of the customer
    table against the (c_nationkey, mktsegment-ish bucket) quasi set
    with acctbal sign as the sensitive attribute. Oracle replays the
    quasi groupBy and the below-k tallies."""
    from hdk_spark.operators.stats import k_anonymity_audit

    _tables(spark, sf_dir)
    cust = spark.table("customer").select(
        F.col("c_nationkey").alias("nat"),
        (F.col("c_custkey") % 7).alias("seg"),
        (F.col("c_acctbal") >= 0).cast("int").alias("bal_sign"),
    )
    return k_anonymity_audit(
        cust, ["nat", "seg"], k=5, sensitive_col="bal_sign"
    )


_K_ANON_ORACLE = """
WITH src AS (
  SELECT c_nationkey AS nat, c_custkey % 7 AS seg,
         CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS bal_sign
  FROM customer
), g AS (
  SELECT nat, seg, COUNT(*) AS n,
         COUNT(DISTINCT bal_sign) AS l
  FROM src GROUP BY nat, seg
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n) AS BIGINT) AS min_group_size,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_k,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       round(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
             / SUM(n), 6) + 0 AS pct_rows_at_risk,
       CAST(MIN(l) AS BIGINT) AS min_l
FROM g
"""

SPARK_IMPLS["stats_k_anonymity"] = q_stats_k_anonymity
ORACLES["stats_k_anonymity"] = _K_ANON_ORACLE


def q_dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit (operators/dedup.py::split_leakage_audit):
    the embedding near-dup pairs (cosine ≥ 0.4, the LSH machinery of
    dedup_embedding_cosine) joined against an 80/20 hash split of the
    vectors — pairs straddling train/val are exactly the contamination
    a fair eval must not have. The oracle reuses the LSH pair SQL and
    replays the split hash and the straddle filter."""
    from hdk_spark.operators.dedup import (
        embedding_neardup_pairs,
        split_leakage_audit,
    )
    from hdk_spark.operators.sampling import train_val_split

    _tables(spark, sf_dir)
    emb = spark.table("embeddings")
    pairs = embedding_neardup_pairs(emb, threshold=0.4)
    assign = train_val_split(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id",
        train_pct=80, seed=11,
    )
    out = split_leakage_audit(pairs, assign)
    return _attach_caches(out.select(
        "id_a", "id_b", "cosine", "split_a", "split_b"
    ).orderBy("id_a", "id_b"), _caches_of(pairs))


def _split_leakage_oracle() -> str:
    inner = _emb_lsh_oracle(threshold=0.4)
    hb_a = _hb_sql("p.id_a", 100, 11)
    hb_b = _hb_sql("p.id_b", 100, 11)
    return f"""
WITH pairs AS (
  SELECT * FROM ({inner})
), lab AS (
  SELECT p.id_a, p.id_b, p.cosine,
         CASE WHEN {hb_a} < 80 THEN 'train' ELSE 'val' END AS split_a,
         CASE WHEN {hb_b} < 80 THEN 'train' ELSE 'val' END AS split_b
  FROM pairs p
)
SELECT id_a, id_b, cosine, split_a, split_b
FROM lab WHERE split_a <> split_b
ORDER BY id_a, id_b
"""


SPARK_IMPLS["dedup_split_leakage"] = q_dedup_split_leakage
ORACLES["dedup_split_leakage"] = _split_leakage_oracle()


def q_profile_json_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ingest schema gate
    (operators/profile.py::json_schema_gate) over planted jsonl rows
    with arithmetic fault injection: d%5=0 → field a is a quoted
    string (must fail int without coercion), d%7=0 → field b missing,
    d%11=0 → malformed JSON, d%13=0 → explicit null b. The oracle
    replays the gate on DuckDB's json_valid/json_type (UBIGINT/BIGINT
    ↔ the variant BIGINT class, VARCHAR ↔ STRING)."""
    from hdk_spark.operators.profile import json_schema_gate

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    j = (
        F.when(d % 11 == 0, F.lit("not json"))
        .otherwise(
            F.concat(
                F.lit('{"a": '),
                F.when(d % 5 == 0,
                       F.concat(F.lit('"'), d.cast("string"), F.lit('"')))
                .otherwise(d.cast("string")),
                F.when(d % 7 == 0, F.lit("")).otherwise(
                    F.when(d % 13 == 0, F.lit(', "b": null')).otherwise(
                        F.concat(F.lit(', "b": "s'), (d % 3).cast("string"),
                                 F.lit('"'))
                    )
                ),
                F.lit("}"),
            )
        )
    )
    planted = spark.table("documents").select("doc_id", j.alias("j"))
    return json_schema_gate(
        planted, "j", {"a": "int", "b": "string"}
    ).orderBy("doc_id")


_JSON_GATE_ORACLE = """
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'not json'
              ELSE '{"a": '
                || CASE WHEN doc_id % 5 = 0
                        THEN '"' || CAST(doc_id AS VARCHAR) || '"'
                        ELSE CAST(doc_id AS VARCHAR) END
                || CASE WHEN doc_id % 7 = 0 THEN ''
                        WHEN doc_id % 13 = 0 THEN ', "b": null'
                        ELSE ', "b": "s' || CAST(doc_id % 3 AS VARCHAR)
                             || '"' END
                || '}' END AS j
  FROM documents
), t AS (
  SELECT doc_id, json_valid(j) AS is_json,
         CASE WHEN json_valid(j) THEN json_type(j, '$.a') END AS ta,
         CASE WHEN json_valid(j) THEN json_type(j, '$.b') END AS tb
  FROM p
), f AS (
  SELECT doc_id, is_json,
         COALESCE(ta IN ('UBIGINT', 'BIGINT'), FALSE) AS ok_a,
         COALESCE(tb = 'VARCHAR', FALSE) AS ok_b
  FROM t
)
SELECT doc_id, is_json, ok_a, ok_b,
       CAST((CASE WHEN ok_a THEN 0 ELSE 1 END)
            + (CASE WHEN ok_b THEN 0 ELSE 1 END) AS BIGINT) AS n_failed,
       is_json AND ok_a AND ok_b AS valid
FROM f ORDER BY doc_id
"""

SPARK_IMPLS["profile_json_schema_gate"] = q_profile_json_gate
ORACLES["profile_json_schema_gate"] = _JSON_GATE_ORACLE


def q_web_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text relation (operators/web.py::anchor_text_index)
    over planted pages: page d on site{d%17}.com anchors
    'Buy w{d%7} <b>now</b>' at site{(2d+1)%17}.com (double-quoted)
    and, when d%3=0, 'W{d%5}  deal' at site{(3d+2)%17}.com
    (single-quoted uppercase HREF); both targets self-loop exactly at
    d%17=16 and drop. The oracle derives every (domain, term, weight)
    row closed-form from the planting arithmetic — no regex, no HTML
    anywhere on the oracle side."""
    from hdk_spark.operators.web import anchor_text_index

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    a = F.concat(F.lit("site"), ((d * 2 + 1) % 17).cast("string"),
                 F.lit(".com"))
    b = F.concat(F.lit("site"), ((d * 3 + 2) % 17).cast("string"),
                 F.lit(".com"))
    html = F.concat(
        F.lit('<html><a href="http://'), a, F.lit('/x">Buy w'),
        (d % 7).cast("string"), F.lit(" <b>now</b></a>"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("<A HREF='https://"), b, F.lit("/y'>W"),
                     (d % 5).cast("string"), F.lit("  deal</A>")),
        ).otherwise(F.lit("")),
        F.lit("</html>"),
    )
    url = F.concat(F.lit("http://site"), (d % 17).cast("string"),
                   F.lit(".com/p"))
    pages = spark.table("documents").select(
        "doc_id", url.alias("url"), html.alias("html")
    )
    return anchor_text_index(pages).orderBy("dst_domain", "term")


_ANCHOR_TEXT_ORACLE = """
WITH dd AS (SELECT doc_id AS d FROM documents),
t1 AS (
  SELECT 'site' || CAST((2 * d + 1) % 17 AS VARCHAR) || '.com' AS dst,
         term
  FROM dd, unnest(['buy', 'w' || CAST(d % 7 AS VARCHAR), 'now'])
    AS u(term)
  WHERE d % 17 <> 16
), t2 AS (
  SELECT 'site' || CAST((3 * d + 2) % 17 AS VARCHAR) || '.com' AS dst,
         term
  FROM dd, unnest(['w' || CAST(d % 5 AS VARCHAR), 'deal']) AS u(term)
  WHERE d % 3 = 0 AND d % 17 <> 16
)
SELECT dst AS dst_domain, term, CAST(COUNT(*) AS BIGINT) AS weight
FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
GROUP BY dst, term ORDER BY dst_domain, term
"""

SPARK_IMPLS["web_anchor_text"] = q_web_anchor_text
ORACLES["web_anchor_text"] = _ANCHOR_TEXT_ORACLE


def q_chat_sft_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed SFT export funnel
    (operators/chat.py::sft_pack_export: chat template → loss masks →
    greedy budget packing → pack-order chunk reassembly) over the
    same planted conversations as chat_loss_mask (d%3+1 pairs,
    budget 40, 4 shards). The oracle rebuilds doc token/mask strings
    from the planting arithmetic, replays the packer's cum-window
    chunk law, and string_aggs chunks in the packer's (hash, id)
    order — mask/token alignment across the pack boundary is the
    value-checked surface."""
    from hdk_spark.operators.chat import sft_pack_export

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    pairs = (d % 3 + 1).cast("int")
    conv = F.to_json(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), pairs),
                lambda i: F.array(
                    F.struct(
                        F.lit("user").alias("role"),
                        F.concat(
                            F.lit("u"), i.cast("string"), F.lit(" q"),
                            ((d + i) % 5).cast("string"),
                        ).alias("content"),
                    ),
                    F.struct(
                        F.lit("assistant").alias("role"),
                        F.concat(
                            F.lit("a"), i.cast("string"), F.lit(" r"),
                            ((d + i) % 3).cast("string"), F.lit(" ok"),
                        ).alias("content"),
                    ),
                ),
            )
        )
    )
    from hdk_spark.functions.scalar import nd_identity

    # nd_identity stages the PLANTED conversation JSON once: the
    # packer consumes the column several times, and a deterministic
    # alias would be re-inlined (and re-built) per consumer by
    # CollapseProject — plan-audited ×5 before the r14 staging. Real
    # (columnar) inputs don't need this; only the planted expression
    # does. Values are unchanged (nd_identity is the identity).
    planted = spark.table("documents").select(
        "doc_id", nd_identity(conv).alias("conversation")
    )
    out = sft_pack_export(planted, budget=40, n_shards=4, seed=0)
    return out.select(
        "shard", "chunk_id", "n_docs", "n_tokens", "n_trainable",
        F.md5(F.encode(F.array_join("tokens", "|"), "utf-8")).alias(
            "tok_digest"
        ),
        F.array_join(
            F.transform("loss_mask", lambda x: x.cast("string")), ""
        ).alias("mask"),
    ).orderBy("shard", "chunk_id")


def _sft_export_oracle() -> str:
    h = _hb_sql("doc_id", 1000000007, 0)
    sh = _hb_sql("doc_id", 4, 1)
    return f"""
WITH p AS (
  SELECT doc_id, doc_id % 3 + 1 AS pairs FROM documents
), frags AS (
  SELECT p.doc_id, i,
         '<|user|>|u' || CAST(i AS VARCHAR) || '|q'
           || CAST((p.doc_id + i) % 5 AS VARCHAR)
           || '|<|assistant|>|a' || CAST(i AS VARCHAR) || '|r'
           || CAST((p.doc_id + i) % 3 AS VARCHAR) || '|ok' AS frag
  FROM p, unnest(range(1, pairs + 1)) AS t(i)
), docs AS (
  SELECT f.doc_id,
         string_agg(f.frag, '|' ORDER BY f.i) AS toks,
         repeat('0000111', CAST(p.pairs AS INT)) AS mask,
         7 * p.pairs AS n_tok, 3 * p.pairs AS n_train
  FROM frags f JOIN p ON f.doc_id = p.doc_id
  GROUP BY f.doc_id, p.pairs
), packed AS (
  SELECT doc_id, toks, mask, n_tok, n_train,
         {h} AS hh, {sh} AS shard,
         SUM(n_tok) OVER (PARTITION BY {sh}
           ORDER BY {h}, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM docs
), chunks AS (
  SELECT shard, (cum - n_tok) // 40 AS chunk_id, doc_id, hh,
         toks, mask, n_tok, n_train
  FROM packed
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_train) AS BIGINT) AS n_trainable,
       md5(string_agg(toks, '|' ORDER BY hh, doc_id)) AS tok_digest,
       string_agg(mask, '' ORDER BY hh, doc_id) AS mask
FROM chunks GROUP BY shard, chunk_id ORDER BY shard, chunk_id
"""


SPARK_IMPLS["chat_sft_export"] = q_chat_sft_export
ORACLES["chat_sft_export"] = _sft_export_oracle()


def q_select_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum annotation
    (operators/selection.py::curriculum_order, 4 stages) over a
    planted difficulty score ((d·37 mod 1000)/1000). The oracle
    recomputes the quantile thresholds with quantile_cont and replays
    the boundary rule (ties low) and the hash shuffle key — stage
    flips are impossible even under last-ulp threshold differences
    because no planted score lies strictly between adjacent grid
    values (argued in the row's planting)."""
    from hdk_spark.operators.selection import curriculum_order

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    planted = spark.table("documents").select(
        "doc_id",
        (((d * 37) % 1000) / F.lit(1000.0)).alias("difficulty"),
    )
    out = curriculum_order(planted, "difficulty", n_stages=4)
    return out.select("doc_id", "stage", "curriculum_key").orderBy("doc_id")


def _curriculum_oracle() -> str:
    h = _hb_sql("doc_id", 1000000007, 31)
    return f"""
WITH p AS (
  SELECT doc_id,
         CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS s
  FROM documents
), t AS (
  SELECT quantile_cont(s, [0.25, 0.5, 0.75]) AS th FROM p
)
SELECT doc_id,
       CAST((CASE WHEN s > th[1] THEN 1 ELSE 0 END)
          + (CASE WHEN s > th[2] THEN 1 ELSE 0 END)
          + (CASE WHEN s > th[3] THEN 1 ELSE 0 END) AS INT) AS stage,
       CAST({h} AS BIGINT) AS curriculum_key
FROM p, t ORDER BY doc_id
"""


SPARK_IMPLS["select_curriculum_order"] = q_select_curriculum
ORACLES["select_curriculum_order"] = _curriculum_oracle()


def q_text_fold_homoglyphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph folding (operators/text.py::fold_homoglyphs) over
    planted blocklist-evasion text: every third doc spells 'pay' with
    a Cyrillic а. The oracle emits the EXPECTED post-fold strings and
    fold counts closed-form from the planting arithmetic — no
    translate(), no Unicode anywhere on the oracle side, so the fold
    map itself is what gets value-checked."""
    from hdk_spark.operators.text import fold_homoglyphs

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    text = F.concat(
        F.when(d % 3 == 0, F.lit("pаy w")).otherwise(F.lit("pay w")),
        (d % 7).cast("string"),
    )
    planted = spark.table("documents").select("doc_id", text.alias("text"))
    return fold_homoglyphs(planted).orderBy("doc_id")


_HOMOGLYPH_ORACLE = """
SELECT doc_id,
       'pay w' || CAST(doc_id % 7 AS VARCHAR) AS text,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_folded
FROM documents ORDER BY doc_id
"""

SPARK_IMPLS["text_fold_homoglyphs"] = q_text_fold_homoglyphs
ORACLES["text_fold_homoglyphs"] = _HOMOGLYPH_ORACLE


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit (operators/text.py::zipf_fit, top 200
    terms) over the REAL documents corpus. The oracle replays the
    whole chain — tokenize, count, deterministic rank, micro-
    quantized (x, y, xy, x²) sums, closed-form least squares."""
    from hdk_spark.operators.text import zipf_fit

    _tables(spark, sf_dir)
    return zipf_fit(spark.table("documents"), k=200)


_ZIPF_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), counts AS (
  SELECT token, COUNT(*) AS n FROM toks
  WHERE length(token) >= 1 GROUP BY token
  ORDER BY n DESC, token LIMIT 200
), ranked AS (
  SELECT row_number() OVER (ORDER BY n DESC, token) AS r, n FROM counts
), micro AS (
  SELECT COUNT(*) AS nt,
         SUM(CAST(round(ln(r) * 1e9) AS HUGEINT)) AS sx,
         SUM(CAST(round(ln(n) * 1e9) AS HUGEINT)) AS sy,
         SUM(CAST(round(ln(r) * ln(n) * 1e9) AS HUGEINT)) AS sxy,
         SUM(CAST(round(ln(r) * ln(r) * 1e9) AS HUGEINT)) AS sxx
  FROM ranked
)
SELECT CAST(nt AS BIGINT) AS n_terms,
       round((nt * (CAST(sxy AS DOUBLE) / 1e9)
              - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
             / (nt * (CAST(sxx AS DOUBLE) / 1e9)
                - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)),
             6) + 0 AS slope,
       round(((CAST(sy AS DOUBLE) / 1e9)
              - ((nt * (CAST(sxy AS DOUBLE) / 1e9)
                  - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
                 / (nt * (CAST(sxx AS DOUBLE) / 1e9)
                    - (CAST(sx AS DOUBLE) / 1e9)
                      * (CAST(sx AS DOUBLE) / 1e9)))
                * (CAST(sx AS DOUBLE) / 1e9)) / nt, 6) + 0 AS intercept
FROM micro
"""

SPARK_IMPLS["text_zipf_fit"] = q_text_zipf_fit
ORACLES["text_zipf_fit"] = _ZIPF_ORACLE


def q_similarity_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k
    (operators/similarity.py::ann_multiprobe_topk, 4 ±1 planes, 5
    probes = exact bucket + all 1-bit flips in margin order, k=5,
    queries 0-4). The oracle replays the fold dots against the same
    literal planes, the sign bucket, the |margin|-sorted probe set,
    the probe join, and the exact-cosine rank window."""
    from hdk_spark.operators.similarity import ann_multiprobe_topk

    _tables(spark, sf_dir)
    out = ann_multiprobe_topk(
        spark.table("embeddings"), [0, 1, 2, 3, 4],
        k=5, n_planes=4, n_probes=5,
    )
    return _ordered(out, "qid", "rank")


_MP_FLOAT_VSOURCE = """
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
"""


def _multiprobe_oracle(
    n_planes: int = 4, n_probes: int = 5, seed: int = 7, dims: int = 64,
    lead_ctes: str = "", vsource: str = _MP_FLOAT_VSOURCE,
) -> str:
    """The multiprobe construction replayed in DuckDB SQL, over a
    pluggable (id, v) vector source — the float embeddings by default,
    the SQ8 dequantization chain for the coded-lake composition row
    (same machinery, so the two oracles cannot drift)."""
    from hdk_spark.operators.dedup import rademacher_planes

    planes = rademacher_planes(n_planes, dims, seed)

    def dot_plane(p):
        lit = "[" + ",".join("1.0" if c > 0 else "-1.0" for c in p) + "]"
        return _DOT.format(a="v", b=lit)

    dot_cols = ",\n         ".join(
        f"{dot_plane(p)} AS d{i}" for i, p in enumerate(planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN d{i} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    margin_rows = " UNION ALL ".join(
        f"SELECT id, abs(d{i}) AS m, {i} AS i, {1 << i} AS p2 FROM h "
        f"WHERE id IN (0,1,2,3,4)"
        for i in range(n_planes)
    )
    return f"""
WITH {lead_ctes}b AS ({vsource}), h0 AS (
  SELECT id, v, sqrt({_DOT.format(a='v', b='v')}) AS norm,
         {dot_cols}
  FROM b
), h AS (
  SELECT *, ({bucket}) AS bkt FROM h0
), m AS (
  SELECT id, i, p2,
         row_number() OVER (PARTITION BY id ORDER BY m, i) AS rn
  FROM ({margin_rows})
), probes AS (
  SELECT id AS qid, bkt AS pb FROM h WHERE id IN (0,1,2,3,4)
  UNION ALL
  SELECT m.id, xor(h.bkt, m.p2)
  FROM m JOIN h ON h.id = m.id
  WHERE m.rn <= {n_probes - 1}
), cand AS (
  SELECT DISTINCT p.qid, c.id
  FROM probes p JOIN h c ON c.bkt = p.pb AND c.id <> p.qid
), scored AS (
  SELECT cand.qid, cand.id AS neighbor_id,
         {_DOT.format(a='q.v', b='c.v')} / (q.norm * c.norm) AS cosine
  FROM cand
  JOIN h q ON q.id = cand.qid
  JOIN h c ON c.id = cand.id
)
SELECT qid, neighbor_id, CAST(rnk AS INT) AS rank,
       round(cosine, 6) + 0 AS cosine
FROM (
  SELECT qid, neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 5
ORDER BY qid, rnk
"""


SPARK_IMPLS["similarity_multiprobe_lsh"] = q_similarity_multiprobe
ORACLES["similarity_multiprobe_lsh"] = _multiprobe_oracle()


# ---------------------------------------------------------------------------
# round 10: Count-Min sketch point-frequency contract row — closes the
# r9 verdict's "CMS shipped with zero verification" gap. The cell
# relation is plain SQL (explode depth Knuth-hash cells + groupBy), so
# with hash_basis='md5' (DuckDB-computable base hash, same discipline
# as the simhash/minhash md5 modes) the oracle replays build, query
# (min over depth cells, absent cell = 0) AND the exact truth counts.
# ---------------------------------------------------------------------------


def q_stats_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build + point queries (operators/sketches.py::
    cms_build/cms_query, depth=3, width=64, seed=37, hash_basis='md5')
    over the heavy-hitters planted skew column; emits (item, est,
    cnt_true) for a fixed probe list spanning hot/mid/tail/absent so
    the never-under guarantee is visible in the row values
    themselves. width=64 << the ~6.6k distinct items at sf0.01
    forces real collisions — the oracle must reproduce the collided
    cell sums exactly, not just exact counts."""
    from hdk_spark.operators.sketches import cms_build, cms_query

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    item = (
        F.when(d % 3 != 2, F.concat(F.lit("hot"), (d % 2).cast("string")))
        .when(d % 9 == 2, F.concat(F.lit("mid"), (d % 27).cast("string")))
        .otherwise(F.concat(F.lit("tail"), d.cast("string")))
    )
    planted = spark.table("documents").select(item.alias("v"))
    probes = ["hot0", "hot1", "mid2", "mid11", "mid20",
              "tail5", "tail17", "never-seen"]
    kw = dict(depth=3, width=64, seed=37, hash_basis="md5")
    sk = cms_build(planted, "v", **kw)
    truth = planted.groupBy(F.col("v").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt_true")
    )
    return (
        cms_query(sk, probes, **kw)
        .join(truth, "item", "left")
        .select(
            "item",
            F.col("est").cast("long").alias("est"),
            F.coalesce("cnt_true", F.lit(0)).cast("long").alias("cnt_true"),
        )
        .orderBy("item")
    )


_CMS_CELL = (
    "((CAST(('0x' || substr(md5({v}), 1, 8)) AS BIGINT) % 1000000007)"
    " * 654435747 + (37 + r.r * 1000003)) % 1000000007 % 64"
)

_CMS_FREQUENCY_ORACLE = f"""
WITH src AS (
  SELECT CASE WHEN doc_id % 3 <> 2 THEN 'hot' || CAST(doc_id % 2 AS VARCHAR)
              WHEN doc_id % 9 = 2 THEN 'mid' || CAST(doc_id % 27 AS VARCHAR)
              ELSE 'tail' || CAST(doc_id AS VARCHAR) END AS v
  FROM documents
), rr AS (SELECT unnest([0, 1, 2]) AS r),
vals AS (
  SELECT unnest(['hot0','hot1','mid2','mid11','mid20',
                 'tail5','tail17','never-seen']) AS item
), cells AS (
  SELECT r.r AS r, {_CMS_CELL.format(v='s.v')} AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM src s CROSS JOIN rr r
  GROUP BY 1, 2
), probes AS (
  SELECT v.item, r.r AS r, {_CMS_CELL.format(v='v.item')} AS b
  FROM vals v CROSS JOIN rr r
), est AS (
  SELECT p.item, MIN(COALESCE(c.c, 0)) AS est
  FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.b = p.b
  GROUP BY p.item
), truth AS (
  SELECT v AS item, COUNT(*) AS cnt FROM src GROUP BY v
)
SELECT e.item, CAST(e.est AS BIGINT) AS est,
       CAST(COALESCE(t.cnt, 0) AS BIGINT) AS cnt_true
FROM est e LEFT JOIN truth t USING (item)
ORDER BY item
"""

SPARK_IMPLS["stats_cms_frequency"] = q_stats_cms_frequency
ORACLES["stats_cms_frequency"] = _CMS_FREQUENCY_ORACLE


# ---------------------------------------------------------------------------
# round 10: streaming sketch family — the bounded-state incremental
# variants of the r9 sketch ops. complete-mode streaming state IS the
# merged sketch (CMS merge is linear; HLL union is register-max), so
# the completed table equals the batch build and the full SQL oracles
# replay it.
# ---------------------------------------------------------------------------


def q_streaming_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_cms (streaming.py — the batch
    CMS cell relation as a streaming aggregation, state bounded at
    depth·width cells) in complete mode, then point-queried with
    cms_query + exact truth counts. Planted item = lang '-' doc_id%5
    (25 distinct >> width 16, so collided cells are value-checked).
    The oracle replays the full-history build — streaming state
    update == cms_merge, which is the property this row pins."""
    from hdk_spark.operators.sketches import cms_query

    _tables(spark, sf_dir)
    item = F.concat(F.col("lang"), F.lit("-"),
                    (F.col("doc_id") % 5).cast("string"))
    stream = _documents_stream(spark, sf_dir).select(item.alias("v"))
    from hdk_spark.streaming import stream_cms

    kw = dict(depth=4, width=16, seed=37, hash_basis="md5")
    name = _run_stream(stream_cms(stream, "v", **kw), "complete")
    sketch = spark.table(name)
    probes = ["en-0", "en-3", "zh-1", "es-2", "de-4", "fr-0", "xx-9"]
    truth = (
        spark.table("documents")
        .select(item.alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_true"))
    )
    return (
        cms_query(sketch, probes, **kw)
        .join(truth, "item", "left")
        .select(
            "item",
            F.col("est").cast("long").alias("est"),
            F.coalesce("cnt_true", F.lit(0)).cast("long").alias("cnt_true"),
        )
        .orderBy("item")
    )


_STREAM_CMS_CELL = (
    "((CAST(('0x' || substr(md5({v}), 1, 8)) AS BIGINT) % 1000000007)"
    " * 654435747 + (37 + r.r * 1000003)) % 1000000007 % 16"
)

_STREAM_CMS_ORACLE = f"""
WITH src AS (
  SELECT v FROM (
    SELECT lang || '-' || CAST(doc_id % 5 AS VARCHAR) AS v FROM documents
  ) WHERE v IS NOT NULL
), rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
vals AS (
  SELECT unnest(['en-0','en-3','zh-1','es-2','de-4','fr-0','xx-9']) AS item
), cells AS (
  SELECT r.r AS r, {_STREAM_CMS_CELL.format(v='s.v')} AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM src s CROSS JOIN rr r
  GROUP BY 1, 2
), probes AS (
  SELECT v.item, r.r AS r, {_STREAM_CMS_CELL.format(v='v.item')} AS b
  FROM vals v CROSS JOIN rr r
), est AS (
  SELECT p.item, MIN(COALESCE(c.c, 0)) AS est
  FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.b = p.b
  GROUP BY p.item
), truth AS (
  SELECT v AS item, COUNT(*) AS cnt FROM src GROUP BY v
)
SELECT e.item, CAST(e.est AS BIGINT) AS est,
       CAST(COALESCE(t.cnt, 0) AS BIGINT) AS cnt_true
FROM est e LEFT JOIN truth t USING (item)
ORDER BY item
"""

SPARK_IMPLS["streaming_cms_counts"] = q_streaming_cms_counts
ORACLES["streaming_cms_counts"] = _STREAM_CMS_ORACLE


def q_streaming_ndv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_ndv_rollup (per-lang HLL NDV
    of doc_id%97 as streaming state — ONE ≤2^lgk-byte sketch per
    group, the bounded-state alternative to streaming COUNT(DISTINCT))
    in complete mode, then estimated. Exact-mode cardinality (≤97 ≪
    the lgk=12 coupon threshold) so ndv value-checks against DuckDB's
    exact COUNT(DISTINCT) — the same exactness argument as the batch
    stats_ndv_sketch_rollup row."""
    from hdk_spark.operators.sketches import ndv_estimate
    from hdk_spark.streaming import stream_ndv_rollup

    _tables(spark, sf_dir)
    stream = _documents_stream(spark, sf_dir).select(
        "lang", (F.col("doc_id") % 97).alias("v")
    )
    name = _run_stream(stream_ndv_rollup(stream, "lang", "v"), "complete")
    return (
        ndv_estimate(spark.table(name))
        .select(F.col("grp").alias("lang"), "n_rows", "ndv")
        .orderBy("lang")
    )


_STREAM_NDV_ORACLE = """
SELECT lang, COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT doc_id % 97) AS BIGINT) AS ndv
FROM documents GROUP BY lang ORDER BY lang
"""

SPARK_IMPLS["streaming_ndv_rollup"] = q_streaming_ndv_rollup
ORACLES["streaming_ndv_rollup"] = _STREAM_NDV_ORACLE


# ---------------------------------------------------------------------------
# round 11: streaming Misra-Gries heavy-hitter state — completes the
# mergeable-sketch trio (CMS linear add r10, HLL register max r10, MG
# counter-add + trim). State bounded at n_shards·k counters; the
# single-file availableNow source makes the run ONE micro-batch, so
# the emission == the batch mg_summary relation, which the oracle
# replays in full (md5 shards, exact counts, the rank-(k+1) median
# subtraction, the positive filter).
# ---------------------------------------------------------------------------


def q_streaming_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_frequent_items (streaming.py
    — sharded Misra-Gries summaries as applyInPandasWithState state,
    ≤ n_shards·k counters total for an unbounded stream). Planted item
    = lang '-' doc_id%7 (≈35 distinct over 4 shards >> k=5, so every
    shard's trim fires and trimmed counts are value-checked, not just
    survivors)."""
    from hdk_spark.streaming import stream_frequent_items

    _tables(spark, sf_dir)
    item = F.concat(F.col("lang"), F.lit("-"),
                    (F.col("doc_id") % 7).cast("string"))
    stream = _documents_stream(spark, sf_dir).select(item.alias("v"))
    name = _run_stream(
        stream_frequent_items(stream, "v", k=5, n_shards=4,
                              hash_basis="md5"),
        "update",
    )
    return spark.table(name).orderBy("shard", "item")


# One-round sharded MG summary chain over a CTE named `src(item)`
# (k=5, 4 md5 shards): ends in surv = (shard, item, cnt) survivors +
# totals = (shard, n_shard). Shared by the streaming-MG and
# heavy-hitter oracles so the trim convention cannot drift between
# them (the parity-sliced cousin for the merge oracle is
# _mg_half_sql below — same chain, per-half tags).
_MG_ONE_ROUND_SQL = """h AS (
  SELECT item,
         CAST(CAST(('0x' || substr(md5(item), 1, 8)) AS BIGINT) % 4 AS INT)
           AS shard
  FROM src
), cnt AS (
  SELECT shard, item, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1, 2
), totals AS (
  SELECT shard, CAST(SUM(c) AS BIGINT) AS n_shard FROM cnt GROUP BY shard
), rk AS (
  SELECT shard, item, c,
         row_number() OVER (PARTITION BY shard ORDER BY c DESC, item) AS rn
  FROM cnt
), med AS (
  SELECT shard, MAX(CASE WHEN rn = 6 THEN c END) AS m FROM rk GROUP BY shard
), surv AS (
  SELECT r.shard, r.item, CAST(r.c - COALESCE(m.m, 0) AS BIGINT) AS cnt
  FROM rk r JOIN med m USING (shard)
  WHERE r.c - COALESCE(m.m, 0) > 0
)"""


_STREAM_MG_ORACLE = f"""
WITH src AS (
  SELECT item FROM (
    SELECT lang || '-' || CAST(doc_id % 7 AS VARCHAR) AS item FROM documents
  ) WHERE item IS NOT NULL
), {_MG_ONE_ROUND_SQL}
SELECT t.shard, s.item, s.cnt, t.n_shard
FROM totals t LEFT JOIN surv s USING (shard)
ORDER BY shard, item
"""

SPARK_IMPLS["streaming_frequent_items"] = q_streaming_frequent_items
ORACLES["streaming_frequent_items"] = _STREAM_MG_ORACLE


# ---------------------------------------------------------------------------
# round 11: MG merge — the merge-not-rescan member for frequency TOPs
# (cms_merge = cell sums, merge_ndv_rollups = register maxima,
# mg_merge = counter add + one trim). The oracle builds BOTH halves'
# one-round summaries, adds their counters, replays the merged trim
# and the summed n_shard accounting — including the NULL-item
# accounting rows that keep an all-trimmed shard's volume.
# ---------------------------------------------------------------------------


def q_stats_mg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mg_merge over the even/odd-doc_id halves' mg_summary relations
    (operators/sketches.py — the slice-merge path: answer 'top items
    so far' from stored per-slice summaries, never re-scanning the
    slices). k=5, 4 md5 shards, item = lang '-' doc_id%7: both
    halves' trims fire, so merged counters are sums of TRIMMED
    values, value-checked end-to-end."""
    from hdk_spark.operators.sketches import mg_merge, mg_summary

    _tables(spark, sf_dir)
    item = F.concat(F.col("lang"), F.lit("-"),
                    (F.col("doc_id") % 7).cast("string"))
    docs = spark.table("documents").select(item.alias("v"), "doc_id")
    kw = dict(k=5, n_shards=4, hash_basis="md5")
    a = mg_summary(docs.filter(F.col("doc_id") % 2 == 0), "v", **kw)
    b = mg_summary(docs.filter(F.col("doc_id") % 2 == 1), "v", **kw)
    merged = mg_merge(a, b, k=5)
    # the summaries are this row's own caches: its result frees them
    return _attach_caches(
        merged.orderBy("shard", "item"), _caches_of(merged) + (a, b))


def _mg_half_sql(tag: str, parity: int) -> str:
    """One half's one-round MG summary CTE chain (k=5, 4 md5 shards),
    ending in s{tag} = (shard, item, cnt) survivors + t{tag} =
    (shard, n_shard) totals."""
    return f"""c{tag} AS (
  SELECT CAST(CAST(('0x' || substr(md5(item), 1, 8)) AS BIGINT) % 4 AS INT)
           AS shard,
         item, CAST(COUNT(*) AS BIGINT) AS c
  FROM srcm WHERE doc_id % 2 = {parity} GROUP BY 1, 2
), t{tag} AS (
  SELECT shard, CAST(SUM(c) AS BIGINT) AS n_shard FROM c{tag}
  GROUP BY shard
), r{tag} AS (
  SELECT shard, item, c,
         row_number() OVER (PARTITION BY shard ORDER BY c DESC, item) AS rn
  FROM c{tag}
), m{tag} AS (
  SELECT shard, MAX(CASE WHEN rn = 6 THEN c END) AS m FROM r{tag}
  GROUP BY shard
), s{tag} AS (
  SELECT r.shard, r.item, CAST(r.c - COALESCE(m.m, 0) AS BIGINT) AS cnt
  FROM r{tag} r JOIN m{tag} m USING (shard)
  WHERE r.c - COALESCE(m.m, 0) > 0
)"""


_MG_MERGE_ORACLE = f"""
WITH srcm AS (
  SELECT item, doc_id FROM (
    SELECT lang || '-' || CAST(doc_id % 7 AS VARCHAR) AS item, doc_id
    FROM documents
  ) WHERE item IS NOT NULL
), {_mg_half_sql('a', 0)}, {_mg_half_sql('b', 1)}, u AS (
  SELECT shard, item, cnt FROM sa
  UNION ALL SELECT shard, item, cnt FROM sb
), mc AS (
  SELECT shard, item, CAST(SUM(cnt) AS BIGINT) AS c FROM u GROUP BY 1, 2
), nacc AS (
  SELECT shard, CAST(SUM(n_shard) AS BIGINT) AS n_shard
  FROM (SELECT shard, n_shard FROM ta
        UNION ALL SELECT shard, n_shard FROM tb)
  GROUP BY shard
), rm AS (
  SELECT shard, item, c,
         row_number() OVER (PARTITION BY shard ORDER BY c DESC, item) AS rn
  FROM mc
), mm AS (
  SELECT shard, MAX(CASE WHEN rn = 6 THEN c END) AS m FROM rm GROUP BY shard
), sm AS (
  SELECT r.shard, r.item, CAST(r.c - COALESCE(m.m, 0) AS BIGINT) AS cnt
  FROM rm r JOIN mm m USING (shard)
  WHERE r.c - COALESCE(m.m, 0) > 0
)
SELECT n.shard, s.item, s.cnt, n.n_shard
FROM nacc n LEFT JOIN sm s USING (shard)
ORDER BY shard, item
"""

SPARK_IMPLS["stats_mg_merge"] = q_stats_mg_merge
ORACLES["stats_mg_merge"] = _MG_MERGE_ORACLE


def q_stats_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mg_heavy_hitters over the documents MG summary (k=5 so trims
    fire and the per-shard slack is non-zero): φ=0.02 candidates with
    their lower/upper count brackets and the certain/possible split —
    thresholds, slack arithmetic and the certainty predicate all
    replayed in SQL."""
    from hdk_spark.operators.sketches import mg_heavy_hitters, mg_summary

    _tables(spark, sf_dir)
    item = F.concat(F.col("lang"), F.lit("-"),
                    (F.col("doc_id") % 7).cast("string"))
    docs = spark.table("documents").select(item.alias("v"))
    summ = mg_summary(docs, "v", k=5, n_shards=4, hash_basis="md5")
    hh = mg_heavy_hitters(summ, phi=0.02, k=5)
    # the summary is this row's own cache: its result frees it
    return _attach_caches(hh, _caches_of(hh) + (summ,))


_MG_HH_ORACLE = f"""
WITH src AS (
  SELECT item FROM (
    SELECT lang || '-' || CAST(doc_id % 7 AS VARCHAR) AS item FROM documents
  ) WHERE item IS NOT NULL
), {_MG_ONE_ROUND_SQL}, slack AS (
  SELECT t.shard,
         CAST(floor((t.n_shard - COALESCE(s.sc, 0)) / 6.0) AS BIGINT) AS sl
  FROM totals t LEFT JOIN (
    SELECT shard, SUM(cnt) AS sc FROM surv GROUP BY shard
  ) s USING (shard)
), n AS (SELECT CAST(SUM(n_shard) AS BIGINT) AS n FROM totals)
SELECT s.item,
       CAST(s.cnt AS BIGINT) AS cnt_lower,
       CAST(s.cnt + k.sl AS BIGINT) AS cnt_upper,
       CAST(s.cnt AS DOUBLE) >= 0.02 * n.n AS certain
FROM surv s JOIN slack k USING (shard) CROSS JOIN n
WHERE CAST(s.cnt + k.sl AS DOUBLE) >= 0.02 * n.n
ORDER BY cnt_lower DESC, item
"""

SPARK_IMPLS["stats_mg_heavy_hitters"] = q_stats_mg_heavy_hitters
ORACLES["stats_mg_heavy_hitters"] = _MG_HH_ORACLE


def q_stats_mg_group_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-group Misra-Gries pipeline end-to-end (operators/
    sketches.py::mg_summary_by_group → mg_merge_by_group →
    mg_heavy_hitters_by_group — "hot items per domain", the frequency
    member of the per-group sketch trilogy): per-group summaries
    built on doc_id-parity SLICES, merged per group, then φ=0.1
    heavy hitters where N is each GROUP's volume. k=3 with 2 md5
    shards so trims fire per (grp, shard) in the halves AND in the
    merge. The oracle replays the whole chain in SQL — per-(grp,
    shard) exact counts, both halves' rank-4 medians and
    subtractions, the counter-add merge, its own median/trim, the
    per-(grp, shard) slack and each group's φ·N_grp thresholds."""
    from hdk_spark.operators.sketches import (
        mg_heavy_hitters_by_group, mg_merge_by_group, mg_summary_by_group,
    )

    _tables(spark, sf_dir)
    docs = spark.table("documents").filter(
        F.col("lang").isNotNull() & F.col("doc_id").isNotNull()
    ).select(
        F.col("lang").alias("g"),
        F.concat(F.lit("i"), (F.col("doc_id") % 7).cast("string"))
        .alias("v"),
        (F.col("doc_id") % 2).alias("p"),
    )
    kw = dict(k=3, n_shards=2, hash_basis="md5")
    halves = [mg_summary_by_group(docs.filter(f"p = {p}"), "g", "v", **kw)
              for p in (0, 1)]
    merged = mg_merge_by_group(*halves, k=3)
    hh = mg_heavy_hitters_by_group(merged, phi=0.1, k=3)
    # the summaries are this row's own caches: its result frees them
    return _attach_caches(
        hh, _caches_of(merged, hh) + tuple(halves))


def _mg_group_half_sql(tag: str, parity: int) -> str:
    """One half's per-group one-round MG summary CTE chain (k=3, 2
    md5 shards, PARTITION BY (grp, shard)): s{tag} survivors +
    t{tag} totals."""
    return f"""c{tag} AS (
  SELECT grp,
         CAST(CAST(('0x' || substr(md5(item), 1, 8)) AS BIGINT) % 2 AS INT)
           AS shard,
         item, CAST(COUNT(*) AS BIGINT) AS c
  FROM srcg WHERE doc_id % 2 = {parity} GROUP BY 1, 2, 3
), t{tag} AS (
  SELECT grp, shard, CAST(SUM(c) AS BIGINT) AS n_shard FROM c{tag}
  GROUP BY 1, 2
), r{tag} AS (
  SELECT grp, shard, item, c,
         row_number() OVER (PARTITION BY grp, shard
                            ORDER BY c DESC, item) AS rn
  FROM c{tag}
), m{tag} AS (
  SELECT grp, shard, MAX(CASE WHEN rn = 4 THEN c END) AS m FROM r{tag}
  GROUP BY 1, 2
), s{tag} AS (
  SELECT r.grp, r.shard, r.item,
         CAST(r.c - COALESCE(m.m, 0) AS BIGINT) AS cnt
  FROM r{tag} r JOIN m{tag} m USING (grp, shard)
  WHERE r.c - COALESCE(m.m, 0) > 0
)"""


_MG_GROUP_HH_ORACLE = f"""
WITH srcg AS (
  SELECT lang AS grp, 'i' || CAST(doc_id % 7 AS VARCHAR) AS item, doc_id
  FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL
), {_mg_group_half_sql('a', 0)}, {_mg_group_half_sql('b', 1)}, u AS (
  SELECT grp, shard, item, cnt FROM sa
  UNION ALL SELECT grp, shard, item, cnt FROM sb
), mc AS (
  SELECT grp, shard, item, CAST(SUM(cnt) AS BIGINT) AS c
  FROM u GROUP BY 1, 2, 3
), nacc AS (
  SELECT grp, shard, CAST(SUM(n_shard) AS BIGINT) AS n_shard
  FROM (SELECT grp, shard, n_shard FROM ta
        UNION ALL SELECT grp, shard, n_shard FROM tb)
  GROUP BY 1, 2
), rm AS (
  SELECT grp, shard, item, c,
         row_number() OVER (PARTITION BY grp, shard
                            ORDER BY c DESC, item) AS rn
  FROM mc
), mm AS (
  SELECT grp, shard, MAX(CASE WHEN rn = 4 THEN c END) AS m FROM rm
  GROUP BY 1, 2
), sm AS (
  SELECT r.grp, r.shard, r.item,
         CAST(r.c - COALESCE(m.m, 0) AS BIGINT) AS cnt
  FROM rm r JOIN mm m USING (grp, shard)
  WHERE r.c - COALESCE(m.m, 0) > 0
), slack AS (
  SELECT n.grp, n.shard,
         CAST(floor((n.n_shard - COALESCE(s.sc, 0)) / 4.0) AS BIGINT) AS sl
  FROM nacc n LEFT JOIN (
    SELECT grp, shard, SUM(cnt) AS sc FROM sm GROUP BY 1, 2
  ) s USING (grp, shard)
), ng AS (
  SELECT grp, CAST(SUM(n_shard) AS BIGINT) AS n FROM nacc GROUP BY grp
)
SELECT s.grp, s.item,
       CAST(s.cnt AS BIGINT) AS cnt_lower,
       CAST(s.cnt + k.sl AS BIGINT) AS cnt_upper,
       CAST(s.cnt AS DOUBLE) >= 0.1 * g.n AS certain
FROM sm s JOIN slack k USING (grp, shard) JOIN ng g USING (grp)
WHERE CAST(s.cnt + k.sl AS DOUBLE) >= 0.1 * g.n
ORDER BY s.grp, cnt_lower DESC, s.item
"""

SPARK_IMPLS["stats_mg_group_hh"] = q_stats_mg_group_hh
ORACLES["stats_mg_group_hh"] = _MG_GROUP_HH_ORACLE


# ---------------------------------------------------------------------------
# round 10: labeling-reliability + summarization-eval completions —
# krippendorff_alpha (the varying-raters/missing-data coefficient
# fleiss_kappa deliberately abstains on) and rouge_n (the recall side
# of the BLEU overlap pair).
# ---------------------------------------------------------------------------


def q_stats_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (operators/stats.py::krippendorff_alpha)
    over planted long-format annotations: unit = doc_id%50 (varying
    raters per unit — the case Fleiss abstains on), label = unit-
    derived with a %7 disagreement twist, doc_id%13 rows NULL
    (missing data), doc_id%97 rows land in singleton units
    (unpairable, counted in n_units but excluded from alpha). The
    oracle replays the coincidence arithmetic including the ×1e9
    micro-quantized agreement sum."""
    from hdk_spark.operators.stats import krippendorff_alpha

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    ann = spark.table("documents").select(
        F.when(d % 97 == 0, d + 1000).otherwise(d % 50).alias("item"),
        F.when(
            d % 13 == 0, F.lit(None).cast("string")
        ).otherwise(
            F.concat(
                F.lit("l"),
                ((d % 50 + (d % 7 == 0).cast("long")) % 5).cast("string"),
            )
        ).alias("label"),
    )
    return krippendorff_alpha(ann, "item", "label")


_KRIPPENDORFF_ORACLE = """
WITH ann AS (
  SELECT CASE WHEN doc_id % 97 = 0 THEN doc_id + 1000
              ELSE doc_id % 50 END AS item,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE 'l' || CAST((doc_id % 50
                   + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 5
                   AS VARCHAR) END AS label
  FROM documents
), nij AS (
  SELECT item, label, COUNT(*) AS n FROM ann
  WHERE label IS NOT NULL GROUP BY item, label
), mi AS (
  SELECT item, SUM(n) AS m FROM nij GROUP BY item
), units AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pairable
  FROM mi
), cells AS (
  SELECT nij.item, nij.label, nij.n, mi.m
  FROM nij JOIN mi USING (item) WHERE mi.m >= 2
), asum AS (
  SELECT COALESCE(SUM(CAST(round(1e9 * n * (n - 1)
                                 / CAST(m - 1 AS DOUBLE)) AS HUGEINT)),
                  0) AS aq,
         CAST(COUNT(DISTINCT label) AS BIGINT) AS n_classes
  FROM cells
), marg AS (
  SELECT COALESCE(SUM(c), 0) AS nv, COALESCE(SUM(c * c), 0) AS s2
  FROM (SELECT SUM(n) AS c FROM cells GROUP BY label)
)
SELECT u.n_units, u.n_pairable, a.n_classes,
       CAST(m.nv AS BIGINT) AS n_vals,
       round(CASE WHEN m.nv * m.nv - m.s2 > 0 THEN
                1.0 - (m.nv - CAST(a.aq AS DOUBLE) / 1e9)
                    * (m.nv - 1.0)
                    / CAST(m.nv * m.nv - m.s2 AS DOUBLE)
             END, 6) + 0 AS alpha
FROM units u, asum a, marg m
"""

SPARK_IMPLS["stats_krippendorff_alpha"] = q_stats_krippendorff
ORACLES["stats_krippendorff_alpha"] = _KRIPPENDORFF_ORACLE


def q_text_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 (operators/text.py::rouge_n) over planted (ref, hyp)
    pairs using the BLEU row's shared-vocab shift planting but with
    SHORT rows in the spectrum: ref has (d%6)+1 tokens and hyp
    (d%5)+1, so zero-bigram sides exercise the NULL
    precision/recall/f1 conventions alongside the full overlap range.
    The oracle rebuilds tokens, bigrams, the clipped count, and both
    divides with DuckDB list HOFs."""
    from hdk_spark.operators.text import rouge_n

    _tables(spark, sf_dir)
    d = F.col("doc_id")

    def words(shift, upper):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), upper),
                lambda j: F.concat(
                    F.lit("w"), ((d + j + shift) % 7).cast("string")
                ),
            ),
            " ",
        )

    planted = spark.table("documents").select(
        "doc_id",
        words(F.lit(0), (d % 6).cast("int")).alias("ref"),
        words(d % 3, (d % 5).cast("int")).alias("hyp"),
    )
    return rouge_n(planted, "ref", "hyp", n=2).orderBy("doc_id")


_ROUGE_ORACLE = """
WITH p AS (
  SELECT doc_id,
         list_transform(range(0, doc_id % 6 + 1),
           j -> 'w' || CAST((doc_id + j) % 7 AS VARCHAR)) AS tr,
         list_transform(range(0, doc_id % 5 + 1),
           j -> 'w' || CAST((doc_id + j + doc_id % 3) % 7 AS VARCHAR)) AS th
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(tr) >= 2 THEN list_transform(range(0, len(tr) - 1),
           j -> tr[j + 1] || ' ' || tr[j + 2]) ELSE [] END AS gr,
         CASE WHEN len(th) >= 2 THEN list_transform(range(0, len(th) - 1),
           j -> th[j + 1] || ' ' || th[j + 2]) ELSE [] END AS gh
  FROM p
), c AS (
  SELECT doc_id, len(gr) AS ref_grams, len(gh) AS hyp_grams,
         CAST(COALESCE(list_sum(list_transform(list_distinct(gh), t ->
              least(len(list_filter(gh, x -> x = t)),
                    len(list_filter(gr, x -> x = t))))), 0) AS DOUBLE)
           AS clip
  FROM g
), pr AS (
  SELECT doc_id, ref_grams, hyp_grams,
         clip / CASE WHEN hyp_grams > 0 THEN hyp_grams END AS p,
         clip / CASE WHEN ref_grams > 0 THEN ref_grams END AS r
  FROM c
)
SELECT doc_id, CAST(ref_grams AS BIGINT) AS ref_grams,
       CAST(hyp_grams AS BIGINT) AS hyp_grams,
       round(p, 6) + 0 AS precision,
       round(r, 6) + 0 AS recall,
       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
                  WHEN p IS NOT NULL AND r IS NOT NULL THEN 0.0
             END, 6) + 0 AS f1
FROM pr ORDER BY doc_id
"""

SPARK_IMPLS["text_rouge_overlap"] = q_text_rouge
ORACLES["text_rouge_overlap"] = _ROUGE_ORACLE


# ---------------------------------------------------------------------------
# round 10: packing-efficiency telemetry over the pack_sequences
# assignment (operators/packing.py::pack_stats) — the per-shard
# fill/overflow/skew report a training job checks before committing a
# pack layout. The oracle replays the pack (hash order + cum window)
# and both accounting groupBys.
# ---------------------------------------------------------------------------


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_stats over the same pack_sequences layout the
    pack_sequences row pins (budget 512, 8 shards): per shard the
    chunk count, doc/token volumes, fill_ratio against budget,
    overflow chunks (greedy no-split packing overflows by ≤1 doc),
    and the min/max chunk-token skew surface."""
    from hdk_spark.operators.packing import pack_sequences, pack_stats
    from hdk_spark.operators.text import token_count

    _tables(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(
        docs, "doc_id", "n_tokens", budget=512, n_shards=8, seed=0
    )
    return pack_stats(packed, budget=512)


_PACK_STATS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           AS n_tokens,
         {_hb_sql('doc_id', 1000000007, 0)} AS h,
         {_hb_sql('doc_id', 8, 1)} AS shard
  FROM documents
), packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(floor((SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens) / 512.0) AS BIGINT) AS chunk_id
  FROM toks
), chunks AS (
  SELECT shard, chunk_id, SUM(n_tokens) AS t, COUNT(*) AS d
  FROM packed GROUP BY shard, chunk_id
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(d) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS n_tokens,
       round(CAST(SUM(t) AS DOUBLE) / (COUNT(*) * 512.0), 6) + 0
         AS fill_ratio,
       CAST(SUM(CASE WHEN t > 512 THEN 1 ELSE 0 END) AS BIGINT)
         AS overflow_chunks,
       CAST(MAX(t) AS BIGINT) AS max_chunk_tokens,
       CAST(MIN(t) AS BIGINT) AS min_chunk_tokens
FROM chunks GROUP BY shard ORDER BY shard
"""

SPARK_IMPLS["pack_stats"] = q_pack_stats
ORACLES["pack_stats"] = _PACK_STATS_ORACLE


# ---------------------------------------------------------------------------
# round 10: scalar (int8) quantization — the ×4 embedding-lake shrink
# (per-dim affine SQ8, the simple high-recall companion of PQ).
# Exact-bounds training makes the WHOLE path SQL-replayable: unlike
# pq/ivf the oracle re-derives the trainer itself.
# ---------------------------------------------------------------------------


def q_similarity_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 end-to-end (operators/similarity.py::sq8_train/encode/
    topk): exact per-dim (min, max) bounds → int8 codes → dequantized
    brute-force cosine top-5 for queries [0, 1, 2]. The oracle
    re-derives bounds, codes, dequantization and the cosine ranking —
    train/encode/search all value-checked, no fixture constants."""
    from hdk_spark.operators.similarity import (
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    _tables(spark, sf_dir)
    emb = spark.table("embeddings")
    bounds = sq8_train(emb)
    coded = sq8_encode(emb, bounds)
    return sq8_topk(emb, [0, 1, 2], bounds, k=5, codes=coded)


_SQ8_ORACLE = f"""
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
flat AS (
  SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN dims d
), b AS (
  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY i
), deq AS (
  SELECT f.vec_id, f.i,
         b.lo + ((CASE WHEN b.hi > b.lo THEN
                    least(127, greatest(-128,
                      CAST(round(255.0 * (f.x - b.lo) / (b.hi - b.lo))
                           AS INT) - 128))
                  ELSE 0 END) + 128.0)
              * (CASE WHEN b.hi > b.lo THEN (b.hi - b.lo) / 255.0
                 ELSE 0.0 END) AS x
  FROM flat f JOIN b USING (i)
), v AS (
  SELECT vec_id AS id, list(x ORDER BY i) AS v FROM deq GROUP BY vec_id
), n AS (
  SELECT id, v, sqrt({_DOT.format(a='v', b='v')}) AS norm FROM v
), q AS (
  SELECT id AS qid, v AS qv, norm AS qnorm FROM n WHERE id IN (0, 1, 2)
), scored AS (
  SELECT q.qid, n.id AS neighbor_id,
         {_DOT.format(a='q.qv', b='n.v')} / (q.qnorm * n.norm) AS cos
  FROM q JOIN n ON n.id != q.qid
), ranked AS (
  SELECT qid, neighbor_id,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, neighbor_id) AS INT)
           AS rank,
         cos
  FROM scored
)
SELECT qid, neighbor_id, rank, round(cos, 6) + 0 AS cosine
FROM ranked WHERE rank <= 5
"""

SPARK_IMPLS["similarity_sq8_topk"] = q_similarity_sq8
ORACLES["similarity_sq8_topk"] = _SQ8_ORACLE


# ---------------------------------------------------------------------------
# round 11: the coded-lake × sub-linear-search composition — SQ8 codes
# fed straight into the multiprobe ANN kernel (dequantized inside via
# sq8_decode), i.e. the actual 100 TB configuration: ¼ the bytes
# scanned AND bucket-bounded candidates. The oracle composes the SQ8
# dequantization chain with the SAME _multiprobe_oracle machinery, so
# train, encode, decode, planes, buckets, probes and ranking are ALL
# value-checked end-to-end with no fixture constants.
# ---------------------------------------------------------------------------


def q_similarity_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8-coded corpus searched sub-linearly
    (operators/similarity.py::ann_multiprobe_topk(codes=, bounds=)):
    exact bounds → int8 codes → in-kernel dequantization → multiprobe
    top-5 for queries 0-4 (4 planes, 5 probes — same params as the
    float multiprobe row, so any mismatch isolates to the SQ8 leg)."""
    from hdk_spark.operators.similarity import (
        ann_multiprobe_topk,
        sq8_encode,
        sq8_train,
    )

    _tables(spark, sf_dir)
    emb = spark.table("embeddings")
    bounds = sq8_train(emb)
    coded = sq8_encode(emb, bounds)
    out = ann_multiprobe_topk(
        None, [0, 1, 2, 3, 4],
        k=5, n_planes=4, n_probes=5, codes=coded, bounds=bounds,
    )
    return _ordered(out, "qid", "rank")


_SQ8_DEQ_LEAD = """dims AS (SELECT unnest(range(1, 65)) AS i),
flat AS (
  SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN dims d
), bnd AS (
  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY i
), deqx AS (
  SELECT f.vec_id, f.i,
         bnd.lo + ((CASE WHEN bnd.hi > bnd.lo THEN
                      least(127, greatest(-128,
                        CAST(round(255.0 * (f.x - bnd.lo)
                                   / (bnd.hi - bnd.lo)) AS INT) - 128))
                    ELSE 0 END) + 128.0)
              * (CASE WHEN bnd.hi > bnd.lo
                 THEN (bnd.hi - bnd.lo) / 255.0 ELSE 0.0 END) AS x
  FROM flat f JOIN bnd ON bnd.i = f.i
), """

SPARK_IMPLS["similarity_sq8_ann"] = q_similarity_sq8_ann
ORACLES["similarity_sq8_ann"] = _multiprobe_oracle(
    lead_ctes=_SQ8_DEQ_LEAD,
    vsource="SELECT vec_id AS id, list(x ORDER BY i) AS v "
            "FROM deqx GROUP BY vec_id",
)


# ---------------------------------------------------------------------------
# round 10: bitext mining (Artetxe & Schwenk 2019 ratio margin — the
# CCMatrix/LASER parallel-corpus op). Candidates via the multiprobe
# sign-bucket machinery (never |src|·|tgt|); neighborhood averages
# micro-quantized; the oracle replays planes, buckets, probes,
# cosines, both top-k neighborhoods and the margin divide.
# ---------------------------------------------------------------------------


def q_similarity_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitext_mine between the even-id and odd-id halves of the
    embeddings table (k=4, threshold=1.0, 4 planes, 3 probes): the
    margin-best odd twin per even vector where the ratio margin
    clears 1. Fully value-checked — no fixture constants."""
    from hdk_spark.operators.similarity import bitext_mine

    _tables(spark, sf_dir)
    emb = spark.table("embeddings")
    return _ordered(bitext_mine(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=4, threshold=1.0, n_planes=4, n_probes=3, seed=7,
    ), "src_id")


def _bitext_oracle(
    k: int = 4, threshold: float = 1.0,
    n_planes: int = 4, n_probes: int = 3, seed: int = 7, dims: int = 64,
) -> str:
    from hdk_spark.operators.dedup import rademacher_planes

    planes = rademacher_planes(n_planes, dims, seed)

    def dot_plane(p):
        lit = "[" + ",".join("1.0" if c > 0 else "-1.0" for c in p) + "]"
        return _DOT.format(a="v", b=lit)

    dot_cols = ",\n         ".join(
        f"{dot_plane(p)} AS d{i}" for i, p in enumerate(planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN d{i} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    margin_rows = " UNION ALL ".join(
        f"SELECT id, abs(d{i}) AS m, {i} AS i, {1 << i} AS p2 FROM h "
        f"WHERE id % 2 = 0"
        for i in range(n_planes)
    )
    return f"""
WITH b AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), h0 AS (
  SELECT id, v, sqrt({_DOT.format(a='v', b='v')}) AS norm,
         {dot_cols}
  FROM b
), h AS (
  SELECT *, ({bucket}) AS bkt FROM h0
), m AS (
  SELECT id, i, p2,
         row_number() OVER (PARTITION BY id ORDER BY m, i) AS rn
  FROM ({margin_rows})
), probes AS (
  SELECT id AS qid, bkt AS pb FROM h WHERE id % 2 = 0
  UNION ALL
  SELECT m.id, xor(h.bkt, m.p2)
  FROM m JOIN h ON h.id = m.id
  WHERE m.rn <= {n_probes - 1}
), cand AS (
  SELECT DISTINCT p.qid, t.id AS tid
  FROM probes p JOIN h t ON t.bkt = p.pb AND t.id % 2 = 1
), scored AS (
  SELECT cand.qid, cand.tid,
         {_DOT.format(a='q.v', b='t.v')} / (q.norm * t.norm) AS cosine
  FROM cand
  JOIN h q ON q.id = cand.qid
  JOIN h t ON t.id = cand.tid
), ranked AS (
  SELECT qid, tid, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, tid) AS rq,
         row_number() OVER (PARTITION BY tid
                            ORDER BY cosine DESC, qid) AS rt
  FROM scored
), aq AS (
  SELECT qid,
         CAST(SUM(CAST(round(cosine * 1e9) AS HUGEINT)) AS DOUBLE)
           / COUNT(*) / 1e9 AS a
  FROM ranked WHERE rq <= {k} GROUP BY qid
), at AS (
  SELECT tid,
         CAST(SUM(CAST(round(cosine * 1e9) AS HUGEINT)) AS DOUBLE)
           / COUNT(*) / 1e9 AS a
  FROM ranked WHERE rt <= {k} GROUP BY tid
), margined AS (
  SELECT r.qid, r.tid, r.cosine,
         r.cosine / ((aq.a + at.a) / 2.0) AS marg
  FROM ranked r JOIN aq USING (qid) JOIN at USING (tid)
), best AS (
  SELECT qid, tid, cosine, marg,
         row_number() OVER (PARTITION BY qid
                            ORDER BY marg DESC, tid) AS rb
  FROM margined
)
SELECT qid AS src_id, tid AS tgt_id,
       round(cosine, 6) + 0 AS cosine,
       round(marg, 6) + 0 AS margin
FROM best WHERE rb = 1 AND marg >= {threshold}
ORDER BY src_id
"""


SPARK_IMPLS["similarity_bitext_mine"] = q_similarity_bitext
ORACLES["similarity_bitext_mine"] = _bitext_oracle()


# ---------------------------------------------------------------------------
# round 11: DDSketch + KMV — the two sketch families that complete the
# merge-not-rescan set (quantiles; distinct samples / set operations).
# DDSketch's binary-interpolated mapping is exact IEEE arithmetic after
# a log2 seed whose ±1-ulp platform wiggle is repaired by power-of-two
# comparisons, so the oracle replays every bucket cell bit-for-bit; the
# KMV rows ride the md5 base-hash discipline (same as CMS/minhash).
# ---------------------------------------------------------------------------


def q_stats_dds_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch build + quantile query (operators/sketches.py::
    dds_build/dds_quantile, m=64 → relative error ≤ 1/128) over
    lineitem.l_extendedprice; emits (q, est, n) for six quantiles.
    The oracle re-derives the full pipeline in SQL: corrected binary
    exponent, sub-bucket, bucket counts, the cumulative walk and the
    rank-⌊q·(n−1)⌋+1 bucket midpoint — no fixture constants."""
    from hdk_spark.operators.sketches import dds_build, dds_quantile

    _tables(spark, sf_dir)
    sk = dds_build(spark.table("lineitem"), "l_extendedprice", m=64)
    return dds_quantile(sk, [0.01, 0.25, 0.5, 0.75, 0.9, 0.99], m=64)


_DDS_CELLS_SQL = """
seed AS (SELECT x, CAST(floor(log2(x)) AS BIGINT) AS b0 FROM src),
fixed AS (
  SELECT x, CASE WHEN pow(2.0, b0 + 1) <= x THEN b0 + 1
                 WHEN pow(2.0, b0) > x THEN b0 - 1
                 ELSE b0 END AS b
  FROM seed),
cells AS (
  SELECT b, CAST(floor((x / pow(2.0, b) - 1.0) * 64.0) AS BIGINT) AS j,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM fixed GROUP BY 1, 2)
"""

_DDS_QUANTILE_ORACLE = f"""
WITH src AS (SELECT l_extendedprice AS x FROM lineitem),
{_DDS_CELLS_SQL},
cum AS (SELECT b, j, c,
               SUM(c) OVER (ORDER BY b, j ROWS UNBOUNDED PRECEDING) AS cum
        FROM cells),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
qs AS (SELECT CAST(unnest([0.01, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q),
tgt AS (SELECT q, n, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS t
        FROM qs CROSS JOIN n)
SELECT q, round(pow(2.0, b) * (1.0 + (j + 0.5) / 64.0), 6) + 0 AS est, n
FROM tgt JOIN cum ON cum.cum >= tgt.t AND cum.cum - cum.c < tgt.t
ORDER BY q
"""

SPARK_IMPLS["stats_dds_quantile"] = q_stats_dds_quantile
ORACLES["stats_dds_quantile"] = _DDS_QUANTILE_ORACLE


def q_stats_dds_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch mergeability, cross-engine: Spark builds TWO sketches
    on l_orderkey-parity slices of lineitem and dds_merge's them; the
    oracle builds ONE sketch over the whole table in SQL. They must
    agree cell-for-cell (counter sums are linear — the 'fully
    mergeable' law of Masson et al. 2019), so the value hash pins the
    merge path itself, not just its consumers. Emits every (store, b,
    j, c) bucket, ordered."""
    from hdk_spark.operators.sketches import dds_build, dds_merge

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    merged = dds_merge(
        dds_build(li.filter("l_orderkey % 2 = 0"), "l_extendedprice", m=64),
        dds_build(li.filter("l_orderkey % 2 = 1"), "l_extendedprice", m=64),
    )
    return merged.orderBy("store", "b", "j")


_DDS_MERGE_ORACLE = f"""
WITH src AS (SELECT l_extendedprice AS x FROM lineitem),
{_DDS_CELLS_SQL}
SELECT CAST(1 AS INT) AS store, b, j, c
FROM cells ORDER BY store, b, j
"""

SPARK_IMPLS["stats_dds_merge"] = q_stats_dds_merge
ORACLES["stats_dds_merge"] = _DDS_MERGE_ORACLE


_KMV_H = "CAST(('0x' || substr(md5({v}), 1, 8)) AS BIGINT)"


def q_stats_dds_group_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group DDSketch quantiles (operators/sketches.py::
    dds_build_by_group → dds_quantile_by_group, m=64): MERGEABLE
    per-group percentiles — approx_percentile's GROUP BY digests are
    per-query, these bucket relations are stored per ingest slice and
    merged per (grp, store, b, j) without re-reading rows. The
    planted measure exercises all three stores in EVERY returnflag
    group (l_extendedprice magnitudes, an orderkey%11 negative
    stripe, an orderkey%13 zero stripe). The oracle replays the whole
    per-group machinery: sign routing, the corrected binary exponent,
    sub-buckets, the value-ordered cumulative walk PARTITIONED BY
    GROUP and each group's rank-⌊q·(n−1)⌋+1 midpoint."""
    from hdk_spark.operators.sketches import (
        dds_build_by_group, dds_quantile_by_group,
    )

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    x = (
        F.when(F.col("l_orderkey") % 13 == 7, F.lit(0.0))
        .when(F.col("l_orderkey") % 11 == 3, -F.col("l_extendedprice"))
        .otherwise(F.col("l_extendedprice"))
    )
    src = li.select(F.col("l_returnflag").alias("g"), x.alias("x"))
    sk = dds_build_by_group(src, "g", "x", m=64)
    return dds_quantile_by_group(sk, [0.1, 0.5, 0.9], m=64)


_DDS_GROUP_QUANTILE_ORACLE = """
WITH src AS (
  SELECT l_returnflag AS grp,
         CASE WHEN l_orderkey % 13 = 7 THEN 0.0
              WHEN l_orderkey % 11 = 3 THEN -l_extendedprice
              ELSE l_extendedprice END AS x
  FROM lineitem
), routed AS (
  SELECT grp,
         CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS store,
         ABS(x) AS ax
  FROM src WHERE x IS NOT NULL
), seed AS (
  SELECT grp, store, ax, CAST(floor(log2(ax)) AS BIGINT) AS b0
  FROM routed WHERE store <> 0
), fixed AS (
  SELECT grp, store, ax,
         CASE WHEN pow(2.0, b0 + 1) <= ax THEN b0 + 1
              WHEN pow(2.0, b0) > ax THEN b0 - 1
              ELSE b0 END AS b
  FROM seed
), cells AS (
  SELECT grp, store, b,
         CAST(floor((ax / pow(2.0, b) - 1.0) * 64.0) AS BIGINT) AS j,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM fixed GROUP BY 1, 2, 3, 4
  UNION ALL
  SELECT grp, 0, 0, 0, CAST(COUNT(*) AS BIGINT)
  FROM routed WHERE store = 0 GROUP BY grp HAVING COUNT(*) > 0
), cum AS (
  SELECT grp, store, b, j, c,
         SUM(c) OVER (
           PARTITION BY grp
           ORDER BY store,
                    CASE WHEN store = -1 THEN -b ELSE b END,
                    CASE WHEN store = -1 THEN -j ELSE j END
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells
), n AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY grp),
qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9]) AS DOUBLE) AS q),
tgt AS (SELECT grp, q, n, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS t
        FROM n CROSS JOIN qs)
SELECT tgt.grp, q,
       round(CASE WHEN store = 0 THEN 0.0
                  ELSE store * pow(2.0, b) * (1.0 + (j + 0.5) / 64.0)
             END, 6) + 0 AS est,
       n
FROM tgt JOIN cum ON cum.grp = tgt.grp
                 AND cum.cum >= tgt.t AND cum.cum - cum.c < tgt.t
ORDER BY tgt.grp, q
"""

SPARK_IMPLS["stats_dds_group_quantile"] = q_stats_dds_group_quantile
ORACLES["stats_dds_group_quantile"] = _DDS_GROUP_QUANTILE_ORACLE


def q_stats_kmv_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-count pipeline (operators/sketches.py::
    kmv_summary/kmv_merge/kmv_ndv, k=128, hash_basis='md5'): two
    l_orderkey-parity slice summaries of a planted ~4096-distinct
    column, merged, then the Beyer et al. 2007 (k−1)/u_k estimate —
    alongside the EXACT distinct count so the error band is visible
    in the row itself. The oracle replays distinct → md5 bottom-k per
    slice → bottom-k of the union → the estimator division."""
    from hdk_spark.operators.sketches import kmv_merge, kmv_ndv, kmv_summary

    _tables(spark, sf_dir)
    src = spark.table("lineitem").select(
        F.concat(F.lit("u"), (F.col("l_orderkey") % 4096).cast("string"))
        .alias("v"),
        (F.col("l_orderkey") % 2).alias("p"),
    )
    kw = dict(k=128, hash_basis="md5")
    merged = kmv_merge(
        kmv_summary(src.filter("p = 0"), "v", **kw),
        kmv_summary(src.filter("p = 1"), "v", **kw),
        k=128,
    )
    truth = src.agg(F.countDistinct("v").cast("long").alias("ndv_true"))
    return kmv_ndv(merged, **kw).crossJoin(F.broadcast(truth))


_KMV_NDV_ORACLE = f"""
WITH src AS (SELECT 'u' || CAST(l_orderkey % 4096 AS VARCHAR) AS item,
                    l_orderkey % 2 AS p
             FROM lineitem),
s0 AS (SELECT h, MIN(item) AS item FROM (
         SELECT {_KMV_H.format(v='item')} AS h, item
         FROM (SELECT DISTINCT item FROM src WHERE p = 0)) GROUP BY h
       ORDER BY h LIMIT 128),
s1 AS (SELECT h, MIN(item) AS item FROM (
         SELECT {_KMV_H.format(v='item')} AS h, item
         FROM (SELECT DISTINCT item FROM src WHERE p = 1)) GROUP BY h
       ORDER BY h LIMIT 128),
m AS (SELECT h, MIN(item) AS item
      FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
      GROUP BY h ORDER BY h LIMIT 128)
SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
       round(CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE 127.0 / MAX(h / 4294967296.0) END, 4) + 0 AS ndv_est,
       (SELECT CAST(COUNT(DISTINCT item) AS BIGINT) FROM src) AS ndv_true
FROM m
"""

SPARK_IMPLS["stats_kmv_ndv"] = q_stats_kmv_ndv
ORACLES["stats_kmv_ndv"] = _KMV_NDV_ORACLE


def q_stats_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-Jaccard from KMV summaries ALONE (Beyer et al. 2007 §5 —
    bottom-k sketches are closed under set ops): two planted value
    sets with true overlap |A∩B|/|A∪B| = 1/3, compared via their
    k=128 summaries; the exact Jaccard rides along so the estimate's
    error is visible. The oracle replays both summaries, the bottom-k
    of their union, the two membership probes and the division."""
    from hdk_spark.operators.sketches import kmv_jaccard, kmv_summary

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    a = li.select(
        F.concat(F.lit("x"), (F.col("l_orderkey") % 2400).cast("string"))
        .alias("v"))
    b = li.select(
        F.concat(F.lit("x"),
                 (F.lit(1200) + F.col("l_orderkey") % 2400).cast("string"))
        .alias("v"))
    kw = dict(k=128, hash_basis="md5")
    est = kmv_jaccard(kmv_summary(a, "v", **kw), kmv_summary(b, "v", **kw),
                      k=128)
    truth = (
        a.intersect(b).agg(F.count(F.lit(1)).alias("__ni"))
        .crossJoin(
            a.union(b).distinct().agg(F.count(F.lit(1)).alias("__nu")))
        .select(F.round(F.col("__ni") / F.col("__nu"), 4)
                .alias("jaccard_true"))
    )
    return _attach_caches(est.crossJoin(F.broadcast(truth)).select(
        "n_k", "n_inter", "jaccard_est", "jaccard_true"), _caches_of(est))


_KMV_JACCARD_ORACLE = f"""
WITH a AS (SELECT DISTINCT 'x' || CAST(l_orderkey % 2400 AS VARCHAR) AS item
           FROM lineitem),
b AS (SELECT DISTINCT 'x' || CAST(1200 + l_orderkey % 2400 AS VARCHAR) AS item
      FROM lineitem),
sa AS (SELECT h FROM (SELECT {_KMV_H.format(v='item')} AS h, MIN(item)
       FROM a GROUP BY h) ORDER BY h LIMIT 128),
sb AS (SELECT h FROM (SELECT {_KMV_H.format(v='item')} AS h, MIN(item)
       FROM b GROUP BY h) ORDER BY h LIMIT 128),
kk AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
       ORDER BY h LIMIT 128),
i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_inter FROM kk
      WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
tru AS (SELECT round(
          (SELECT COUNT(*) FROM a WHERE item IN (SELECT item FROM b))
          / (SELECT COUNT(*) FROM (SELECT item FROM a UNION SELECT item FROM b)),
          4) + 0 AS jaccard_true)
SELECT CAST((SELECT COUNT(*) FROM kk) AS BIGINT) AS n_k, n_inter,
       round(n_inter / (SELECT COUNT(*) FROM kk), 4) + 0 AS jaccard_est,
       jaccard_true
FROM i CROSS JOIN tru
"""

SPARK_IMPLS["stats_kmv_jaccard"] = q_stats_kmv_jaccard
ORACLES["stats_kmv_jaccard"] = _KMV_JACCARD_ORACLE


def q_stats_kmv_set_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multiset algebra from two KMV summaries ALONE (operators/
    sketches.py::kmv_set_stats — Beyer et al. 2007 §5): union NDV,
    intersection NDV, per-side NDVs and BOTH containments from two
    k=128 relations, no corpus access. The planted sets are
    asymmetric (|A|=2400-domain, |B|=1800-domain shifted by 1200) so
    the two containments genuinely differ — the directional question
    Jaccard can't answer. Exact containment truths ride along. The
    oracle replays both summaries, the bottom-k union, the membership
    flags, every (k−1)/u_k estimator, the ρ·D̂_union intersection and
    both divisions."""
    from hdk_spark.operators.sketches import kmv_set_stats, kmv_summary

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    a = li.select(
        F.concat(F.lit("x"), (F.col("l_orderkey") % 2400).cast("string"))
        .alias("v"))
    b = li.select(
        F.concat(F.lit("x"),
                 (F.lit(1200) + F.col("l_orderkey") % 1800).cast("string"))
        .alias("v"))
    kw = dict(k=128, hash_basis="md5")
    est = kmv_set_stats(kmv_summary(a, "v", **kw), kmv_summary(b, "v", **kw),
                        **kw)
    ni = a.intersect(b).agg(F.count(F.lit(1)).alias("__ni"))
    na = a.distinct().agg(F.count(F.lit(1)).alias("__na"))
    nb = b.distinct().agg(F.count(F.lit(1)).alias("__nb"))
    truth = ni.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb)).select(
        F.round(F.col("__ni") / F.col("__na"), 4).alias("cont_a_true"),
        F.round(F.col("__ni") / F.col("__nb"), 4).alias("cont_b_true"),
    )
    return _attach_caches(est.crossJoin(F.broadcast(truth)), _caches_of(est))


_KMV_SET_STATS_ORACLE = f"""
WITH a AS (SELECT DISTINCT 'x' || CAST(l_orderkey % 2400 AS VARCHAR) AS item
           FROM lineitem),
b AS (SELECT DISTINCT 'x' || CAST(1200 + l_orderkey % 1800 AS VARCHAR) AS item
      FROM lineitem),
sa AS (SELECT h FROM (SELECT {_KMV_H.format(v='item')} AS h, MIN(item)
       FROM a GROUP BY h) ORDER BY h LIMIT 128),
sb AS (SELECT h FROM (SELECT {_KMV_H.format(v='item')} AS h, MIN(item)
       FROM b GROUP BY h) ORDER BY h LIMIT 128),
kk AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
       ORDER BY h LIMIT 128),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_k,
                 CAST(SUM(CASE WHEN h IN (SELECT h FROM sa)
                               AND h IN (SELECT h FROM sb)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
                 MAX(h / 4294967296.0) AS uk
          FROM kk),
pa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a, MAX(h / 4294967296.0) AS uka
       FROM sa),
pb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b, MAX(h / 4294967296.0) AS ukb
       FROM sb),
est AS (SELECT n_k, n_inter,
               CASE WHEN n_k < 128 THEN CAST(n_k AS DOUBLE)
                    ELSE 127.0 / uk END AS eu,
               CASE WHEN n_a < 128 THEN CAST(n_a AS DOUBLE)
                    ELSE 127.0 / uka END AS ea,
               CASE WHEN n_b < 128 THEN CAST(n_b AS DOUBLE)
                    ELSE 127.0 / ukb END AS eb,
               n_a, n_b
        FROM stats CROSS JOIN pa CROSS JOIN pb),
tru AS (SELECT round(
          (SELECT COUNT(*) FROM a WHERE item IN (SELECT item FROM b))
          / (SELECT COUNT(*) FROM a), 4) + 0 AS cont_a_true,
        round(
          (SELECT COUNT(*) FROM a WHERE item IN (SELECT item FROM b))
          / (SELECT COUNT(*) FROM b), 4) + 0 AS cont_b_true)
SELECT n_k, n_inter,
       round(eu, 4) + 0 AS ndv_union,
       round((n_inter / n_k) * eu, 4) + 0 AS ndv_inter,
       round(ea, 4) + 0 AS ndv_a,
       round(eb, 4) + 0 AS ndv_b,
       CASE WHEN n_a > 0
            THEN round(((n_inter / n_k) * eu) / ea, 4) + 0 END
         AS containment_a_in_b,
       CASE WHEN n_b > 0
            THEN round(((n_inter / n_k) * eu) / eb, 4) + 0 END
         AS containment_b_in_a,
       round(n_inter / n_k, 4) + 0 AS jaccard_est,
       cont_a_true, cont_b_true
FROM est CROSS JOIN tru
"""

SPARK_IMPLS["stats_kmv_set_stats"] = q_stats_kmv_set_stats
ORACLES["stats_kmv_set_stats"] = _KMV_SET_STATS_ORACLE


def q_stats_kmv_group_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct-count pipeline (operators/sketches.py::
    kmv_by_group → kmv_ndv_by_group, k=128, md5): "distinct values
    per group" sketched in ONE corpus pass with k rows of state per
    group — no per-group TakeOrdered jobs, no Window over the
    distinct relation (the salted two-phase bottom-k). The planted
    value domain is returnflag-dependent (90 for 'A', 3000
    otherwise), so group A exercises the exact below-k branch while
    N/R exercise the (k−1)/u_k estimator in the same relation; exact
    per-group NDV rides along. The oracle replays per-group distinct
    → md5 bottom-k (a row_number window is FINE in the oracle — it
    states semantics, not the execution strategy) → the estimator."""
    from hdk_spark.operators.sketches import kmv_by_group, kmv_ndv_by_group

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    dom = F.when(F.col("l_returnflag") == "A", F.lit(90)).otherwise(
        F.lit(3000))
    src = li.select(
        F.col("l_returnflag").alias("g"),
        F.concat(
            F.lit("u"),
            ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % dom)
            .cast("string"),
        ).alias("v"),
    )
    kw = dict(k=128, hash_basis="md5")
    est = kmv_ndv_by_group(kmv_by_group(src, "g", "v", **kw), **kw)
    truth = src.groupBy(F.col("g").alias("grp")).agg(
        F.countDistinct("v").cast("long").alias("ndv_true"))
    return est.join(truth, "grp")


_KMV_GROUP_NDV_ORACLE = f"""
WITH src AS (SELECT l_returnflag AS grp,
                    'u' || CAST((l_orderkey * 7 + l_linenumber) %
                      (CASE WHEN l_returnflag = 'A' THEN 90 ELSE 3000 END)
                      AS VARCHAR) AS item
             FROM lineitem),
d AS (SELECT grp, h, MIN(item) AS item FROM (
        SELECT grp, {_KMV_H.format(v='item')} AS h, item
        FROM (SELECT DISTINCT grp, item FROM src)) GROUP BY grp, h),
s AS (SELECT grp, h FROM (
        SELECT grp, h,
               row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM d)
      WHERE rn <= 128),
est AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_kept,
               round(CASE WHEN COUNT(*) < 128
                          THEN CAST(COUNT(*) AS DOUBLE)
                          ELSE 127.0 / MAX(h / 4294967296.0) END, 4) + 0
                 AS ndv_est
        FROM s GROUP BY grp),
tru AS (SELECT grp, CAST(COUNT(DISTINCT item) AS BIGINT) AS ndv_true
        FROM src GROUP BY grp)
SELECT est.grp, n_kept, ndv_est, ndv_true
FROM est JOIN tru USING (grp)
"""

SPARK_IMPLS["stats_kmv_group_ndv"] = q_stats_kmv_group_ndv
ORACLES["stats_kmv_group_ndv"] = _KMV_GROUP_NDV_ORACLE


def q_stats_kmv_group_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV mergeability, cross-engine (operators/sketches.py
    ::kmv_merge_by_group): Spark builds kmv_by_group on l_orderkey-
    parity SLICES of lineitem and merges them; the oracle builds ONE
    per-group bottom-k over the whole table. By the bottom-k closure
    property (within each group, any of the union's k smallest
    distinct hashes is among the k smallest of whichever slice holds
    it) they must agree ROW-FOR-ROW — the value hash pins the
    per-group merge law itself, not just its consumers. Emits every
    (grp, h, item), ordered."""
    from hdk_spark.operators.sketches import kmv_by_group, kmv_merge_by_group

    _tables(spark, sf_dir)
    li = spark.table("lineitem")
    src = li.select(
        F.col("l_returnflag").alias("g"),
        F.concat(F.lit("m"),
                 ((F.col("l_orderkey") * 11 + F.col("l_linenumber")) % 2000)
                 .cast("string")).alias("v"),
        (F.col("l_orderkey") % 2).alias("p"),
    )
    kw = dict(k=96, hash_basis="md5")
    merged = kmv_merge_by_group(
        kmv_by_group(src.filter("p = 0"), "g", "v", **kw),
        kmv_by_group(src.filter("p = 1"), "g", "v", **kw),
        k=96,
    )
    return merged.orderBy("grp", "h")


_KMV_GROUP_MERGE_ORACLE = f"""
WITH src AS (SELECT l_returnflag AS grp,
                    'm' || CAST((l_orderkey * 11 + l_linenumber) % 2000
                                AS VARCHAR) AS item
             FROM lineitem),
d AS (SELECT grp, h, MIN(item) AS item FROM (
        SELECT grp, {_KMV_H.format(v='item')} AS h, item
        FROM (SELECT DISTINCT grp, item FROM src)) GROUP BY grp, h)
SELECT grp, h, item FROM (
  SELECT grp, h, item,
         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM d)
WHERE rn <= 96
ORDER BY grp, h
"""

SPARK_IMPLS["stats_kmv_group_merge"] = q_stats_kmv_group_merge
ORACLES["stats_kmv_group_merge"] = _KMV_GROUP_MERGE_ORACLE


def q_streaming_dds_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_dds (streaming.py — the
    batch DDSketch bucket relation as a streaming aggregation, state
    bounded at the bucket count) in complete mode, then quantile-
    queried from the COMPLETED table. The planted measure exercises
    all three stores (positive n_chars-derived magnitudes, a
    doc_id%11 negative stripe, a doc_id%13 zero stripe); the oracle
    replays the full-history build — sign routing, corrected binary
    exponent, sub-buckets, the value-ordered cumulative walk and the
    rank-⌊q·(n−1)⌋+1 midpoints — which is exactly the streaming-
    state-update == dds_merge property this row pins."""
    from hdk_spark.operators.sketches import dds_quantile
    from hdk_spark.streaming import stream_dds

    _tables(spark, sf_dir)
    mag = F.col("n_chars").cast("double") * (
        F.lit(1.0) + (F.col("doc_id") % 7).cast("double") / F.lit(8.0))
    x = (
        F.when(F.col("doc_id") % 13 == 7, F.lit(0.0))
        .when(F.col("doc_id") % 11 == 3, -mag)
        .otherwise(mag)
    )
    stream = _documents_stream(spark, sf_dir).select(x.alias("x"))
    name = _run_stream(stream_dds(stream, "x", m=64), "complete")
    return dds_quantile(spark.table(name), [0.1, 0.25, 0.5, 0.75, 0.9],
                        m=64)


_STREAM_DDS_ORACLE = """
WITH src AS (
  SELECT CASE WHEN doc_id % 13 = 7 THEN 0.0
              WHEN doc_id % 11 = 3
                THEN -(CAST(n_chars AS DOUBLE)
                       * (1.0 + CAST(doc_id % 7 AS DOUBLE) / 8.0))
              ELSE CAST(n_chars AS DOUBLE)
                   * (1.0 + CAST(doc_id % 7 AS DOUBLE) / 8.0)
         END AS x
  FROM documents
), routed AS (
  SELECT CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS store,
         ABS(x) AS ax
  FROM src WHERE x IS NOT NULL
), seed AS (
  SELECT store, ax, CAST(floor(log2(ax)) AS BIGINT) AS b0
  FROM routed WHERE store <> 0
), fixed AS (
  SELECT store, ax,
         CASE WHEN pow(2.0, b0 + 1) <= ax THEN b0 + 1
              WHEN pow(2.0, b0) > ax THEN b0 - 1
              ELSE b0 END AS b
  FROM seed
), cells AS (
  SELECT store, b,
         CAST(floor((ax / pow(2.0, b) - 1.0) * 64.0) AS BIGINT) AS j,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM fixed GROUP BY 1, 2, 3
  UNION ALL
  SELECT 0, 0, 0, CAST(COUNT(*) AS BIGINT)
  FROM routed WHERE store = 0 HAVING COUNT(*) > 0
), cum AS (
  SELECT store, b, j, c,
         SUM(c) OVER (
           ORDER BY store,
                    CASE WHEN store = -1 THEN -b ELSE b END,
                    CASE WHEN store = -1 THEN -j ELSE j END
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells
), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
qs AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q),
tgt AS (SELECT q, n, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS t
        FROM qs CROSS JOIN n)
SELECT q,
       round(CASE WHEN store = 0 THEN 0.0
                  ELSE store * pow(2.0, b) * (1.0 + (j + 0.5) / 64.0)
             END, 6) + 0 AS est,
       n
FROM tgt JOIN cum ON cum.cum >= tgt.t AND cum.cum - cum.c < tgt.t
ORDER BY q
"""

SPARK_IMPLS["streaming_dds_quantile"] = q_streaming_dds_quantile
ORACLES["streaming_dds_quantile"] = _STREAM_DDS_ORACLE


def q_streaming_kmv_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_kmv (streaming.py — sharded
    bottom-k KMV state, ≤ n_shards·k (h, item) pairs for an unbounded
    stream; the LAST streaming twin in the mergeable-sketch set),
    shards' latest emissions merged with kmv_merge, then the Beyer
    et al. 2007 (k−1)/u_k estimate beside the exact distinct count.
    Planted ~997-distinct value >> k=64 so the estimator branch (not
    the exact-below-k branch) is what's value-checked at every SF.
    The oracle replays the GLOBAL distinct → md5 bottom-64 → estimator
    chain directly — valid precisely because merged per-shard bottom-k
    == global bottom-k exactly (the closure property the operator's
    multi-batch test pins), with no dependence on micro-batch splits."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import kmv_merge, kmv_ndv
    from hdk_spark.streaming import stream_kmv

    _tables(spark, sf_dir)
    v = F.concat(F.lit("u"), (F.col("doc_id") % 997).cast("string"))
    stream = _documents_stream(spark, sf_dir).select(v.alias("v"))
    name = _run_stream(
        stream_kmv(stream, "v", k=64, n_shards=4, hash_basis="md5"),
        "update",
    )
    latest = (
        spark.table(name)
        .withColumn("__m", F.max("n_seen").over(Window.partitionBy("shard")))
        .filter(F.col("n_seen") == F.col("__m"))
    )
    merged = kmv_merge(latest.select("h", "item"), k=64)
    truth = spark.table("documents").agg(
        F.countDistinct(F.col("doc_id") % 997).cast("long")
        .alias("ndv_true"))
    return kmv_ndv(merged, k=64, hash_basis="md5").crossJoin(
        F.broadcast(truth))


_STREAM_KMV_ORACLE = f"""
WITH src AS (SELECT 'u' || CAST(doc_id % 997 AS VARCHAR) AS item
             FROM documents WHERE doc_id IS NOT NULL),
m AS (SELECT h, MIN(item) AS item FROM (
        SELECT {_KMV_H.format(v='item')} AS h, item
        FROM (SELECT DISTINCT item FROM src)) GROUP BY h
      ORDER BY h LIMIT 64)
SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
       round(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE 63.0 / MAX(h / 4294967296.0) END, 4) + 0 AS ndv_est,
       (SELECT CAST(COUNT(DISTINCT doc_id % 997) AS BIGINT)
        FROM documents WHERE doc_id IS NOT NULL) AS ndv_true
FROM m
"""

SPARK_IMPLS["streaming_kmv_ndv"] = q_streaming_kmv_ndv
ORACLES["streaming_kmv_ndv"] = _STREAM_KMV_ORACLE


def q_streaming_kmv_group_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_kmv_by_group (streaming.py —
    per-GROUP bottom-k KMV state, ≤ k (h, item) pairs per group; the
    streaming twin of this round's kmv_by_group), the groups' latest
    emissions fed to kmv_ndv_by_group UNCHANGED (each group's
    emission IS a kmv_by_group relation), beside exact per-group
    distinct counts. Groups = the documents lang column; planted
    value doc_id % 211 keeps every lang group above k=48 at every SF,
    so the estimator branch is what's value-checked. The oracle
    replays per-group distinct → md5 bottom-48 → (k−1)/u_k directly —
    valid because each group's streamed bottom-k equals its history
    bottom-k exactly (per-group closure, pinned by the operator's
    forced multi-batch test), independent of micro-batch splits."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import kmv_ndv_by_group
    from hdk_spark.streaming import stream_kmv_by_group

    _tables(spark, sf_dir)
    stream = _documents_stream(spark, sf_dir).select(
        F.col("lang").alias("g"),
        F.concat(F.lit("u"), (F.col("doc_id") % 211).cast("string"))
        .alias("v"),
    )
    name = _run_stream(
        stream_kmv_by_group(stream, "g", "v", k=48, hash_basis="md5"),
        "update",
    )
    latest = (
        spark.table(name)
        .withColumn("__m", F.max("n_seen").over(Window.partitionBy("grp")))
        .filter(F.col("n_seen") == F.col("__m"))
        .select("grp", "h", "item")
    )
    truth = spark.table("documents").groupBy(
        F.col("lang").alias("grp")).agg(
        F.countDistinct(F.col("doc_id") % 211).cast("long")
        .alias("ndv_true"))
    return kmv_ndv_by_group(latest, k=48, hash_basis="md5").join(
        truth, "grp")


_STREAM_KMV_GROUP_ORACLE = f"""
WITH src AS (SELECT lang AS grp,
                    'u' || CAST(doc_id % 211 AS VARCHAR) AS item
             FROM documents
             WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
d AS (SELECT grp, h, MIN(item) AS item FROM (
        SELECT grp, {_KMV_H.format(v='item')} AS h, item
        FROM (SELECT DISTINCT grp, item FROM src)) GROUP BY grp, h),
s AS (SELECT grp, h FROM (
        SELECT grp, h,
               row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM d)
      WHERE rn <= 48),
est AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_kept,
               round(CASE WHEN COUNT(*) < 48
                          THEN CAST(COUNT(*) AS DOUBLE)
                          ELSE 47.0 / MAX(h / 4294967296.0) END, 4) + 0
                 AS ndv_est
        FROM s GROUP BY grp),
tru AS (SELECT grp, CAST(COUNT(DISTINCT item) AS BIGINT) AS ndv_true
        FROM src GROUP BY grp)
SELECT est.grp, n_kept, ndv_est, ndv_true
FROM est JOIN tru USING (grp)
"""

SPARK_IMPLS["streaming_kmv_group_ndv"] = q_streaming_kmv_group_ndv
ORACLES["streaming_kmv_group_ndv"] = _STREAM_KMV_GROUP_ORACLE


# ---------------------------------------------------------------------------
# round 13: per-group streaming Misra-Gries — "hot items per domain,
# live". stream_frequent_items_by_group keeps ONE MG summary of ≤ k
# counters per (grp, shard) as applyInPandasWithState state (total
# state ≤ groups·n_shards·k), the streaming twin of
# mg_summary_by_group, completing the per-group streaming pair beside
# stream_kmv_by_group. The single-file availableNow source makes the
# run ONE micro-batch, so the emission equals the batch
# mg_summary_by_group relation bit-for-bit for non-NULL groups (the
# stream drops NULL groups — the documented divergence; the oracle
# filters to match), which the oracle replays per (grp, shard): md5
# shards, exact per-cell counts, the rank-(k+1) median subtraction,
# the positive filter, NULL-item accounting rows via the right join.
# ---------------------------------------------------------------------------


def q_streaming_mg_group_tops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_frequent_items_by_group
    (streaming.py — per-(grp, shard) MG state): groups = lang, planted
    item = doc_id % 29 (29 distinct per group over 4 shards ≈ 7 per
    cell >> k=3, so trims fire in every group and trimmed counts are
    value-checked, not just survivors)."""
    from hdk_spark.streaming import stream_frequent_items_by_group

    _tables(spark, sf_dir)
    stream = _documents_stream(spark, sf_dir).select(
        F.col("lang").alias("g"),
        F.concat(F.lit("i"), (F.col("doc_id") % 29).cast("string"))
        .alias("v"),
    )
    name = _run_stream(
        stream_frequent_items_by_group(stream, "g", "v", k=3, n_shards=4,
                                       hash_basis="md5"),
        "update",
    )
    return spark.table(name).orderBy("grp", "shard", "item")


_STREAM_MG_GROUP_ORACLE = """
WITH src AS (
  SELECT lang AS grp, 'i' || CAST(doc_id % 29 AS VARCHAR) AS item
  FROM documents
  WHERE lang IS NOT NULL AND doc_id IS NOT NULL
), h AS (
  SELECT grp, item,
         CAST(CAST(('0x' || substr(md5(item), 1, 8)) AS BIGINT) % 4 AS INT)
           AS shard
  FROM src
), cnt AS (
  SELECT grp, shard, item, CAST(COUNT(*) AS BIGINT) AS c
  FROM h GROUP BY 1, 2, 3
), totals AS (
  SELECT grp, shard, CAST(SUM(c) AS BIGINT) AS n_shard
  FROM cnt GROUP BY 1, 2
), rk AS (
  SELECT grp, shard, item, c,
         row_number()
           OVER (PARTITION BY grp, shard ORDER BY c DESC, item) AS rn
  FROM cnt
), med AS (
  SELECT grp, shard, MAX(CASE WHEN rn = 4 THEN c END) AS m
  FROM rk GROUP BY 1, 2
), surv AS (
  SELECT r.grp, r.shard, r.item,
         CAST(r.c - COALESCE(m.m, 0) AS BIGINT) AS cnt
  FROM rk r JOIN med m USING (grp, shard)
  WHERE r.c - COALESCE(m.m, 0) > 0
)
SELECT t.grp, t.shard, s.item, s.cnt, t.n_shard
FROM totals t LEFT JOIN surv s USING (grp, shard)
ORDER BY grp, shard, item
"""

SPARK_IMPLS["streaming_mg_group_tops"] = q_streaming_mg_group_tops
ORACLES["streaming_mg_group_tops"] = _STREAM_MG_GROUP_ORACLE


# ---------------------------------------------------------------------------
# round 13: per-group streaming DDSketch — the LAST per-group streaming
# twin (KMV r12, MG r13 above, now DDS). A plain streaming aggregation
# over (grp, store, b, j): the per-batch update IS dds_merge_by_group
# (linear counter add), so complete mode equals dds_build_by_group of
# the full history bit-for-bit regardless of micro-batch splits — and
# unlike the stateful twins the NULL group is KEPT (SQL GROUP BY
# semantics; no join-back to drop it). The oracle replays the same
# per-group machinery as stats_dds_group_quantile over the streamed
# source's planted measure.
# ---------------------------------------------------------------------------


def q_streaming_dds_group_quantile(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_dds_by_group (streaming.py —
    per-group bucket counters as streaming aggregation state, bounded
    at ≤ groups·stores·binades·m cells), driven to completion, then
    queried with dds_quantile_by_group unchanged. Planted measure
    puts all three stores in every lang group (n_chars magnitudes, a
    doc_id%11 negative stripe, a doc_id%13 zero stripe) — the
    stats_dds_group_quantile planting, streamed."""
    from hdk_spark.operators.sketches import dds_quantile_by_group
    from hdk_spark.streaming import stream_dds_by_group

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    x = (
        F.when(d % 13 == 7, F.lit(0.0))
        .when(d % 11 == 3, -F.col("n_chars").cast("double"))
        .otherwise(F.col("n_chars").cast("double"))
    )
    stream = _documents_stream(spark, sf_dir).select(
        F.col("lang").alias("g"), x.alias("x"))
    name = _run_stream(stream_dds_by_group(stream, "g", "x", m=64),
                       "complete")
    return dds_quantile_by_group(spark.table(name), [0.1, 0.5, 0.9],
                                 m=64)


_STREAM_DDS_GROUP_ORACLE = """
WITH src AS (
  SELECT lang AS grp,
         CASE WHEN doc_id % 13 = 7 THEN 0.0
              WHEN doc_id % 11 = 3 THEN -CAST(n_chars AS DOUBLE)
              ELSE CAST(n_chars AS DOUBLE) END AS x
  FROM documents
), routed AS (
  SELECT grp,
         CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS store,
         ABS(x) AS ax
  FROM src WHERE x IS NOT NULL
), seed AS (
  SELECT grp, store, ax, CAST(floor(log2(ax)) AS BIGINT) AS b0
  FROM routed WHERE store <> 0
), fixed AS (
  SELECT grp, store, ax,
         CASE WHEN pow(2.0, b0 + 1) <= ax THEN b0 + 1
              WHEN pow(2.0, b0) > ax THEN b0 - 1
              ELSE b0 END AS b
  FROM seed
), cells AS (
  SELECT grp, store, b,
         CAST(floor((ax / pow(2.0, b) - 1.0) * 64.0) AS BIGINT) AS j,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM fixed GROUP BY 1, 2, 3, 4
  UNION ALL
  SELECT grp, 0, 0, 0, CAST(COUNT(*) AS BIGINT)
  FROM routed WHERE store = 0 GROUP BY grp HAVING COUNT(*) > 0
), cum AS (
  SELECT grp, store, b, j, c,
         SUM(c) OVER (
           PARTITION BY grp
           ORDER BY store,
                    CASE WHEN store = -1 THEN -b ELSE b END,
                    CASE WHEN store = -1 THEN -j ELSE j END
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells
), n AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY grp),
qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9]) AS DOUBLE) AS q),
tgt AS (SELECT grp, q, n, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS t
        FROM n CROSS JOIN qs)
SELECT tgt.grp, q,
       round(CASE WHEN store = 0 THEN 0.0
                  ELSE store * pow(2.0, b) * (1.0 + (j + 0.5) / 64.0)
             END, 6) + 0 AS est,
       n
FROM tgt JOIN cum ON cum.grp = tgt.grp
                 AND cum.cum >= tgt.t AND cum.cum - cum.c < tgt.t
ORDER BY tgt.grp, q
"""

SPARK_IMPLS["streaming_dds_group_quantile"] = q_streaming_dds_group_quantile
ORACLES["streaming_dds_group_quantile"] = _STREAM_DDS_GROUP_ORACLE


# ---------------------------------------------------------------------------
# round 13: the all-pairs group overlap matrix — kmv_set_stats for every
# unordered group pair from ONE kmv_by_group relation, no driver loop.
# Planted vocab domains overlap differently per pair (g0 [0,167),
# g1 [120,287), g2 [200,300) over doc_id//3, decorrelated from the %3
# group residue) so the matrix has a disjoint pair (jaccard 0), an
# asymmetric-containment pair, and all groups in the estimator branch.
# The oracle replays per-group distinct → md5 bottom-k → the per-pair
# union bottom-k walk → flags → every estimator expression per pair.
# ---------------------------------------------------------------------------


def q_stats_kmv_group_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs group vocabulary overlap (operators/sketches.py::
    kmv_pairwise_stats over kmv_by_group, k=64 md5): "which sources
    share vocabulary" for every unordered pair in one relational
    plan — per-pair rows bit-identical to kmv_set_stats of the two
    groups' summaries (the union bottom-k closure)."""
    from hdk_spark.operators.sketches import (
        kmv_by_group, kmv_pairwise_stats,
    )

    _tables(spark, sf_dir)
    d = F.col("doc_id")
    t = F.floor(d / 3).cast("long")
    src = spark.table("documents").select(
        F.concat(F.lit("g"), (d % 3).cast("string")).alias("g"),
        F.concat(
            F.lit("u"),
            F.when(d % 3 == 0, t % 240)
            .when(d % 3 == 1, F.lit(120) + t % 180)
            .otherwise(F.lit(200) + t % 100).cast("string"),
        ).alias("v"),
    )
    summ = kmv_by_group(src, "g", "v", k=64, hash_basis="md5")
    return _ordered(
        kmv_pairwise_stats(summ, k=64, hash_basis="md5"), "grp_a", "grp_b")


_KMV_GROUP_PAIRWISE_ORACLE = f"""
WITH src AS (
  SELECT 'g' || CAST(doc_id % 3 AS VARCHAR) AS grp,
         'u' || CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id // 3) % 240
                          WHEN doc_id % 3 = 1 THEN 120 + (doc_id // 3) % 180
                          ELSE 200 + (doc_id // 3) % 100 END AS VARCHAR)
           AS item
  FROM documents WHERE doc_id IS NOT NULL
), d AS (
  SELECT grp, h, MIN(item) AS item FROM (
    SELECT grp, {_KMV_H.format(v='item')} AS h, item
    FROM (SELECT DISTINCT grp, item FROM src)) GROUP BY grp, h
), s AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM d) WHERE rn <= 64
), sides AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_side,
         MAX(h / 4294967296.0) AS uks
  FROM s GROUP BY grp
), pairs AS (
  SELECT a.grp AS ga, a.n_side AS na, a.uks AS uka,
         b.grp AS gb, b.n_side AS nb, b.uks AS ukb
  FROM sides a JOIN sides b ON a.grp < b.grp
), u AS (
  SELECT ga, gb, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (
    SELECT p.ga, p.gb, s.h, 1 AS ina, 0 AS inb
    FROM pairs p JOIN s ON s.grp = p.ga
    UNION ALL
    SELECT p.ga, p.gb, s.h, 0 AS ina, 1 AS inb
    FROM pairs p JOIN s ON s.grp = p.gb
  ) GROUP BY ga, gb, h
), kk AS (
  SELECT * FROM (
    SELECT ga, gb, h, ina, inb,
           row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
    FROM u) WHERE rn <= 64
), stats AS (
  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n_k,
         CAST(SUM(ina * inb) AS BIGINT) AS n_inter,
         MAX(h / 4294967296.0) AS uk
  FROM kk GROUP BY ga, gb
), est AS (
  SELECT st.ga, st.gb, n_k, n_inter,
         CASE WHEN n_k < 64 THEN CAST(n_k AS DOUBLE)
              ELSE 63.0 / uk END AS eu,
         CASE WHEN p.na < 64 THEN CAST(p.na AS DOUBLE)
              ELSE 63.0 / p.uka END AS ea,
         CASE WHEN p.nb < 64 THEN CAST(p.nb AS DOUBLE)
              ELSE 63.0 / p.ukb END AS eb,
         p.na, p.nb
  FROM stats st JOIN pairs p ON p.ga = st.ga AND p.gb = st.gb
)
SELECT ga AS grp_a, gb AS grp_b, n_k, n_inter,
       round(eu, 4) + 0 AS ndv_union,
       round((n_inter / n_k) * eu, 4) + 0 AS ndv_inter,
       round(ea, 4) + 0 AS ndv_a,
       round(eb, 4) + 0 AS ndv_b,
       CASE WHEN na > 0
            THEN round(((n_inter / n_k) * eu) / ea, 4) + 0 END
         AS containment_a_in_b,
       CASE WHEN nb > 0
            THEN round(((n_inter / n_k) * eu) / eb, 4) + 0 END
         AS containment_b_in_a,
       round(n_inter / n_k, 4) + 0 AS jaccard_est
FROM est ORDER BY grp_a, grp_b
"""

SPARK_IMPLS["stats_kmv_group_pairwise"] = q_stats_kmv_group_pairwise
ORACLES["stats_kmv_group_pairwise"] = _KMV_GROUP_PAIRWISE_ORACLE


# ---------------------------------------------------------------------------
# round 13: per-group Count-Min — the fourth per-group sketch family
# (KMV distincts, DDS quantiles, MG tops, now CMS point frequencies),
# exercised end-to-end: parity-slice builds → cms_merge_by_group →
# cms_query_by_group ("how often does token X appear per lang"), with
# exact truths riding along. The merge is linear, so the oracle
# replays the cells over the FULL table (merge law == single build,
# property-pinned) then the per-(grp, probe) min, reusing the
# _STREAM_CMS_CELL hash fragment (depth 4, width 16, seed 37).
# ---------------------------------------------------------------------------


def q_stats_cms_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group CMS chain (operators/sketches.py::cms_build_by_group
    → cms_merge_by_group → cms_query_by_group, depth 4 / width 16 /
    md5): two parity ingest slices sketched separately, merged per
    (grp, r, b) without re-reading rows, then four probes estimated
    against EVERY lang group — width 16 forces real collisions so
    over-estimates are value-checked, and the 'zz-absent' probe pins
    per-group isolation (estimates come from the group's own cells)."""
    from hdk_spark.operators.sketches import (
        cms_build_by_group, cms_merge_by_group, cms_query_by_group,
    )

    _tables(spark, sf_dir)
    kw = dict(depth=4, width=16, seed=37, hash_basis="md5")
    docs = spark.table("documents").select(
        "lang", "doc_id",
        F.concat(F.lit("i"), (F.col("doc_id") % 23).cast("string"))
        .alias("v"))
    slices = [docs.filter(F.pmod("doc_id", F.lit(2)) == i)
              for i in range(2)]
    merged = cms_merge_by_group(
        *[cms_build_by_group(s, "lang", "v", **kw) for s in slices])
    probes = ["i0", "i7", "i15", "zz-absent"]
    est = cms_query_by_group(merged, probes, **kw)
    truth = (
        docs.groupBy(F.col("lang").alias("grp"), F.col("v").alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_true"))
    )
    return (
        est.join(truth, ["grp", "item"], "left")
        .select("grp", "item", "est",
                F.coalesce("cnt_true", F.lit(0)).cast("long")
                .alias("cnt_true"))
        .orderBy("grp", "item")
    )


_CMS_GROUP_ORACLE = f"""
WITH src AS (
  SELECT lang AS grp, 'i' || CAST(doc_id % 23 AS VARCHAR) AS v
  FROM documents WHERE doc_id IS NOT NULL
), rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
vals AS (
  SELECT unnest(['i0', 'i7', 'i15', 'zz-absent']) AS item
), cells AS (
  SELECT grp, r.r AS r, {_STREAM_CMS_CELL.format(v='s.v')} AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM src s CROSS JOIN rr r
  GROUP BY 1, 2, 3
), grps AS (SELECT DISTINCT grp FROM src),
probes AS (
  SELECT g.grp, v.item, r.r AS r, {_STREAM_CMS_CELL.format(v='v.item')} AS b
  FROM grps g CROSS JOIN vals v CROSS JOIN rr r
), est AS (
  SELECT p.grp, p.item, MIN(COALESCE(c.c, 0)) AS est
  FROM probes p LEFT JOIN cells c
    ON c.grp = p.grp AND c.r = p.r AND c.b = p.b
  GROUP BY p.grp, p.item
), truth AS (
  SELECT grp, v AS item, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM src GROUP BY grp, v
)
SELECT e.grp, e.item, CAST(e.est AS BIGINT) AS est,
       CAST(COALESCE(t.cnt, 0) AS BIGINT) AS cnt_true
FROM est e LEFT JOIN truth t ON t.grp = e.grp AND t.item = e.item
ORDER BY e.grp, e.item
"""

SPARK_IMPLS["stats_cms_group_counts"] = q_stats_cms_group_counts
ORACLES["stats_cms_group_counts"] = _CMS_GROUP_ORACLE


def q_streaming_cms_group_counts(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents streamed through stream_cms_by_group (streaming.py —
    per-group CMS cells as streaming aggregation state, the fourth
    and last per-group streaming twin; state ≤ groups·depth·width
    cells), driven to completion, then cms_query_by_group — complete
    mode equals the batch build bit-for-bit (linear cells), so the
    oracle replays the same per-group cell machinery over the full
    history."""
    from hdk_spark.operators.sketches import cms_query_by_group
    from hdk_spark.streaming import stream_cms_by_group

    _tables(spark, sf_dir)
    kw = dict(depth=4, width=16, seed=37, hash_basis="md5")
    stream = _documents_stream(spark, sf_dir).select(
        "lang",
        F.concat(F.lit("i"), (F.col("doc_id") % 23).cast("string"))
        .alias("v"))
    name = _run_stream(
        stream_cms_by_group(stream, "lang", "v", **kw), "complete")
    return cms_query_by_group(
        spark.table(name), ["i0", "i7", "i15", "zz-absent"], **kw
    ).orderBy("grp", "item")


_STREAM_CMS_GROUP_ORACLE = f"""
WITH src AS (
  SELECT lang AS grp, 'i' || CAST(doc_id % 23 AS VARCHAR) AS v
  FROM documents WHERE doc_id IS NOT NULL
), rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
vals AS (
  SELECT unnest(['i0', 'i7', 'i15', 'zz-absent']) AS item
), cells AS (
  SELECT grp, r.r AS r, {_STREAM_CMS_CELL.format(v='s.v')} AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM src s CROSS JOIN rr r
  GROUP BY 1, 2, 3
), grps AS (SELECT DISTINCT grp FROM src),
probes AS (
  SELECT g.grp, v.item, r.r AS r, {_STREAM_CMS_CELL.format(v='v.item')} AS b
  FROM grps g CROSS JOIN vals v CROSS JOIN rr r
), est AS (
  SELECT p.grp, p.item, MIN(COALESCE(c.c, 0)) AS est
  FROM probes p LEFT JOIN cells c
    ON c.grp = p.grp AND c.r = p.r AND c.b = p.b
  GROUP BY p.grp, p.item
)
SELECT grp, item, CAST(est AS BIGINT) AS est
FROM est ORDER BY grp, item
"""

SPARK_IMPLS["streaming_cms_group_counts"] = q_streaming_cms_group_counts
ORACLES["streaming_cms_group_counts"] = _STREAM_CMS_GROUP_ORACLE
