"""Core relational queries: the reference's operator inventory re-expressed
over the driver's testdata (SURVEY.md §2.2-§2.6) plus the TPC-H-style
join/agg surface the harness exercises.

The `events` table plays the role of the METAR observation stream
(user_id ≈ icao, ts ≈ observed, value ≈ temperature_c, props ≈ payload).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from metar_pipeline_spark.io import load_table
from metar_pipeline_spark.operators.aggregates import daily_rollup, duplicate_keys
from metar_pipeline_spark.operators.joins import broadcast_dim_join, fk_violations
from metar_pipeline_spark.operators.windows import (
    latest_per_key_maxby,
    moving_avg,
    sessionize,
    top_k_per_group,
)
from metar_pipeline_spark.queries import register

# Exact-accumulation casts (see package docstring).
DEC2 = "decimal(18,2)"
DEC10 = "decimal(30,10)"


def _dsum(col, dec=DEC10):
    """Order-independent float SUM: exact decimal accumulate → double."""
    return F.sum(col.cast(dec)).cast("double")


def _dsum_round(col, scale: int, dec=DEC10):
    """Order-independent SUM rounded to ``scale`` places: the exact
    decimal sum is rounded half-up, then cast to double. Rounding the
    double instead goes wrong at exact halves (1.005 is 1.00499… as a
    double): Spark rounds it up and DuckDB down. The oracle spelling is
    ``CAST(round(SUM(CAST(x AS DECIMAL(30,10))), scale) AS DOUBLE)``."""
    return F.round(F.sum(col.cast(dec)), scale).cast("double")


# ---------------------------------------------------------------------------
# dwh daily rollup — A1 + P11 + P12
# (/root/reference/dbt/models/dwh/dw_daily_airport_metrics.sql:7-29)
# ---------------------------------------------------------------------------
@register(
    "dwh_daily_metrics",
    """
    SELECT
      concat_ws('_', CAST(user_id AS VARCHAR), strftime(observed_date, '%Y%m%d')) AS user_date,
      user_id, observed_date, avg_value, max_value, min_value, n_events
    FROM (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS observed_date,
             round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
             MAX(value) AS max_value,
             MIN(value) AS min_value,
             COUNT(*) AS n_events
      FROM events
      GROUP BY 1, 2
    ) t
    """,
    doc="Daily per-key AVG/MAX/MIN/COUNT rollup with surrogate key (A1/P11/P12)",
)
def dwh_daily_metrics(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    rolled = daily_rollup(
        events,
        key="user_id",
        ts="ts",
        measures={
            "sum_dec": _dsum(F.col("value"), DEC2),
            "max_value": F.max("value"),
            "min_value": F.min("value"),
            "n_events": F.count(F.lit(1)),
        },
        surrogate_name="user_date",
    )
    return rolled.select(
        "user_date",
        "user_id",
        "observed_date",
        F.round(F.col("sum_dec") / F.col("n_events"), 6).alias("avg_value"),
        "max_value",
        "min_value",
        "n_events",
    )


# ---------------------------------------------------------------------------
# int latest-per-key — W1 (int_metar_latest.sql:9-17) via max_by aggregate
# ---------------------------------------------------------------------------
@register(
    "int_latest_per_key",
    """
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
    doc="Latest row per key (W1) — max_by form, partial-agg friendly at scale",
)
def int_latest_per_key(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return latest_per_key_maxby(events, ["user_id"], "ts", tiebreak="event_id")


@register(
    "int_latest_per_key_rn",
    """
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
    doc="Latest row per key — literal ROW_NUMBER form for parity (W1)",
)
def int_latest_per_key_rn(spark, sf_dir):
    from metar_pipeline_spark.operators.windows import latest_per_key_rn

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return latest_per_key_rn(
        events, ["user_id"], [F.desc("ts"), F.desc("event_id")]
    )


# ---------------------------------------------------------------------------
# ods sanitize — P6 JSON extract, P7 rlike, P8 CASE+cast, P9 star-except
# (/root/reference/dbt/models/ods/ods_metar_latest.sql:13-23)
# ---------------------------------------------------------------------------
@register(
    "ods_sanitized_ids",
    """
    SELECT event_id, ts, user_id, event_type, value,
           CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^[0-9]+$')
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
                ELSE NULL END AS k
    FROM events
    WHERE regexp_matches(json_extract_string(props, '$.k'), '^[0-9]+$')
    """,
    doc="JSON field extract + digits-only regex filter + CASE cast + star-except (P6-P9)",
)
def ods_sanitized_ids(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    # Parse the JSON payload ONCE into a named column; referencing the
    # raw get_json_object expression in both the CASE and the filter
    # would re-parse every row twice (JSON parse dominates this query).
    parsed = events.withColumn(
        "__k_str", F.get_json_object(F.col("props"), "$.k")
    )
    is_num = F.col("__k_str").rlike("^[0-9]+$")
    return (
        parsed.withColumn(
            "k",
            F.when(is_num, F.col("__k_str").cast("int")).otherwise(F.lit(None)),
        )
        .filter(is_num)
        .drop("props", "__k_str")  # star-except projection (P9)
    )


# ---------------------------------------------------------------------------
# stg typed projection — P4 coalesce, P5 literals, P6 casts, P11 concat
# (/root/reference/dbt/models/stg/stg_metar_observations.sql:22-40)
# ---------------------------------------------------------------------------
@register(
    "stg_typed_projection",
    """
    SELECT CAST(event_id AS VARCHAR) AS id,
           ts AS observed,
           event_type,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_value,
           COALESCE(value, 0.0) AS value_filled,
           'events' AS source,
           concat_ws('_', event_type, strftime(ts, '%Y%m%d')) AS type_date,
           CASE WHEN value >= 10.0 THEN 'high' ELSE 'low' END AS value_band
    FROM events
    """,
    doc="Typed wide projection: casts, coalesce, literal audit cols, concat+date_format (P4/P5/P6/P11)",
)
def stg_typed_projection(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("ts").alias("observed"),
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("double").alias("k_value"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_filled"),
        F.lit("events").alias("source"),
        F.concat_ws(
            "_", F.col("event_type"), F.date_format("ts", "yyyyMMdd")
        ).alias("type_date"),
        F.when(F.col("value") >= 10.0, "high").otherwise("low").alias("value_band"),
    )


# ---------------------------------------------------------------------------
# incremental watermark — A2/A3 scalar MAX + L1 strict '>' filter
# (/root/reference/dbt/models/stg/stg_metar_observations.sql:14-19)
# ---------------------------------------------------------------------------
@register(
    "incremental_strict",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts > (SELECT MAX(ts) FROM events WHERE ts < TIMESTAMP '2024-01-25')
    """,
    doc="High-watermark incremental, strict '>' (L1/A2): target = rows before 2024-01-25",
)
def incremental_strict(spark, sf_dir):
    from metar_pipeline_spark.operators.incremental import high_watermark_filter

    events = load_table(spark, sf_dir, "events")
    target = events.filter(F.col("ts") < F.lit("2024-01-25").cast("timestamp"))
    return high_watermark_filter(events, target, "ts", inclusive=False).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "incremental_inclusive",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= COALESCE((SELECT MAX(ts) FROM events WHERE ts < TIMESTAMP '2024-01-25'),
                         TIMESTAMP '1970-01-01')
    """,
    doc="High-watermark incremental, inclusive '>=' with epoch default (L2/A3, ods_metar_latest.sql:31-41)",
)
def incremental_inclusive(spark, sf_dir):
    from metar_pipeline_spark.operators.incremental import high_watermark_filter
    import datetime

    events = load_table(spark, sf_dir, "events")
    target = events.filter(F.col("ts") < F.lit("2024-01-25").cast("timestamp"))
    return high_watermark_filter(
        events, target, "ts", inclusive=True,
        default=datetime.datetime(1970, 1, 1),
    ).select("event_id", "ts", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# quality suite — Q1-Q5 as one summary query
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "quality_summary",
    """
    SELECT 'not_null_event_id' AS rule, (SELECT COUNT(*) FROM events WHERE event_id IS NULL) AS violations
    UNION ALL SELECT 'not_null_user_id', (SELECT COUNT(*) FROM events WHERE user_id IS NULL)
    UNION ALL SELECT 'not_null_ts', (SELECT COUNT(*) FROM events WHERE ts IS NULL)
    UNION ALL SELECT 'unique_event_id',
      (SELECT COUNT(*) FROM (SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1) d)
    UNION ALL SELECT 'accepted_values_event_type',
      (SELECT COUNT(*) FROM events WHERE event_type IS NOT NULL
        AND event_type NOT IN ('click','view','purchase','signup','error'))
    UNION ALL SELECT 'not_negative_value', (SELECT COUNT(*) FROM events WHERE value < 0)
    """,
    doc="dbt-test suite (not_null/unique/accepted_values/singular) as violation counts (Q1-Q5)",
)
def quality_summary(spark, sf_dir):
    from metar_pipeline_spark.quality import (
        accepted_values,
        not_null,
        singular,
        unique,
    )

    events = load_table(spark, sf_dir, "events")
    suite = [
        not_null(events, "event_id"),
        not_null(events, "user_id"),
        not_null(events, "ts"),
        unique(events, "event_id"),
        accepted_values(events, "event_type", _EVENT_TYPES),
        singular("not_negative_value", events, F.col("value") < 0),
    ]
    rule_names = [
        "not_null_event_id", "not_null_user_id", "not_null_ts",
        "unique_event_id", "accepted_values_event_type", "not_negative_value",
    ]
    parts = [
        a.violations()
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit(n).alias("rule"), "violations")
        for n, a in zip(rule_names, suite)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# FK anti-join — J1 (dbt relationships test, dwh/schema.yml:19-22)
# ---------------------------------------------------------------------------
@register(
    "fk_violations_events_supplier",
    """
    SELECT DISTINCT user_id FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.user_id)
    """,
    doc="Referential-integrity LEFT ANTI join, broadcast parent (J1)",
)
def fk_violations_events_supplier(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        fk_violations(events, supplier, "user_id", "s_suppkey")
        .select("user_id")
        .distinct()
    )


@register(
    "quarantine_fk_rows",
    """
    SELECT event_id, user_id, 'error' AS severity, 0 AS run_id
    FROM events e
    WHERE e.event_type = 'signup' AND e.user_id < 200
      AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.user_id)
    """,
    doc=(
        "Dead-letter quarantine end-to-end (dbt store_failures, the "
        "surface behind dwh/schema.yml:19-22's relationships test): a "
        "scoped FK audit (signup events in a bounded id range vs the "
        "supplier keys) persists its VIOLATING ROWS through "
        "quality.quarantine_violations — per-assertion subdir, "
        "_run-partitioned idempotent overwrite — and the query returns "
        "the store read-back, proving the quarantined rows round-trip. "
        "Violation frames are small by contract (a healthy pipeline "
        "quarantines ~0 rows); the anti-join itself broadcasts the "
        "parent keys."
    ),
)
def quarantine_fk_rows(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from metar_pipeline_spark.quality import (
        quarantine_violations,
        relationships,
    )

    events = load_table(spark, sf_dir, "events")
    supplier = load_table(spark, sf_dir, "supplier")
    child = events.filter(
        (F.col("event_type") == "signup") & (F.col("user_id") < 200)
    ).select("event_id", "user_id")
    a = relationships(child, supplier, "user_id", "s_suppkey")
    root = tempfile.mkdtemp(prefix="quarantine_fk_")
    try:
        res = quarantine_violations([a], root, 0)
        if res[0]["passed"]:  # zero violations → nothing was persisted
            return spark.createDataFrame(
                [],
                "event_id long, user_id long, severity string, "
                "run_id int",
            )
        out = (
            spark.read.parquet(os.path.join(root, a.name))
            .select(
                "event_id",
                "user_id",
                F.col("_severity").alias("severity"),
                F.col("_run").cast("int").alias("run_id"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# TPC-H-style core: scan→filter→agg and multi-join plans
# ---------------------------------------------------------------------------
@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_charge,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: scan→pushed filter→hash agg (A1 at TPC-H shape)",
)
def tpch_q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), DEC2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), DEC2).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            _dsum(F.col("l_discount"), DEC2).alias("sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    # final rounding: engines quantize double→decimal(30,10) differently at
    # the last decimal for large values; 2-decimal rounding is far above
    # that noise floor at any scale.
    return g.select(
        "l_returnflag", "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        F.round("sum_charge", 2).alias("sum_charge"),
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias("avg_price"),
        F.round(F.col("sum_disc") / F.col("count_order"), 6).alias("avg_disc"),
        "count_order",
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3: 3-way join (broadcast customer dim) → agg → deterministic top-10",
)
def tpch_q3_shipping_priority(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    joined = broadcast_dim_join(
        o, c.select("c_custkey"), o.o_custkey == F.col("c_custkey")
    ).join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name,
           round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5: 6-way join, dims broadcast, facts shuffle on keys; group by nation",
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.round(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "top3_parts_per_brand",
    """
    SELECT p_brand, p_partkey, p_name, p_retailprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT p_brand, p_partkey, p_name, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    ) t WHERE rn <= 3
    """,
    doc="Top-k per group via ranking window (generalized W1)",
)
def top3_parts_per_brand(spark, sf_dir):
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_name", "p_retailprice"
    )
    return top_k_per_group(
        part, ["p_brand"], [F.desc("p_retailprice"), F.asc("p_partkey")], 3
    )


@register(
    "moving_avg_user_value",
    """
    SELECT event_id, user_id, ts,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 6) AS moving_avg_7
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Analytic frame: 7-row moving average per key (ROWS BETWEEN, §2.5 surface)",
)
def moving_avg_user_value(spark, sf_dir):
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-6, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(
            F.sum(F.col("value").cast(DEC2)).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("moving_avg_7"),
    )


@register(
    "sessionize_events",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CASE WHEN prev_ts IS NOT NULL
                          AND date_diff('second', prev_ts, ts) > 1800
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ) t
    """,
    doc="Gap-based sessionization (lag + cumulative sum, one shuffle); streaming analogue = session_window",
)
def sessionize_events(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    return sessionize(events, "user_id", "ts", gap_minutes=30, tiebreak="event_id")


@register(
    "event_type_distinct_stats",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc="Distinct aggregate (expand + two-phase agg in Spark) — beyond-reference agg surface",
)
def event_type_distinct_stats(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("distinct_users"),
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value"), DEC2).alias("sum_value"),
    )
