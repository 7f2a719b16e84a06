"""Cross-series causality analytics (the reference's domain, SURVEY.md
§0: causality between elements based on time-series data).

The AMTL loop (ml/amtl.py) learns the causality matrix B the
reference's way — via asymmetric multi-task transfer (model.py:
166-184).  This module adds the *descriptive* cross-series statistics
an analyst runs before/alongside that training: pairwise series
correlation, directional lag-1 cross-correlation, lag regression
(the Granger-style precursor test), per-series autocorrelation, and
temporal precedence counts.  All are plain DataFrame aggregations —
one shuffle to build the hourly grid, then joins keyed on the tiny
hour/series dimensions — and all carry full DuckDB oracles.

Scale shape: the hourly grid is |hours| × |series| rows — for a year
of data and thousands of series it is millions of rows, *independent
of raw event volume* (100 TB of events reduce in the first map-side
partial aggregate).  The pairwise joins run on the grid, not the
events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lineage import ckpt, ckpt_eager

from ..sources.catalog import load_table
from .registry import register

_HOURLY_ORACLE = """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type, sum(value) AS v
        FROM events GROUP BY 1, 2
    )
"""


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared hour × series grid: one map-side-combined aggregate
    over events; everything downstream joins this small grid."""
    ev = load_table(spark, sf_dir, "events")
    # lazily checkpointed: consumers fan the grid into self-joins and
    # multi-branch derivations — the lineage cut makes the events
    # reduce run once per query instead of once per branch
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.sum("value").alias("v")).transform(ckpt)


@register(
    "pairwise_series_correlation",
    oracle=_HOURLY_ORACLE
    + """
    SELECT a.event_type AS series_a, b.event_type AS series_b,
           round(corr(a.v, b.v), 4) AS pearson_r,
           count(*) AS n_hours
    FROM hourly a JOIN hourly b
      ON a.hour = b.hour AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    doc="Pairwise Pearson correlation between the hourly value series "
    "of every element pair — the symmetric association matrix an "
    "analyst inspects before asking the directional (causal) "
    "question.  Events reduce to the hour×series grid first, so the "
    "pair join is over |hours|·|series| rows, not raw events.",
    tags=("causality", "timeseries", "stats"),
)
def pairwise_series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir)
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("series_a"),
            F.col("b.event_type").alias("series_b"),
        )
        .agg(
            F.round(F.corr("a.v", "b.v"), 4).alias("pearson_r"),
            F.count("*").alias("n_hours"),
        )
    )


@register(
    "lagged_cross_correlation",
    oracle=_HOURLY_ORACLE
    + """
    SELECT a.event_type AS leader, b.event_type AS follower,
           round(corr(a.v, b.v), 4) AS lag1_r,
           count(*) AS n_hours
    FROM hourly a JOIN hourly b
      ON b.hour = a.hour + INTERVAL 1 HOUR
     AND a.event_type <> b.event_type
    GROUP BY 1, 2
    """,
    doc="Directional lag-1 cross-correlation: corr(leader at hour h, "
    "follower at hour h+1) for every ORDERED series pair — the "
    "asymmetry between (a→b) and (b→a) is the first hint of temporal "
    "precedence, the quantity the AMTL B-matrix models "
    "(model.py:86-101).",
    tags=("causality", "timeseries", "stats"),
)
def lagged_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir)
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(
            b,
            (F.col("b.hour") == F.col("a.hour") + F.expr("INTERVAL 1 HOUR"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("leader"),
            F.col("b.event_type").alias("follower"),
        )
        .agg(
            F.round(F.corr("a.v", "b.v"), 4).alias("lag1_r"),
            F.count("*").alias("n_hours"),
        )
    )


@register(
    "granger_lag_regression",
    oracle=_HOURLY_ORACLE
    + """
    SELECT a.event_type AS leader, b.event_type AS follower,
           round(regr_slope(b.v, a.v), 4)     AS slope,
           round(regr_intercept(b.v, a.v), 4) AS intercept,
           round(regr_r2(b.v, a.v), 4)        AS r2,
           count(*) AS n_hours
    FROM hourly a JOIN hourly b
      ON b.hour = a.hour + INTERVAL 1 HOUR
     AND a.event_type <> b.event_type
    GROUP BY 1, 2
    """,
    doc="Granger-style lag regression: OLS of follower(h+1) on "
    "leader(h) per ordered pair — slope, intercept and R² from the "
    "built-in regr_* aggregates (single pass, map-side partials). "
    "The descriptive analog of the reference's learned transfer "
    "weights B[leader, follower].",
    tags=("causality", "timeseries", "stats"),
)
def granger_lag_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir)
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(
            b,
            (F.col("b.hour") == F.col("a.hour") + F.expr("INTERVAL 1 HOUR"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("leader"),
            F.col("b.event_type").alias("follower"),
        )
        .agg(
            F.round(F.regr_slope("b.v", "a.v"), 4).alias("slope"),
            F.round(F.regr_intercept("b.v", "a.v"), 4).alias("intercept"),
            F.round(F.regr_r2("b.v", "a.v"), 4).alias("r2"),
            F.count("*").alias("n_hours"),
        )
    )


@register(
    "series_autocorrelation",
    oracle=_HOURLY_ORACLE
    + """
    , lagged AS (
        SELECT event_type, v,
               lag(v) OVER (PARTITION BY event_type ORDER BY hour) AS pv
        FROM hourly
    )
    SELECT event_type, round(corr(v, pv), 4) AS acf1, count(pv) AS n
    FROM lagged GROUP BY event_type
    """,
    doc="Lag-1 autocorrelation per series (the AR(1) coefficient over "
    "observed hours): how self-predictable each element is — the "
    "baseline any cross-series causality claim must beat.  Window "
    "lag within the series partition, then one corr aggregate.",
    tags=("causality", "timeseries", "stats"),
)
def series_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hour")
    lagged = h.withColumn("pv", F.lag("v").over(w))
    return lagged.groupBy("event_type").agg(
        F.round(F.corr("v", "pv"), 4).alias("acf1"),
        F.count("pv").alias("n"),
    )


@register(
    "temporal_precedence_counts",
    oracle="""
    SELECT a.event_type AS antecedent, b.event_type AS consequent,
           count(*) AS n_pairs,
           count(DISTINCT a.user_id) AS n_users
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
     AND a.event_type <> b.event_type
    GROUP BY 1, 2
    """,
    doc="Temporal precedence: within each entity's own stream, how "
    "often does element a precede element b within 30 minutes — the "
    "event-level (not grid-level) precedence signal.  The self-join "
    "is keyed on the entity id (one shuffle, co-partitioned), with "
    "the time-range predicate evaluated inside each key group, so "
    "work is bounded by per-entity activity, never corpus².",
    tags=("causality", "timeseries"),
)
def temporal_precedence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTES"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("a.user_id").alias("n_users"),
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH first_day AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day
        FROM events
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, active_day) AS INTEGER) AS day_offset,
           count(*) AS n_active_users
    FROM first_day JOIN activity USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention: entities grouped by first-seen day, counted "
    "active per day offset — the temporal engagement decay curve.  "
    "Two entity-keyed aggregates and one entity-keyed join; the "
    "result is |cohorts|×|offsets|, independent of event volume.",
    tags=("causality", "timeseries", "cohort"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = ev.select("user_id", F.date_trunc("day", "ts").alias("active_day")).distinct()
    return (
        first_day.join(activity, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH t AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'     THEN ts END) AS v,
               min(CASE WHEN event_type = 'click'    THEN ts END) AS c,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
        FROM events GROUP BY 1
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN v IS NOT NULL AND c > v THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view_then_click,
           CAST(sum(CASE WHEN v IS NOT NULL AND c > v AND p > c THEN 1 ELSE 0 END) AS BIGINT)
               AS n_full_funnel
    FROM t
    """,
    doc="Ordered conversion funnel (view → click → purchase): per "
    "entity, the first occurrence of each stage via conditional min, "
    "then ordering predicates — one entity-keyed aggregate plus a "
    "single-row reduction; classic sequential-pattern analytics "
    "without a self-join.",
    tags=("causality", "timeseries", "funnel"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    has_v = F.col("v").isNotNull()
    vc = has_v & (F.col("c") > F.col("v"))
    vcp = vc & (F.col("p") > F.col("c"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(has_v.cast("int")).cast("bigint").alias("n_view"),
        F.sum(vc.cast("int")).cast("bigint").alias("n_view_then_click"),
        F.sum(vcp.cast("int")).cast("bigint").alias("n_full_funnel"),
    )


@register(
    "pairwise_mutual_information",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    edges AS (
        SELECT event_type, min(v) AS mn, max(v) AS mx
        FROM hourly GROUP BY 1
    ),
    binned AS (
        SELECT h.hour, h.event_type,
               CASE WHEN e.mx = e.mn THEN 0
                    ELSE least(3, CAST(floor((h.v - e.mn) * 4.0
                                             / (e.mx - e.mn)) AS INTEGER))
               END AS bin
        FROM hourly h JOIN edges e ON h.event_type = e.event_type
    ),
    joint AS (
        SELECT a.event_type AS series_a, b.event_type AS series_b,
               a.bin AS bin_a, b.bin AS bin_b,
               count(*) AS n_xy
        FROM binned a JOIN binned b
          ON a.hour = b.hour AND a.event_type < b.event_type
        GROUP BY 1, 2, 3, 4
    ),
    marg AS (
        SELECT series_a, series_b, bin_a, bin_b, n_xy,
               sum(n_xy) OVER (PARTITION BY series_a, series_b, bin_a) AS n_x,
               sum(n_xy) OVER (PARTITION BY series_a, series_b, bin_b) AS n_y,
               sum(n_xy) OVER (PARTITION BY series_a, series_b) AS n
        FROM joint
    )
    SELECT series_a, series_b,
           round(sum((CAST(n_xy AS DOUBLE) / n)
                     * ln(CAST(n_xy AS DOUBLE) * n
                          / (CAST(n_x AS DOUBLE) * n_y))), 6) AS mutual_info,
           CAST(max(n) AS BIGINT) AS n_hours
    FROM marg
    GROUP BY series_a, series_b
    ORDER BY series_a, series_b
    """,
    doc="Binned pairwise mutual information between element series — "
    "the nonlinear complement to Pearson correlation for screening "
    "causal candidates (MI detects dependence correlation misses).  "
    "Each series' hourly values are quantized into 4 equal-width bins "
    "(per-series min/max from a tiny aggregate join; values rounded "
    "to 6dp BEFORE binning so bin edges are engine-stable), the "
    "hour-aligned pair join builds the joint histogram, and the "
    "marginals come from window sums over the 16-cell joint table — "
    "no second pass over the grid.  Everything after the first "
    "events aggregate operates on |series|^2 x 16 rows, independent "
    "of raw event volume.",
    tags=("causality", "timeseries", "stats"),
)
def pairwise_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type").agg(
        F.round(F.sum("value"), 6).alias("v")
    ).transform(ckpt)
    edges = hourly.groupBy("event_type").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    binned = hourly.join(F.broadcast(edges), "event_type").select(
        "hour",
        "event_type",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(3),
                F.floor((F.col("v") - F.col("mn")) * 4.0 / (F.col("mx") - F.col("mn"))).cast(
                    "int"
                ),
            )
        )
        .alias("bin"),
    ).transform(ckpt)
    a, b = binned.alias("a"), binned.alias("b")
    joint = (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("series_a"),
            F.col("b.event_type").alias("series_b"),
            F.col("a.bin").alias("bin_a"),
            F.col("b.bin").alias("bin_b"),
        )
        .agg(F.count("*").alias("n_xy"))
    )
    wx = Window.partitionBy("series_a", "series_b", "bin_a")
    wy = Window.partitionBy("series_a", "series_b", "bin_b")
    wn = Window.partitionBy("series_a", "series_b")
    marg = joint.select(
        "series_a",
        "series_b",
        "n_xy",
        F.sum("n_xy").over(wx).alias("n_x"),
        F.sum("n_xy").over(wy).alias("n_y"),
        F.sum("n_xy").over(wn).alias("n"),
    )
    term = (F.col("n_xy").cast("double") / F.col("n")) * F.log(
        F.col("n_xy").cast("double") * F.col("n") / (F.col("n_x").cast("double") * F.col("n_y"))
    )
    return (
        marg.groupBy("series_a", "series_b")
        .agg(
            F.round(F.sum(term), 6).alias("mutual_info"),
            F.max("n").cast("bigint").alias("n_hours"),
        )
        .orderBy("series_a", "series_b")
    )


@register(
    "partial_correlation_controlled",
    oracle=_HOURLY_ORACLE
    + """
    , pairs AS (
        SELECT a.event_type AS sa, b.event_type AS sb,
               corr(a.v, b.v) AS r
        FROM hourly a JOIN hourly b
          ON a.hour = b.hour AND a.event_type <> b.event_type
        GROUP BY 1, 2
    )
    SELECT xy.sa AS series_a, xy.sb AS series_b,
           round((xy.r - xz.r * yz.r)
                 / sqrt((1 - xz.r * xz.r) * (1 - yz.r * yz.r)),
                 4) AS partial_r,
           round(xy.r, 4) AS raw_r
    FROM pairs xy
    JOIN pairs xz ON xz.sa = xy.sa AND xz.sb = 'error'
    JOIN pairs yz ON yz.sa = xy.sb AND yz.sb = 'error'
    WHERE xy.sa < xy.sb AND xy.sa <> 'error' AND xy.sb <> 'error'
    ORDER BY series_a, series_b
    """,
    doc="First-order partial correlation: the association between "
    "two element series with the 'error' series held fixed — "
    "r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)).  "
    "Screens out dependence that is really co-response to a "
    "confounder, the next causal-screening step after raw pairwise "
    "correlation.  Built entirely from the tiny |series|^2 "
    "correlation table (self-joined twice on the controlled "
    "series), which itself reduces from the hour x series grid — "
    "raw events are aggregated exactly once.",
    tags=("causality", "timeseries", "stats"),
)
def partial_correlation_controlled(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir)
    a, b = h.alias("a"), h.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("sa"),
            F.col("b.event_type").alias("sb"),
        )
        .agg(F.corr("a.v", "b.v").alias("r"))
        # |series|^2 rows consumed three times (xy/xz/yz)
        .transform(ckpt)
    )
    xy = pairs.alias("xy")
    xz = pairs.filter(F.col("sb") == "error").alias("xz")
    yz = pairs.filter(F.col("sb") == "error").alias("yz")
    out = (
        xy.filter(
            (F.col("xy.sa") < F.col("xy.sb"))
            & (F.col("xy.sa") != "error")
            & (F.col("xy.sb") != "error")
        )
        .join(F.broadcast(xz), F.col("xz.sa") == F.col("xy.sa"))
        .join(F.broadcast(yz), F.col("yz.sa") == F.col("xy.sb"))
    )
    partial = (F.col("xy.r") - F.col("xz.r") * F.col("yz.r")) / F.sqrt(
        (1 - F.col("xz.r") * F.col("xz.r")) * (1 - F.col("yz.r") * F.col("yz.r"))
    )
    return out.select(
        F.col("xy.sa").alias("series_a"),
        F.col("xy.sb").alias("series_b"),
        F.round(partial, 4).alias("partial_r"),
        F.round("xy.r", 4).alias("raw_r"),
    ).orderBy("series_a", "series_b")


@register(
    "applyinpandas_trend_ols",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) AS day_idx,
               round(sum(value), 6) AS v
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           round(regr_slope(v, day_idx), 6)     AS slope,
           round(regr_intercept(v, day_idx), 6) AS intercept,
           count(*) AS n_days
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Per-series OLS trend via a grouped applyInPandas numpy "
    "kernel — the §2.10 UDF machinery pinned against an EXACT SQL "
    "oracle (DuckDB regr_slope/regr_intercept), unlike the RNN/AMTL "
    "kernels whose math is numpy-golden-tested but engine-specific.  "
    "Each group is one series' daily aggregate (|days| rows — tiny), "
    "Arrow moves it once, the closed-form normal equations run in "
    "numpy, and the output is one row per series.  The kernel is a "
    "self-contained closure (worker-safe).  The daily pre-aggregate "
    "bounds Python's input at |days| x |series| regardless of raw "
    "event volume.",
    tags=("causality", "timeseries", "udf", "stats"),
)
def applyinpandas_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("day_idx"),
    ).agg(F.round(F.sum("value"), 6).alias("v"))

    def ols(pdf):
        # self-contained kernel: numpy/pandas only (worker sys.path)
        import numpy as np
        import pandas as pd

        x = pdf["day_idx"].to_numpy(dtype="float64")
        y = pdf["v"].to_numpy(dtype="float64")
        xm, ym = x.mean(), y.mean()
        slope = float(((x - xm) * (y - ym)).sum() / ((x - xm) ** 2).sum())
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "slope": [round(slope, 6)],
                "intercept": [round(ym - slope * xm, 6)],
                "n_days": [len(pdf)],
            }
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(ols, "event_type string, slope double, intercept double, n_days bigint")
        .orderBy("event_type")
    )


@register(
    "spearman_rank_correlation",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT hour, event_type,
               CAST(rank() OVER (PARTITION BY event_type
                                 ORDER BY v, hour) AS DOUBLE) AS r
        FROM hourly
    )
    SELECT a.event_type AS series_a, b.event_type AS series_b,
           round(corr(a.r, b.r), 4) AS spearman_rho,
           count(*) AS n_hours
    FROM ranked a JOIN ranked b
      ON a.hour = b.hour AND a.event_type < b.event_type
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Spearman rank correlation between element series — the "
    "monotonic-association screen beside Pearson "
    "(pairwise_series_correlation) and MI "
    "(pairwise_mutual_information).  Per-series ranks come from a "
    "window over the hourly grid (values rounded to 6dp and "
    "tie-broken by hour so both engines rank identically), then the "
    "hour-aligned pair join correlates ranks with plain corr().  "
    "Rank windows partition per series, so at 100 TB each series "
    "ranks independently — no global sort.",
    tags=("causality", "timeseries", "stats"),
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series_rounded(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("v", "hour")
    ranked = hourly.select(
        "hour", "event_type", F.rank().over(w).cast("double").alias("r")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("series_a"),
            F.col("b.event_type").alias("series_b"),
        )
        .agg(
            F.round(F.corr("a.r", "b.r"), 4).alias("spearman_rho"),
            F.count("*").alias("n_hours"),
        )
        .orderBy("series_a", "series_b")
    )


def _hourly_series_rounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour x series grid with 6dp-rounded values — the engine-stable
    variant used wherever downstream logic is order- or bin-sensitive
    (ranking, binning)."""
    ev = load_table(spark, sf_dir, "events")
    # lazily checkpointed — same rationale as _hourly_series
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.round(F.sum("value"), 6).alias("v")).transform(ckpt)


@register(
    "transfer_entropy_lag1",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    edges AS (
        SELECT event_type, min(v) AS mn, max(v) AS mx
        FROM hourly GROUP BY 1
    ),
    binned AS (
        SELECT h.hour, h.event_type,
               CASE WHEN e.mx = e.mn THEN 0
                    ELSE least(1, CAST(floor((h.v - e.mn) * 2.0
                                             / (e.mx - e.mn)) AS INTEGER))
               END AS bin
        FROM hourly h JOIN edges e ON h.event_type = e.event_type
    ),
    triples AS (
        SELECT x.event_type AS src, y.event_type AS dst,
               x.bin AS xb, y.bin AS yb, yn.bin AS ynb,
               count(*) AS n_xyz
        FROM binned x
        JOIN binned y  ON y.hour = x.hour
                      AND y.event_type <> x.event_type
        JOIN binned yn ON yn.event_type = y.event_type
                      AND yn.hour = y.hour + INTERVAL 1 HOUR
        GROUP BY 1, 2, 3, 4, 5
    ),
    marg AS (
        SELECT src, dst, n_xyz,
               sum(n_xyz) OVER (PARTITION BY src, dst)         AS n,
               sum(n_xyz) OVER (PARTITION BY src, dst, yb)     AS n_y,
               sum(n_xyz) OVER (PARTITION BY src, dst, xb, yb) AS n_xy,
               sum(n_xyz) OVER (PARTITION BY src, dst, yb, ynb) AS n_yyn
        FROM triples
    )
    SELECT src, dst,
           round(sum((CAST(n_xyz AS DOUBLE) / n)
                     * ln(CAST(n_xyz AS DOUBLE) * n_y
                          / (CAST(n_xy AS DOUBLE) * n_yyn))), 6)
               AS transfer_entropy,
           CAST(max(n) AS BIGINT) AS n_transitions
    FROM marg
    GROUP BY src, dst
    ORDER BY src, dst
    """,
    doc="Lag-1 binned transfer entropy TE(src -> dst) for every "
    "ordered series pair — the directional, model-free causality "
    "measure (Schreiber 2000): how much knowing src at hour h "
    "reduces uncertainty about dst at h+1 beyond dst's own history. "
    "TE = sum p(y+,y,x) ln[ p(y+|y,x) / p(y+|y) ], estimated from "
    "the 2-bin-quantized hourly grid; all four marginals are window "
    "sums over the 8-cell triple histogram.  This is the descriptive "
    "twin of the AMTL B-matrix (reference model.py:166-184): "
    "asymmetric TE(a,b) vs TE(b,a) is exactly the directed-influence "
    "signal B learns.  After the first events aggregate everything "
    "runs on |series|^2 x 8 rows, independent of raw event volume.",
    tags=("causality", "timeseries", "stats", "bench"),
)
def transfer_entropy_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series_rounded(spark, sf_dir)
    edges = hourly.groupBy("event_type").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    binned = hourly.join(F.broadcast(edges), "event_type").select(
        "hour",
        "event_type",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(1),
                F.floor(
                    (F.col("v") - F.col("mn")) * 2.0 / (F.col("mx") - F.col("mn"))
                ).cast("int"),
            )
        )
        .alias("bin"),
    )
    # the triple self-join reads binned three times: checkpoint the
    # (tiny) binned grid so raw events are scanned + grid-aggregated
    # once, not once per join leg
    binned = binned.transform(ckpt)
    x, y, yn = binned.alias("x"), binned.alias("y"), binned.alias("yn")
    triples = (
        x.join(
            y,
            (F.col("y.hour") == F.col("x.hour"))
            & (F.col("y.event_type") != F.col("x.event_type")),
        )
        .join(
            yn,
            (F.col("yn.event_type") == F.col("y.event_type"))
            & (F.col("yn.hour") == F.col("y.hour") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(
            F.col("x.event_type").alias("src"),
            F.col("y.event_type").alias("dst"),
            F.col("x.bin").alias("xb"),
            F.col("y.bin").alias("yb"),
            F.col("yn.bin").alias("ynb"),
        )
        .agg(F.count("*").alias("n_xyz"))
    )
    wn = Window.partitionBy("src", "dst")
    wy = Window.partitionBy("src", "dst", "yb")
    wxy = Window.partitionBy("src", "dst", "xb", "yb")
    wyyn = Window.partitionBy("src", "dst", "yb", "ynb")
    marg = triples.select(
        "src",
        "dst",
        "n_xyz",
        F.sum("n_xyz").over(wn).alias("n"),
        F.sum("n_xyz").over(wy).alias("n_y"),
        F.sum("n_xyz").over(wxy).alias("n_xy"),
        F.sum("n_xyz").over(wyyn).alias("n_yyn"),
    )
    term = (F.col("n_xyz").cast("double") / F.col("n")) * F.log(
        F.col("n_xyz").cast("double")
        * F.col("n_y")
        / (F.col("n_xy").cast("double") * F.col("n_yyn"))
    )
    return (
        marg.groupBy("src", "dst")
        .agg(
            F.round(F.sum(term), 6).alias("transfer_entropy"),
            F.max("n").cast("bigint").alias("n_transitions"),
        )
        .orderBy("src", "dst")
    )


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, avg(v) AS mu, stddev_samp(v) AS sd
        FROM daily GROUP BY 1
    ),
    cusum AS (
        SELECT d.event_type, d.day,
               round(sum((d.v - s.mu) / s.sd)
                         OVER (PARTITION BY d.event_type
                               ORDER BY d.day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW), 4) AS s
        FROM daily d JOIN stats s ON d.event_type = s.event_type
    ),
    mx AS (
        SELECT event_type, max(abs(s)) AS max_abs_cusum,
               count(*) AS n_days,
               CAST(sum(CASE WHEN abs(s) > 3.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged
        FROM cusum GROUP BY 1
    )
    SELECT m.event_type, m.max_abs_cusum, m.n_days, m.n_flagged,
           min(c.day) AS changepoint_day
    FROM mx m JOIN cusum c
      ON c.event_type = m.event_type AND abs(c.s) = m.max_abs_cusum
    GROUP BY 1, 2, 3, 4
    ORDER BY 1
    """,
    doc="CUSUM change-point detection per element series: "
    "standardized daily deviations accumulate under an ordered "
    "window; the day where |CUSUM| peaks is the estimated mean-shift "
    "point, and days with |CUSUM| > 3 are flagged as drifted.  A "
    "structural break in one series is a confounder for every "
    "cross-series causality statistic, so this screen runs before "
    "the correlation/TE suite.  CUSUM values round to 4dp before the "
    "argmax so the peak day is engine-stable.  Per-series windows -> "
    "each series accumulates independently at scale; the argmax join "
    "runs on the tiny per-series max table.",
    tags=("causality", "timeseries", "stats"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the grid feeds the moment scalars AND the cusum window: cut the
    # lineage so the events reduce runs once
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("v")
    ).transform(ckpt)
    stats = daily.groupBy("event_type").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        F.round(F.sum((F.col("v") - F.col("mu")) / F.col("sd")).over(w), 4).alias("s"),
    )
    mx = cusum.groupBy("event_type").agg(
        F.max(F.abs("s")).alias("max_abs_cusum"),
        F.count("*").alias("n_days"),
        F.sum(F.when(F.abs("s") > 3.0, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
    )
    return (
        mx.join(cusum.select("event_type", "day", "s"), "event_type")
        .filter(F.abs("s") == F.col("max_abs_cusum"))
        .groupBy("event_type", "max_abs_cusum", "n_days", "n_flagged")
        .agg(F.min("day").alias("changepoint_day"))
        .orderBy("event_type")
    )


@register(
    "dtw_distance_pairs",
    # The DP recurrence IS oracle-expressible: a wavefront over
    # anti-diagonals d = i + j has no within-step dependency (cell
    # (i, j) needs only diagonals d-1 and d-2), so a DuckDB recursive
    # CTE carrying two diagonal LISTs replays the banded DP exactly.
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT event_type, list(v ORDER BY day) AS vs
        FROM daily GROUP BY 1
    ),
    raw AS (
        SELECT a.event_type AS series_a, b.event_type AS series_b,
               a.vs AS x0, b.vs AS y0
        FROM series a JOIN series b ON a.event_type < b.event_type
    ),
    prep AS (
        SELECT series_a, series_b,
               list_transform(x0, v -> CASE WHEN xs > 0 THEN (v - xm) / xs
                                            ELSE v - xm END) AS x,
               list_transform(y0, v -> CASE WHEN ys > 0 THEN (v - ym) / ys
                                            ELSE v - ym END) AS y,
               len(x0) AS n, len(y0) AS m,
               greatest(7, abs(len(x0) - len(y0))) AS band
        FROM (
            SELECT series_a, series_b, x0, y0,
                   list_avg(x0) AS xm, list_avg(y0) AS ym,
                   sqrt(list_avg(list_transform(
                       x0, v -> (v - list_avg(x0)) * (v - list_avg(x0))))) AS xs,
                   sqrt(list_avg(list_transform(
                       y0, v -> (v - list_avg(y0)) * (v - list_avg(y0))))) AS ys
            FROM raw
        )
    ),
    wave AS (
        SELECT series_a, series_b, x, y, n, m, band, 0 AS d,
               [0.0]::DOUBLE[] AS cur, NULL::DOUBLE[] AS prev
        FROM prep
        UNION ALL
        SELECT series_a, series_b, x, y, n, m, band, d + 1,
               list_transform(range(greatest(0, d + 1 - m),
                                    least(n, d + 1) + 1), i ->
                 CASE
                   WHEN i = 0 OR (d + 1 - i) = 0 THEN 'infinity'::DOUBLE
                   WHEN abs(i - (d + 1 - i)) > band THEN 'infinity'::DOUBLE
                   ELSE abs(list_extract(x, i) - list_extract(y, d + 1 - i))
                        + least(
                            CASE WHEN i - 1 >= greatest(0, d - m)
                                      AND i - 1 <= least(n, d)
                                 THEN list_extract(cur,
                                      i - 1 - greatest(0, d - m) + 1)
                                 ELSE 'infinity'::DOUBLE END,
                            CASE WHEN i >= greatest(0, d - m)
                                      AND i <= least(n, d)
                                 THEN list_extract(cur,
                                      i - greatest(0, d - m) + 1)
                                 ELSE 'infinity'::DOUBLE END,
                            CASE WHEN prev IS NOT NULL
                                      AND i - 1 >= greatest(0, d - 1 - m)
                                      AND i - 1 <= least(n, d - 1)
                                 THEN list_extract(prev,
                                      i - 1 - greatest(0, d - 1 - m) + 1)
                                 ELSE 'infinity'::DOUBLE END)
                 END),
               cur
        FROM wave WHERE d < n + m
    )
    SELECT series_a, series_b,
           round(list_extract(cur, 1), 6) AS dtw_distance,
           CAST(n AS INT) AS len_a, CAST(m AS INT) AS len_b
    FROM wave WHERE d = n + m
    ORDER BY series_a, series_b
    """,
    doc="Dynamic-time-warping distance between every unordered "
    "series pair, over z-normalized daily aggregates — the "
    "alignment-tolerant similarity screen for series whose causal "
    "coupling has variable delay (a fixed-lag correlation misses "
    "time-warped coupling).  Daily grids are tiny "
    "(|days| x |series|), collected per series via sorted "
    "collect_list, pair-joined (|series|^2 / 2 rows), and the DP "
    "runs in an Arrow-batched self-contained pandas kernel with a "
    "Sakoe-Chiba band (|i-j| <= 7) — O(len x band) per pair, and "
    "pairs distribute across executors.  At 100 TB the reduction to "
    "daily grids happens map-side; Python only ever sees "
    "band-bounded DP on short arrays.  The oracle replays the exact "
    "banded DP as a recursive-CTE WAVEFRONT over anti-diagonals "
    "(d = i + j): each diagonal depends only on the previous two, so "
    "there is no within-step recurrence and the whole table "
    "value-checks end-to-end (plus the numpy-golden pytest).",
    tags=("causality", "timeseries", "udf"),
)
def dtw_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("pts")
    ).select("event_type", F.col("pts.v").alias("vs"))
    a, b = series.alias("a"), series.alias("b")
    pairs = a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("series_a"),
        F.col("b.event_type").alias("series_b"),
        F.col("a.vs").alias("vs_a"),
        F.col("b.vs").alias("vs_b"),
    )

    def dtw(batches):
        # self-contained kernel: numpy/pandas only (worker sys.path)
        import numpy as np
        import pandas as pd

        for pdf in batches:
            yield _dtw_batch(pdf, np, pd)

    def _dtw_batch(pdf, np, pd):
        out = []
        for row in pdf.itertuples(index=False):
            x = np.asarray(row.vs_a, dtype="float64")
            y = np.asarray(row.vs_b, dtype="float64")
            x = (x - x.mean()) / (x.std() if x.std() > 0 else 1.0)
            y = (y - y.mean()) / (y.std() if y.std() > 0 else 1.0)
            n, m = len(x), len(y)
            band = max(7, abs(n - m))
            inf = float("inf")
            dp = np.full((n + 1, m + 1), inf)
            dp[0, 0] = 0.0
            for i in range(1, n + 1):
                lo = max(1, i - band)
                hi = min(m, i + band)
                for j in range(lo, hi + 1):
                    c = abs(x[i - 1] - y[j - 1])
                    dp[i, j] = c + min(dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
            out.append(
                (row.series_a, row.series_b, round(float(dp[n, m]), 6), n, m)
            )
        return pd.DataFrame(
            out, columns=["series_a", "series_b", "dtw_distance", "len_a", "len_b"]
        )

    return pairs.mapInPandas(
        dtw,
        "series_a string, series_b string, dtw_distance double, "
        "len_a int, len_b int",
    ).orderBy("series_a", "series_b")


_COSUPPLY_EDGES_ORACLE = """
    WITH pairs AS (
        SELECT l_partkey, l_suppkey FROM lineitem GROUP BY 1, 2
    ),
    part_deg AS (
        SELECT l_partkey, count(*) AS n_supp FROM pairs GROUP BY 1
    ),
    edges AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v
        FROM pairs a
        JOIN pairs b ON a.l_partkey = b.l_partkey
                    AND a.l_suppkey < b.l_suppkey
        JOIN part_deg d ON d.l_partkey = a.l_partkey
        WHERE d.n_supp <= 20
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
"""


@register(
    "cosupply_triangle_count",
    oracle=_COSUPPLY_EDGES_ORACLE
    + """
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    doc="Triangle counting on the supplier co-supply graph (edge = "
    "two suppliers sharing >= 3 parts, built from distinct "
    "(part, supplier) pairs with a hot-part degree cut n_supp <= 20 "
    "so no single part explodes the pair join — the same guard "
    "discipline as the LSH hot-bucket cap).  Triangles count via the "
    "canonical ordered two-join (u<v<w), each join keyed on a vertex "
    "— two keyed shuffles over the edge list, never over raw "
    "lineitem.  Graph clustering coefficient is the standard "
    "screen for whether co-occurrence structure is modular or "
    "uniform before reading causal signal into it.",
    tags=("causality", "graph"),
)
def cosupply_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    part_deg = pairs.groupBy("l_partkey").agg(F.count("*").alias("n_supp"))
    a, b = pairs.alias("a"), pairs.alias("b")
    edges = (
        a.join(b, (F.col("a.l_partkey") == F.col("b.l_partkey"))
               & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
        .join(
            part_deg.filter(F.col("n_supp") <= 20).select(
                F.col("l_partkey").alias("d_partkey")
            ),
            F.col("a.l_partkey") == F.col("d_partkey"),
        )
        .groupBy(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
        .select("u", "v")
    )
    # three join legs read the same edge list: build it once
    edges = edges.transform(ckpt)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return tri.crossJoin(
        F.broadcast(edges.agg(F.count("*").cast("bigint").alias("n_edges")))
    )


def _pagerank_oracle(n_iter: int = 10, d: float = 0.85) -> str:
    """Mechanically unrolled power iteration (ANSI recursive CTEs
    forbid aggregation in the recursive member, so each step is its
    own CTE): pr_{k+1}(v) = (1-d)/N + d * sum_{u->v} pr_k(u)/deg(u)
    over the symmetrized co-supply edge list."""
    steps = []
    for k in range(n_iter):
        steps.append(
            f"""pr{k + 1} AS (
        SELECT s.v AS node,
               (1 - {d}) / nn.n + {d} * sum(p.r / dg.deg) AS r
        FROM sym s
        JOIN pr{k} p ON p.node = s.u
        JOIN deg dg  ON dg.node = s.u
        CROSS JOIN nn
        GROUP BY s.v, nn.n
    )"""
        )
    return (
        _COSUPPLY_EDGES_ORACLE
        + """,
    sym AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1),
    nn AS (SELECT count(DISTINCT u) AS n FROM sym),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
    """
        + ",\n    ".join(steps)
        + f"""
    SELECT node AS supplier, round(r, 8) AS pagerank
    FROM pr{n_iter}
    ORDER BY pagerank DESC, supplier
    """
    )


@register(
    "cosupply_pagerank",
    oracle=_pagerank_oracle(),
    doc="PageRank (10 power iterations, d=0.85) over the symmetrized "
    "supplier co-supply graph — the influence ranking that "
    "complements triangle counting on the same edge list.  Spark "
    "runs the textbook iterative-DataFrame loop: each step is one "
    "keyed join of the rank vector against the edge list plus a "
    "grouped sum, with localCheckpoint every 4 rounds to truncate "
    "lineage (same discipline as operators/graph.py connected "
    "components).  The DuckDB oracle unrolls the identical 10 steps "
    "as chained CTEs, so every rank is hash-checked — no golden "
    "file.  At scale the rank vector is |V| rows against |E| edges "
    "per step, both partitioned on the join key; no driver-side "
    "state beyond the loop counter.",
    tags=("causality", "graph"),
)
def cosupply_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    part_deg = pairs.groupBy("l_partkey").agg(F.count("*").alias("n_supp"))
    a, b = pairs.alias("a"), pairs.alias("b")
    edges = (
        a.join(b, (F.col("a.l_partkey") == F.col("b.l_partkey"))
               & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
        .join(
            part_deg.filter(F.col("n_supp") <= 20).select(
                F.col("l_partkey").alias("d_partkey")
            ),
            F.col("a.l_partkey") == F.col("d_partkey"),
        )
        .groupBy(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
        .select("u", "v")
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(ckpt_eager)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    n_nodes = sym.select("u").distinct().count()
    d = 0.85
    ranks = deg.select(F.col("u").alias("node"), F.lit(1.0 / n_nodes).alias("r"))
    for k in range(10):
        contrib = (
            sym.join(ranks, sym.u == ranks.node)
            .join(deg, "u")
            .select("v", (F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = (
            contrib.groupBy("v")
            .agg(((1 - d) / n_nodes + d * F.sum("c")).alias("r"))
            .select(F.col("v").alias("node"), "r")
        )
        if k % 4 == 3:
            ranks = ranks.transform(ckpt_eager)
    return ranks.select(
        F.col("node").alias("supplier"), F.round("r", 8).alias("pagerank")
    ).orderBy(F.desc("pagerank"), "supplier")


@register(
    "kendall_tau_pairs",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT a.hour, a.event_type AS series_a, b.event_type AS series_b,
               a.v AS va, b.v AS vb
        FROM hourly a JOIN hourly b
          ON a.hour = b.hour AND a.event_type < b.event_type
    )
    SELECT g1.series_a, g1.series_b,
           round(CAST(sum(CASE WHEN (g1.va - g2.va) * (g1.vb - g2.vb) > 0
                               THEN 1 ELSE -1 END) AS DOUBLE)
                 / count(*), 4) AS kendall_tau,
           CAST(count(*) AS BIGINT) AS n_obs_pairs
    FROM grid g1
    JOIN grid g2 ON g1.series_a = g2.series_a
                AND g1.series_b = g2.series_b
                AND g1.hour < g2.hour
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Kendall's tau-a between element series: sign-concordance of "
    "every hour pair on the aligned hourly grid — the third rank "
    "screen beside Spearman (rank-linear) and Pearson (linear), "
    "robust to outliers that distort both.  The O(T^2) hour-pair "
    "join is per SERIES pair and the grid is the tiny hour x series "
    "reduction, so cost is |pairs| x T^2 grid rows, independent of "
    "raw event volume; at very long horizons the same query runs on "
    "a coarser (daily) grid or a sampled hour subset — the "
    "events-to-grid reduction stays the only full-data pass.  "
    "(No ties on 6dp-rounded continuous sums, so tau-a == tau-b "
    "here; ties would need the tau-b denominator correction.)",
    tags=("causality", "timeseries", "stats"),
)
def kendall_tau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series_rounded(spark, sf_dir)
    a, b = hourly.alias("a"), hourly.alias("b")
    grid = a.join(
        b,
        (F.col("a.hour") == F.col("b.hour"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.hour").alias("hour"),
        F.col("a.event_type").alias("series_a"),
        F.col("b.event_type").alias("series_b"),
        F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"),
    )
    g1, g2 = grid.alias("g1"), grid.alias("g2")
    sign = F.when(
        (F.col("g1.va") - F.col("g2.va")) * (F.col("g1.vb") - F.col("g2.vb")) > 0, 1
    ).otherwise(-1)
    return (
        g1.join(
            g2,
            (F.col("g1.series_a") == F.col("g2.series_a"))
            & (F.col("g1.series_b") == F.col("g2.series_b"))
            & (F.col("g1.hour") < F.col("g2.hour")),
        )
        .groupBy(F.col("g1.series_a").alias("series_a"), F.col("g1.series_b").alias("series_b"))
        .agg(
            F.round(F.sum(sign).cast("double") / F.count("*"), 4).alias("kendall_tau"),
            F.count("*").cast("bigint").alias("n_obs_pairs"),
        )
        .orderBy("series_a", "series_b")
    )


@register(
    "seasonal_decomposition_hourly",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT hour, event_type, v,
               avg(v) OVER (PARTITION BY event_type ORDER BY hour
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend,
               count(*) OVER (PARTITION BY event_type ORDER BY hour
                              ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS w
        FROM hourly
    ),
    detrended AS (
        SELECT event_type, CAST(hour(hour) AS INTEGER) AS hod,
               v - trend AS resid
        FROM trended WHERE w = 25
    )
    SELECT event_type, hod,
           round(avg(resid), 6) AS seasonal,
           round(stddev_samp(resid), 6) AS resid_sd,
           CAST(count(*) AS BIGINT) AS n
    FROM detrended
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Classical additive seasonal decomposition per element "
    "series: trend = centered 25-hour moving average (full-window "
    "rows only, so edges never bias the seasonal estimate), "
    "seasonal = mean detrended residual per hour-of-day, plus the "
    "residual spread.  A strong shared diurnal profile is the "
    "classic spurious-causality source — two series 'Granger-cause' "
    "each other through the clock — so this screen runs before "
    "reading the lagged statistics.  One series-keyed window pass "
    "over the grid, then a tiny (series x 24) aggregate.",
    tags=("causality", "timeseries", "stats"),
)
def seasonal_decomposition_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series_rounded(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-12, 12)
    trended = hourly.select(
        "hour",
        "event_type",
        "v",
        F.avg("v").over(w).alias("trend"),
        F.count("*").over(w).alias("w"),
    )
    detrended = trended.filter(F.col("w") == 25).select(
        "event_type",
        F.hour("hour").cast("int").alias("hod"),
        (F.col("v") - F.col("trend")).alias("resid"),
    )
    return (
        detrended.groupBy("event_type", "hod")
        .agg(
            F.round(F.avg("resid"), 6).alias("seasonal"),
            F.round(F.stddev_samp("resid"), 6).alias("resid_sd"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("event_type", "hod")
    )


@register(
    "mad_robust_anomalies",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, round(median(v), 6) AS med
        FROM daily GROUP BY 1
    ),
    dev AS (
        SELECT d.event_type, d.day, d.v, m.med,
               round(abs(d.v - m.med), 6) AS adev
        FROM daily d JOIN med m ON d.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, round(median(adev), 6) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(max(d.adev / (1.4826 * m.mad)), 4) AS max_robust_z,
           CAST(sum(CASE WHEN d.adev / (1.4826 * m.mad) > 3.5
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    doc="Robust anomaly detection per element series via the median "
    "absolute deviation (Hampel identifier): robust z = "
    "|v - median| / (1.4826 * MAD), flagged above 3.5 — unlike the "
    "mean/std rolling_zscore_anomalies, a single extreme day cannot "
    "inflate its own denominator and mask itself.  Two exact-median "
    "aggregates over the tiny daily grid (Spark 4 median() == "
    "DuckDB quantile_cont interpolation; inputs rounded 6dp so both "
    "engines interpolate identical operands), then one row-local "
    "classification pass.  Everything after the first events "
    "aggregate is |days| x |series| rows.",
    tags=("causality", "timeseries", "stats"),
)
def mad_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("v")
    ).transform(ckpt)
    med = daily.groupBy("event_type").agg(F.round(F.median("v"), 6).alias("med"))
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "v",
        F.round(F.abs(F.col("v") - F.col("med")), 6).alias("adev"),
    )
    dev = dev.transform(ckpt)  # feeds the MAD and the final scan
    mad = dev.groupBy("event_type").agg(F.round(F.median("adev"), 6).alias("mad"))
    rz = F.col("adev") / (1.4826 * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.max(rz), 4).alias("max_robust_z"),
            F.sum(F.when(rz > 3.5, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
        )
        .orderBy("event_type")
    )


@register(
    "last_touch_attribution",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_ts
        FROM events
    )
    SELECT coalesce(touch_type, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 4) AS attributed_value,
           round(avg(CASE WHEN touch_ts IS NOT NULL
                          THEN date_part('epoch', ts - touch_ts) END), 2)
               AS avg_gap_seconds
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Last-touch attribution — the marketing/causality staple: each "
    "purchase is attributed to the user's most recent PRECEDING "
    "non-purchase event (ignore-nulls last_value over a trailing "
    "frame), 'direct' when none exists; per channel, purchase count, "
    "attributed revenue, and mean touch→purchase gap.  One window "
    "shuffle keyed on user_id over the raw events, then a tiny "
    "channel rollup: the same single-pass shape at 100 TB (no "
    "self-join of purchases against touches, which would be "
    "quadratic in active users).  Parity: generalizes the reference's "
    "temporal-precedence counting (SURVEY §2.12) from series pairs to "
    "entity-level event attribution.",
    tags=("causality", "window", "timeseries"),
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(not_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
            F.round(
                F.avg(
                    F.when(
                        F.col("touch_ts").isNotNull(),
                        (F.unix_micros("ts") - F.unix_micros("touch_ts")) / 1e6,
                    )
                ),
                2,
            ).alias("avg_gap_seconds"),
        )
        .orderBy("channel")
    )


@register(
    "rolling_ols_slope",
    oracle=_HOURLY_ORACLE
    + """
    , idx AS (
        SELECT event_type,
               v,
               CAST(date_part('epoch', hour) / 3600 AS DOUBLE) AS x
        FROM hourly
    ),
    sums AS (
        SELECT event_type, x,
               count(*)  OVER w AS n,
               sum(x)    OVER w AS sx,
               sum(v)    OVER w AS sy,
               sum(x*v)  OVER w AS sxy,
               sum(x*x)  OVER w AS sxx
        FROM idx
        WINDOW w AS (PARTITION BY event_type ORDER BY x
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type AS series,
           round(min(slope), 6) AS min_slope,
           round(max(slope), 6) AS max_slope,
           round(avg(slope), 6) AS mean_slope,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM (
        SELECT event_type,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
        FROM sums
        WHERE n = 24
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Rolling 24-hour OLS trend slope per series over the hourly "
    "grid: closed-form slope from windowed sums (Σx, Σy, Σxy, Σx²) in "
    "a trailing 24-row frame — no per-window refit, no UDF; the "
    "applyInPandas global-fit counterpart is applyinpandas_trend_ols.  "
    "Windows run on the hour×series grid (volume-independent after "
    "the first map-side reduce), partitioned by series — never a "
    "global sort.  Emits per-series min/max/mean slope over all "
    "complete windows: the local-trend summary an analyst scans for "
    "regime shifts before running the AMTL loop.",
    tags=("causality", "window", "timeseries", "regression"),
)
def rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _hourly_series(spark, sf_dir)
    idx = grid.select(
        "event_type",
        "v",
        (F.unix_micros(F.col("hour")) / 3.6e9).cast("double").alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-23, Window.currentRow)
    )
    sums = idx.select(
        "event_type",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("v").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("v")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    ).filter(F.col("n") == 24)
    slopes = sums.select(
        "event_type",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope"),
    )
    return (
        slopes.groupBy(F.col("event_type").alias("series"))
        .agg(
            F.round(F.min("slope"), 6).alias("min_slope"),
            F.round(F.max("slope"), 6).alias("max_slope"),
            F.round(F.avg("slope"), 6).alias("mean_slope"),
            F.count("*").cast("bigint").alias("n_windows"),
        )
        .orderBy("series")
    )


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared co-supply edge list (u < v): suppliers sharing >= 3
    parts, hot-part degree cut n_supp <= 20 (same guard as the LSH
    hot-bucket cap)."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    part_deg = pairs.groupBy("l_partkey").agg(F.count("*").alias("n_supp"))
    a, b = pairs.alias("a"), pairs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .join(
            part_deg.filter(F.col("n_supp") <= 20).select(
                F.col("l_partkey").alias("d_partkey")
            ),
            F.col("a.l_partkey") == F.col("d_partkey"),
        )
        .groupBy(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
        .select("u", "v")
    )


@register(
    "cosupply_bfs_levels",
    oracle=_COSUPPLY_EDGES_ORACLE.replace("WITH", "WITH RECURSIVE", 1)
    + """
    , sym AS (
        SELECT u, v FROM edges
        UNION
        SELECT v AS u, u AS v FROM edges
    ),
    src AS (SELECT min(u) AS s FROM edges),
    bfs(node, dist) AS (
        SELECT s, 0 FROM src
        UNION
        SELECT sym.v, bfs.dist + 1
        FROM bfs JOIN sym ON sym.u = bfs.node
        WHERE bfs.dist < 4
    ),
    best AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
    SELECT CAST(dist AS INTEGER) AS level,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM best
    GROUP BY dist
    ORDER BY dist
    """,
    doc="BFS hop-distance levels (<= 4 hops) from the minimum-id "
    "supplier over the symmetrized co-supply graph: the iterative-"
    "DataFrame frontier expansion (join frontier -> edges, union, "
    "min-distance re-reduce per round) that underlies distributed "
    "shortest-path / reachability.  Each round is ONE keyed join of "
    "the frontier against the edge list plus a grouped min — the "
    "per-round cost follows the frontier, not the graph, and the "
    "loop composes lazily (no driver-side action inside).  The "
    "DuckDB oracle runs the same traversal as a recursive CTE, so "
    "every level's node census is hash-checked.  Complements "
    "cosupply_pagerank (influence) and connected components "
    "(operators/graph.py) on the same edge list.",
    tags=("causality", "graph"),
)
def cosupply_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cosupply_edges(spark, sf_dir).transform(ckpt)
    sym = (
        edges.select("u", "v")
        .unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        # read once per BFS round: compute the symmetrized list once
        .transform(ckpt)
    )
    dist = edges.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).alias("dist")
    )
    for level in range(1, 5):
        frontier = dist.filter(F.col("dist") == level - 1)
        nxt = (
            frontier.join(sym, frontier.node == sym.u)
            .select(F.col("v").alias("node"), F.lit(level).alias("dist"))
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return (
        dist.groupBy(F.col("dist").cast("int").alias("level"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("level")
    )


def _markov_oracle(n_iter: int = 10) -> str:
    """Unrolled power iteration for the stationary distribution (ANSI
    recursive CTEs forbid aggregation in the recursive member — same
    device as _pagerank_oracle): x_{k+1}(j) = Σ_i x_k(i)·P(i,j)."""
    steps = []
    for k in range(n_iter):
        steps.append(
            f"""x{k + 1} AS (
        SELECT p.s2 AS s, sum(x.x * p.p) AS x
        FROM x{k} x JOIN p ON p.s1 = x.s
        GROUP BY p.s2
    )"""
        )
    return (
        """
    WITH trans AS (
        SELECT event_type AS s1,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS s2
        FROM events
    ),
    c AS (
        SELECT s1, s2, CAST(count(*) AS DOUBLE) AS c
        FROM trans WHERE s2 IS NOT NULL GROUP BY 1, 2
    ),
    p AS (
        SELECT s1, s2, c / sum(c) OVER (PARTITION BY s1) AS p FROM c
    ),
    states AS (SELECT DISTINCT s1 AS s FROM c),
    x0 AS (
        SELECT s, 1.0 / (SELECT count(*) FROM states) AS x FROM states
    ),
    """
        + ",\n    ".join(steps)
        + f"""
    SELECT s AS state, round(x, 8) AS stationary_p
    FROM x{n_iter}
    ORDER BY s
    """
    )


@register(
    "markov_stationary_distribution",
    oracle=_markov_oracle(),
    doc="Stationary distribution of the event-type Markov chain: "
    "per-user transition bigrams (one user-keyed window pass over "
    "events), row-normalized into the transition matrix P, then 10 "
    "power iterations x·P from uniform — the long-run state occupancy "
    "implied by observed dynamics, the behavioral complement to the "
    "AMTL causality matrix.  After the first window pass everything "
    "runs on |states|² rows (25 here), independent of event volume; "
    "the Spark loop composes lazily (no driver action inside) and the "
    "oracle unrolls the identical 10 steps as chained CTEs, so every "
    "probability is hash-checked.",
    tags=("causality", "graph", "timeseries"),
)
def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.col("event_type").alias("s1"), F.lead("event_type").over(w).alias("s2")
    ).filter(F.col("s2").isNotNull())
    c = trans.groupBy("s1", "s2").agg(
        F.count("*").cast("double").alias("c")
    ).transform(ckpt)
    # the tiny |types|^2 matrix is re-joined by every power iteration:
    # cut the lineage so the events scan runs once, not once per round
    p = c.select(
        "s1", "s2", (F.col("c") / F.sum("c").over(Window.partitionBy("s1"))).alias("p")
    ).transform(ckpt)
    states = c.select(F.col("s1").alias("s")).distinct()
    n_states = states.agg(F.count("*").alias("n"))
    x = states.crossJoin(F.broadcast(n_states)).select(
        "s", (F.lit(1.0) / F.col("n")).alias("x")
    )
    for _ in range(10):
        x = (
            x.join(p, x.s == p.s1)
            .groupBy(F.col("s2").alias("s_next"))
            .agg(F.sum(F.col("x") * F.col("p")).alias("x"))
            .withColumnRenamed("s_next", "s")
        )
    return x.select(F.col("s").alias("state"), F.round("x", 8).alias("stationary_p")).orderBy(
        "state"
    )


@register(
    "welch_ttest_purchase_vs_view",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               avg(value) AS m,
               var_samp(value) AS v
        FROM events
        WHERE event_type IN ('purchase', 'view')
        GROUP BY event_type
    ),
    p AS (SELECT n AS n1, m AS m1, v AS v1 FROM g WHERE event_type = 'purchase'),
    w AS (SELECT n AS n2, m AS m2, v AS v2 FROM g WHERE event_type = 'view')
    SELECT round(m1, 6) AS mean_purchase,
           round(m2, 6) AS mean_view,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
           round(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)),
                 4) AS welch_df,
           CAST(n1 AS BIGINT) AS n_purchase,
           CAST(n2 AS BIGINT) AS n_view
    FROM p CROSS JOIN w
    """,
    doc="Welch's unequal-variance two-sample t-test between event-value "
    "distributions (purchase vs view) — the A/B-readout primitive: "
    "per-group moments (n, mean, sample variance) come from ONE "
    "map-side-partial aggregate pass, then the t statistic and "
    "Welch-Satterthwaite degrees of freedom are closed-form scalar "
    "arithmetic on two 1-row relations.  100 TB of observations "
    "reduce to six numbers before any join; no resampling, no UDF.",
    tags=("causality", "agg", "stats"),
)
def welch_ttest_purchase_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    p = g.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    w = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n2"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return p.crossJoin(F.broadcast(w)).select(
        F.round("m1", 6).alias("mean_purchase"),
        F.round("m2", 6).alias("mean_view"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            4,
        ).alias("welch_df"),
        F.col("n1").cast("bigint").alias("n_purchase"),
        F.col("n2").cast("bigint").alias("n_view"),
    )


@register(
    "chisq_type_by_segment",
    oracle="""
    WITH obs AS (
        SELECT event_type, user_id % 3 AS segment,
               CAST(count(*) AS DOUBLE) AS o
        FROM events GROUP BY 1, 2
    ),
    margins AS (
        SELECT event_type, segment, o,
               sum(o) OVER (PARTITION BY event_type) AS row_tot,
               sum(o) OVER (PARTITION BY segment) AS col_tot,
               sum(o) OVER () AS n
        FROM obs
    )
    SELECT round(sum(pow(o - row_tot * col_tot / n, 2)
                     / (row_tot * col_tot / n)), 6) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT segment) - 1) AS BIGINT) AS dof,
           CAST(max(n) AS BIGINT) AS n_events
    FROM margins
    """,
    doc="Chi-square test of independence between event type and a "
    "deterministic user segment (user_id mod 3) — the categorical "
    "association screen: observed counts from one aggregate pass, "
    "expected counts from margin windows over the TINY contingency "
    "table (|types| x |segments| rows), chi2 and degrees of freedom "
    "closed-form.  The window-over-everything is on 15 rows, not the "
    "facts — the same grid-first discipline as the causality screens.",
    tags=("causality", "agg", "stats"),
)
def chisq_type_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.col("user_id") % 3).alias("segment")
    ).agg(F.count("*").cast("double").alias("o"))
    margins = obs.select(
        "event_type",
        "segment",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("segment")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return margins.agg(
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("segment") - 1)
        ).cast("bigint").alias("dof"),
        F.max("n").cast("bigint").alias("n_events"),
    )


@register(
    "kaplan_meier_survival",
    oracle="""
    WITH last_ev AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    life AS (
        SELECT user_id,
               CAST(date_diff('day', min(ts), max(ts)) AS BIGINT) AS duration
        FROM events GROUP BY user_id
    ),
    per_user AS (
        SELECT l.user_id, l.duration,
               CAST(e.event_type = 'error' AS INTEGER) AS observed
        FROM life l
        JOIN last_ev e ON e.user_id = l.user_id AND e.rn = 1
    ),
    times AS (
        SELECT duration AS t,
               CAST(sum(observed) AS DOUBLE) AS d
        FROM per_user GROUP BY duration
        HAVING sum(observed) > 0
    ),
    at_risk AS (
        SELECT t, d,
               (SELECT CAST(count(*) AS DOUBLE) FROM per_user p
                WHERE p.duration >= times.t) AS n
        FROM times
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n AS BIGINT) AS at_risk,
           CAST(d AS BIGINT) AS deaths,
           round(exp(sum(ln(1 - d / n))
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
               AS survival
    FROM at_risk
    ORDER BY t_days
    """,
    doc="Kaplan-Meier survival estimator over user lifetimes: duration "
    "= days between a user's first and last event, 'death' = the "
    "lifetime ending in an error event (others censored).  The "
    "survival curve S(t) = prod(1 - d_i/n_i) computes as "
    "exp(running-sum(ln)) — the product-over-ordered-rows window "
    "trick, since neither engine has a product aggregate.  Scale "
    "shape: the facts reduce to ONE row per user in the first "
    "aggregate; every KM quantity (event times, deaths, at-risk "
    "counts, the curve) lives on the distinct-duration table, which "
    "is at most a few thousand rows regardless of event volume.  The "
    "at-risk counts come from a range join of distinct times against "
    "user durations — bounded by |times| x |users|, both post-reduce.",
    tags=("causality", "window", "stats", "timeseries"),
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("bigint").alias("duration"),
        (
            F.expr("max_by(event_type, struct(ts, event_id))") == "error"
        ).cast("int").alias("observed"),
    )
    times = (
        per_user.groupBy(F.col("duration").alias("t"))
        .agg(F.sum("observed").cast("double").alias("d"))
        .filter(F.col("d") > 0)
    )
    durations = per_user.select("duration")
    at_risk = (
        times.join(durations, durations.duration >= times.t)
        .groupBy("t", "d")
        .agg(F.count("*").cast("double").alias("n"))
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return at_risk.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n").cast("bigint").alias("at_risk"),
        F.col("d").cast("bigint").alias("deaths"),
        F.round(F.exp(F.sum(F.log(1 - F.col("d") / F.col("n"))).over(w)), 6).alias(
            "survival"
        ),
    ).orderBy("t_days")


@register(
    "activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS daynum
        FROM events
    ),
    islands AS (
        SELECT user_id, daynum,
               daynum - row_number() OVER (PARTITION BY user_id
                                           ORDER BY daynum) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island, count(*) AS len
        FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Gaps-and-islands: per-user consecutive-day activity streaks "
    "via the classic daynum - row_number() island key (consecutive "
    "days share a constant difference), then per-island lengths and "
    "per-user longest streak / streak count / active days.  Distinct "
    "user-days reduce map-side first, and both the island window and "
    "the rollups key on user_id — one shuffle end-to-end.  The "
    "calendar-gap semantics are what sessionize_events (time-gap "
    "sessions) cannot express.",
    tags=("window", "timeseries", "causality"),
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "daynum"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("daynum")
    islands = days.withColumn("island", F.col("daynum") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.sum("len").cast("bigint").alias("active_days"),
        )
        .orderBy("user_id")
    )


def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    """Unrolled bounded peeling (each round = degree filter + edge
    semi-restriction), same device as _pagerank_oracle/_markov_oracle."""
    steps = []
    for r in range(rounds):
        steps.append(
            f"""deg{r + 1} AS (
        SELECT u, count(*) AS c FROM sym{r} GROUP BY u
    ),
    keep{r + 1} AS (SELECT u FROM deg{r + 1} WHERE c >= {k}),
    sym{r + 1} AS (
        SELECT s.u, s.v
        FROM sym{r} s
        JOIN keep{r + 1} a ON a.u = s.u
        JOIN keep{r + 1} b ON b.u = s.v
    )"""
        )
    return (
        _COSUPPLY_EDGES_ORACLE
        + """,
    sym0 AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    """
        + ",\n    ".join(steps)
        + f"""
    SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_core_nodes,
           CAST(count(*) AS BIGINT) AS n_directed_edges,
           CAST(coalesce(min(u), -1) AS BIGINT) AS min_node,
           CAST(coalesce(max(u), -1) AS BIGINT) AS max_node
    FROM sym{rounds}
    """
    )


@register(
    "cosupply_kcore",
    oracle=_kcore_oracle(),
    doc="Bounded k-core peeling (k=3, 4 rounds) over the symmetrized "
    "co-supply graph: each round drops nodes of degree < k and "
    "restricts the edge list to survivors — the dense-substructure "
    "screen (a 3-core is where clustering/causal co-occurrence signal "
    "concentrates; degree-1/2 tendrils are noise).  Each round is one "
    "grouped degree count + two semi-restrictions keyed on a vertex, "
    "cost shrinking monotonically as the graph peels; the loop "
    "composes lazily and the DuckDB oracle unrolls the identical "
    "rounds, so the surviving census is hash-checked.  Four rounds "
    "bound the lineage; on this fixture peeling converges earlier "
    "(a fixpoint round is a no-op, so extra rounds are harmless).",
    tags=("causality", "graph"),
)
def cosupply_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, rounds = 3, 4
    edges = _cosupply_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    for _ in range(rounds):
        # each round reads sym three times (degree count + two semi
        # restrictions): without lineage truncation the plan tree grows
        # 3^rounds copies of the edge-build subtree and plan
        # canonicalization OOMs the driver — same discipline as
        # cosupply_pagerank / operators/graph.py
        sym = sym.transform(ckpt)
        keep = (
            sym.groupBy("u")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= k)
            .select("u")
        )
        sym = (
            sym.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
    return sym.agg(
        F.countDistinct("u").cast("bigint").alias("n_core_nodes"),
        F.count("*").cast("bigint").alias("n_directed_edges"),
        F.coalesce(F.min("u"), F.lit(-1)).cast("bigint").alias("min_node"),
        F.coalesce(F.max("u"), F.lit(-1)).cast("bigint").alias("max_node"),
    )


@register(
    "holt_linear_smoothing",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               sum(value) AS v
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    holt(event_type, i, n, l, b) AS (
        SELECT event_type, i, n, v, CAST(0 AS DOUBLE) FROM seq WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.i, s.n,
               0.3 * s.v + 0.7 * (h.l + h.b),
               0.2 * ((0.3 * s.v + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b
        FROM holt h
        JOIN seq s ON s.event_type = h.event_type AND s.i = h.i + 1
    )
    SELECT event_type AS series,
           round(l, 6) AS final_level,
           round(b, 6) AS final_trend,
           round(l + b, 6) AS forecast_next,
           CAST(n AS BIGINT) AS n_days
    FROM holt
    WHERE i = n
    ORDER BY series
    """,
    doc="Holt linear (double-exponential) smoothing per series over "
    "the daily grid — level+trend recurrence l_t = αv_t + (1−α)(l+b), "
    "b_t = β(l_t − l) + (1−β)b with α=0.3, β=0.2, trend initialized "
    "at 0.  Spark executes it as ONE ordered array fold per series "
    "(collect the post-reduce daily values, aggregate() with a "
    "(level, trend) struct accumulator — the idiomatic recurrence "
    "path EWMA already uses, sequential in the fold but over the "
    "volume-independent daily grid); the DuckDB oracle runs the "
    "identical recurrence as a recursive CTE, so both engines fold "
    "left-to-right in double and every smoothed value hash-checks.  "
    "Emits final level/trend and the one-step forecast.",
    tags=("causality", "timeseries", "regression"),
)
def holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("v"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("pts")
    )
    fold = F.expr(
        """
        aggregate(
            slice(pts, 2, size(pts) - 1),
            named_struct('l', pts[0].v, 'b', cast(0 as double)),
            (acc, p) -> named_struct(
                'l', 0.3 * p.v + 0.7 * (acc.l + acc.b),
                'b', 0.2 * ((0.3 * p.v + 0.7 * (acc.l + acc.b)) - acc.l) + 0.8 * acc.b
            )
        )
        """
    )
    return (
        series.select(
            F.col("event_type").alias("series"),
            fold.alias("hb"),
            F.size("pts").cast("bigint").alias("n_days"),
        )
        .select(
            "series",
            F.round(F.col("hb.l"), 6).alias("final_level"),
            F.round(F.col("hb.b"), 6).alias("final_trend"),
            F.round(F.col("hb.l") + F.col("hb.b"), 6).alias("forecast_next"),
            "n_days",
        )
        .orderBy("series")
    )


@register(
    "conversion_lag_percentiles",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_view_ts
        FROM events
    ),
    lags AS (
        SELECT user_id % 3 AS segment,
               date_part('epoch', ts - last_view_ts) AS lag_s
        FROM tagged
        WHERE event_type = 'purchase' AND last_view_ts IS NOT NULL
    )
    SELECT CAST(segment AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_conversions,
           round(quantile_cont(lag_s, 0.5), 2) AS p50_lag_s,
           round(quantile_cont(lag_s, 0.9), 2) AS p90_lag_s,
           round(avg(lag_s), 2) AS mean_lag_s
    FROM lags
    GROUP BY segment
    ORDER BY segment
    """,
    doc="View→purchase conversion-lag percentiles per user segment: "
    "each purchase pairs with the user's most recent preceding view "
    "(ignore-nulls last_value trailing frame — the same single-pass "
    "pairing as last_touch_attribution, never a purchase×view "
    "self-join), lags aggregate to exact interpolated p50/p90 per "
    "segment (Spark percentile ≡ DuckDB quantile_cont).  The latency "
    "distribution between cause and effect events is the descriptive "
    "complement to temporal_precedence_counts.  One user-keyed window "
    "shuffle + one tiny rollup at any scale.",
    tags=("causality", "window", "timeseries", "stats"),
)
def conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True
        )
        .over(w)
        .alias("last_view_ts"),
    )
    lags = tagged.filter(
        (F.col("event_type") == "purchase") & F.col("last_view_ts").isNotNull()
    ).select(
        (F.col("user_id") % 3).alias("segment"),
        ((F.unix_micros("ts") - F.unix_micros("last_view_ts")) / 1e6).alias("lag_s"),
    )
    return (
        lags.groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            F.round(F.expr("percentile(lag_s, 0.5)"), 2).alias("p50_lag_s"),
            F.round(F.expr("percentile(lag_s, 0.9)"), 2).alias("p90_lag_s"),
            F.round(F.avg("lag_s"), 2).alias("mean_lag_s"),
        )
        .select(
            F.col("segment").cast("bigint").alias("segment"),
            "n_conversions",
            "p50_lag_s",
            "p90_lag_s",
            "mean_lag_s",
        )
        .orderBy("segment")
    )


@register(
    "cosupply_link_prediction",
    oracle=_COSUPPLY_EDGES_ORACLE
    + """,
    sym AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY 1),
    common AS (
        SELECT a.u AS x, b.u AS y, count(*) AS cn
        FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
        GROUP BY 1, 2
    ),
    existing AS (SELECT u AS x, v AS y FROM edges),
    cand AS (
        SELECT c.x, c.y, c.cn
        FROM common c
        LEFT JOIN existing e ON e.x = c.x AND e.y = c.y
        WHERE e.x IS NULL
    )
    SELECT c.x AS supp_a, c.y AS supp_b,
           CAST(c.cn AS BIGINT) AS common_neighbors,
           round(CAST(c.cn AS DOUBLE) / (da.d + db.d - c.cn), 6) AS jaccard
    FROM cand c
    JOIN deg da ON da.node = c.x
    JOIN deg db ON db.node = c.y
    WHERE c.cn >= 2
    ORDER BY jaccard DESC, supp_a, supp_b
    """,
    doc="Link prediction on the co-supply graph: non-adjacent supplier "
    "pairs ranked by neighbor-set Jaccard (common neighbors over "
    "union) — 'which co-supply edge forms next', the graph-structural "
    "prior that complements the AMTL-learned transfer matrix.  "
    "Candidates come from the wedge join (pairs sharing >= 1 "
    "neighbor, keyed on the shared vertex) — never all-pairs — then "
    "an anti-join removes existing edges and a cn >= 2 cut bounds "
    "output; the wedge join inherits the edge list's degree cap, so "
    "cost follows wedge count.  Fully hash-checked.",
    tags=("causality", "graph", "join"),
)
def cosupply_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cosupply_edges(spark, sf_dir).transform(ckpt)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    a = sym.select(F.col("u").alias("x"), F.col("v").alias("w"))
    b = sym.select(F.col("u").alias("y"), F.col("v").alias("w"))
    common = (
        a.join(b, "w")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("cn"))
    )
    cand = common.join(
        edges.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_anti",
    ).filter(F.col("cn") >= 2)
    da = deg.select(F.col("node").alias("x"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("y"), F.col("d").alias("db"))
    return (
        cand.join(da, "x")
        .join(db, "y")
        .select(
            F.col("x").alias("supp_a"),
            F.col("y").alias("supp_b"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double") / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("supp_a"), F.asc("supp_b"))
    )


@register(
    "cross_correlation_function",
    oracle=_HOURLY_ORACLE
    + """
    , lags AS (SELECT unnest(range(-3, 4)) AS lag)
    SELECT a.event_type AS series_a,
           b.event_type AS series_b,
           CAST(l.lag AS INTEGER) AS lag,
           round(corr(a.v, b.v), 6) AS ccf,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM hourly a
    CROSS JOIN lags l
    JOIN hourly b ON b.event_type <> a.event_type
                 AND b.hour = a.hour + l.lag * INTERVAL 1 HOUR
    WHERE a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type, l.lag
    HAVING count(*) >= 24
    ORDER BY series_a, series_b, lag
    """,
    doc="Full cross-correlation function: corr(a_t, b_{t+k}) for lags "
    "k = -3..+3 hours over every ordered series pair — the standard "
    "lead/lag-structure profile (an asymmetric CCF peak is the "
    "classic direction hint lagged_cross_correlation reads at k=1 "
    "only).  The 7-row lag spine cross-joins the volume-independent "
    "hourly grid before one equi-join on the shifted hour — the pair "
    "join stays keyed on (hour, series), cost |grid|·|lags|, never "
    "touching raw events after the first reduce.",
    tags=("causality", "timeseries", "join"),
)
def cross_correlation_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _hourly_series(spark, sf_dir)
    lags = grid.sparkSession.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = grid.select(
        F.col("event_type").alias("series_a"), F.col("hour").alias("hour_a"), F.col("v").alias("va")
    )
    b = grid.select(
        F.col("event_type").alias("series_b"), F.col("hour").alias("hour_b"), F.col("v").alias("vb")
    )
    shifted = a.crossJoin(F.broadcast(lags)).withColumn(
        "hour_match", F.col("hour_a") + F.make_interval(hours=F.col("lag"))
    )
    return (
        shifted.join(
            b,
            (F.col("hour_b") == F.col("hour_match"))
            & (F.col("series_a") < F.col("series_b")),
        )
        .groupBy("series_a", "series_b", "lag")
        .agg(
            F.round(F.corr("va", "vb"), 6).alias("ccf"),
            F.count("*").cast("bigint").alias("n_hours"),
        )
        .filter(F.col("n_hours") >= 24)
        .select("series_a", "series_b", F.col("lag").cast("int").alias("lag"), "ccf", "n_hours")
        .orderBy("series_a", "series_b", "lag")
    )


@register(
    "series_gap_report",
    oracle=_HOURLY_ORACLE
    + """
    , bounds AS (SELECT min(hour) AS mn, max(hour) AS mx FROM hourly),
    spine AS (
        SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    series AS (SELECT DISTINCT event_type FROM hourly),
    expected AS (SELECT s.event_type, sp.hour FROM series s CROSS JOIN spine sp),
    missing AS (
        SELECT e.event_type, e.hour
        FROM expected e
        LEFT JOIN hourly h ON h.event_type = e.event_type AND h.hour = e.hour
        WHERE h.hour IS NULL
    )
    SELECT s.event_type AS series,
           CAST((SELECT count(*) FROM spine) AS BIGINT) AS n_expected_hours,
           CAST(count(m.hour) AS BIGINT) AS n_missing,
           min(m.hour) AS first_gap
    FROM series s LEFT JOIN missing m ON m.event_type = s.event_type
    GROUP BY s.event_type
    ORDER BY series
    """,
    doc="Completeness / gap report per series: the full hour spine "
    "(one sequence() from the 2-scalar bounds aggregate) crossed with "
    "the tiny series dimension, anti-joined against the observed "
    "hour×series grid — missing-hour count and first gap per series, "
    "the data-quality precondition every time-series screen in this "
    "module assumes (resample_ffill_hourly is the repair; this is "
    "the audit).  Spine size is calendar-bounded; the only fact scan "
    "is the grid aggregate.",
    tags=("causality", "timeseries", "dataops"),
)
def series_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _hourly_series(spark, sf_dir).transform(ckpt)
    bounds = grid.agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    ).transform(ckpt)
    series = grid.select("event_type").distinct()
    expected = series.crossJoin(F.broadcast(spine))
    missing = expected.join(grid, ["event_type", "hour"], "left_anti")
    n_spine = spine.agg(F.count("*").alias("n_expected_hours"))
    return (
        series.join(
            missing.groupBy("event_type").agg(
                F.count("*").alias("nm"), F.min("hour").alias("first_gap")
            ),
            "event_type",
            "left",
        )
        .crossJoin(F.broadcast(n_spine))
        .select(
            F.col("event_type").alias("series"),
            F.col("n_expected_hours").cast("bigint").alias("n_expected_hours"),
            F.coalesce(F.col("nm"), F.lit(0)).cast("bigint").alias("n_missing"),
            "first_gap",
        )
        .orderBy("series")
    )


@register(
    "session_pmi_pairs",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_type,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    st AS (
        SELECT DISTINCT user_id, session_id, event_type FROM sess
    ),
    ns AS (SELECT CAST(count(DISTINCT (user_id, session_id)) AS DOUBLE) AS n
           FROM st),
    tcount AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS c FROM st GROUP BY 1
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS DOUBLE) AS c_ab
        FROM st a
        JOIN st b ON b.user_id = a.user_id AND b.session_id = a.session_id
                 AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.c_ab AS BIGINT) AS n_cooccur,
           round(ln((p.c_ab / ns.n) / ((ta.c / ns.n) * (tb.c / ns.n))), 6) AS pmi
    FROM pairs p
    JOIN tcount ta ON ta.event_type = p.type_a
    JOIN tcount tb ON tb.event_type = p.type_b
    CROSS JOIN ns
    ORDER BY type_a, type_b
    """,
    doc="Session-level pointwise mutual information between event "
    "types: sessionize (30-min gap, the engine's standard "
    "sessionization), reduce to distinct (session, type) incidences, "
    "then PMI = ln(p(a,b)/(p(a)p(b))) over the session universe — "
    "'which behaviors co-occur in one sitting beyond chance', the "
    "session-granular complement to pairwise_mutual_information's "
    "hourly binning.  The pair join runs on the per-session distinct "
    "type sets (≤ |types| rows per session, never raw events); type "
    "marginals and the session count are tiny broadcasts.",
    tags=("causality", "timeseries", "stats"),
)
def session_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    st = (
        flagged.select(
            "user_id",
            "event_type",
            F.sum("new_session").over(run).alias("session_id"),
        )
        .distinct()
        .transform(ckpt)
    )
    ns = st.select("user_id", "session_id").distinct().agg(
        F.count("*").cast("double").alias("n")
    )
    tcount = st.groupBy("event_type").agg(F.count("*").cast("double").alias("c"))
    a = st.select("user_id", "session_id", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "session_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("double").alias("c_ab"))
    )
    ta = tcount.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    tb = tcount.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(ns))
        .select(
            "type_a",
            "type_b",
            F.col("c_ab").cast("bigint").alias("n_cooccur"),
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n"))
                    / ((F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "interarrival_burst_stats",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               date_part('epoch', ts - lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)) AS gap_s
        FROM events
    ),
    g AS (SELECT * FROM gaps WHERE gap_s IS NOT NULL)
    SELECT event_type AS series,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(count(*) FILTER (WHERE gap_s < 3600) AS BIGINT)
               AS n_bursts_1h,
           round(quantile_cont(gap_s, 0.5), 2) AS p50_gap_s,
           round(min(gap_s), 2) AS min_gap_s
    FROM g
    GROUP BY event_type
    ORDER BY series
    """,
    doc="Inter-arrival gap / burst statistics per series: the gap to "
    "the previous same-type event of the same user (one lag window), "
    "then per-type burst count (repeats within the hour — the "
    "at-least-once-delivery and bot-burst screen), exact median gap, "
    "and minimum gap.  Linear in events — adjacent-pair gaps via lag "
    "replace the quadratic same-user self-join a naive duplicate "
    "detector would run; one user-keyed window shuffle + a 5-row "
    "rollup.  A min_gap near zero flags duplicate delivery; a heavy "
    "sub-hour burst mass flags automation.",
    tags=("causality", "window", "timeseries", "dataops"),
)
def interarrival_burst_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1e6).alias(
            "gap_s"
        ),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy(F.col("event_type").alias("series"))
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.sum((F.col("gap_s") < 3600).cast("int")).cast("bigint").alias(
                "n_bursts_1h"
            ),
            F.round(F.expr("percentile(gap_s, 0.5)"), 2).alias("p50_gap_s"),
            F.round(F.min("gap_s"), 2).alias("min_gap_s"),
        )
        .orderBy("series")
    )


# --- Round-6 additions: inferential causality screens -----------------
#
# The descriptive screens above say "a and b move together / a leads
# b"; the four queries below add the *inferential* toolkit an analyst
# reaches for next: a proper Granger F-test (is the lag term worth its
# degree of freedom), convergent cross-mapping (state-space causality
# for coupled nonlinear systems, Sugihara et al. 2012), the PC
# algorithm's order-<=1 skeleton (constraint-based edge pruning via
# partial-correlation CI tests), and a per-entity excitation ratio
# (the Hawkes-flavoured observed-vs-independence screen).  All stay on
# the volume-independent hourly grid / per-entity count tables and all
# carry full DuckDB oracles.


@register(
    "granger_f_lag1",
    oracle=_HOURLY_ORACLE
    + """
    , joined AS (
        SELECT l.event_type AS cause, f.event_type AS effect,
               f.v AS y, fl.v AS ylag, l.v AS xlag
        FROM hourly f
        JOIN hourly fl ON fl.event_type = f.event_type
                      AND fl.hour = f.hour - INTERVAL 1 HOUR
        JOIN hourly l  ON l.event_type <> f.event_type
                      AND l.hour = f.hour - INTERVAL 1 HOUR
    ),
    moments AS (
        SELECT cause, effect,
               CAST(count(*) AS BIGINT) AS n_hours,
               corr(y, ylag) AS r_yy, corr(y, xlag) AS r_yx,
               corr(ylag, xlag) AS r_lx
        FROM joined GROUP BY 1, 2
    ),
    fits AS (
        SELECT cause, effect, n_hours,
               r_yy * r_yy AS r2_r,
               (r_yy*r_yy + r_yx*r_yx - 2*r_yy*r_yx*r_lx)
                   / (1 - r_lx*r_lx) AS r2_u
        FROM moments
    )
    SELECT cause, effect, n_hours,
           round(r2_u - r2_r, 6) AS r2_gain,
           round((r2_u - r2_r) / (1 - r2_u) * (n_hours - 3), 4) AS f_stat
    FROM fits
    ORDER BY cause, effect
    """,
    doc="Proper Granger causality F-test at lag 1: restricted model "
    "y_t ~ y_{t-1} vs unrestricted y_t ~ y_{t-1} + x_{t-1}, both fit "
    "in closed form from one correlation-aggregate pass over the "
    "calendar-aligned lag join (R2_u from the two-regressor "
    "correlation identity, F = (R2_u-R2_r)/(1-R2_u)*(n-3)).  The "
    "grid is checkpointed and read three times (t, own lag, cross "
    "lag); no per-pair second pass, no solver — 100 TB of events "
    "reduce to |series|^2 moment rows before any arithmetic.",
    tags=("causality", "timeseries", "stats"),
)
def granger_f_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir).transform(ckpt)
    f_, fl, l_ = h.alias("f"), h.alias("fl"), h.alias("l")
    joined = (
        f_.join(
            fl,
            (F.col("fl.event_type") == F.col("f.event_type"))
            & (F.col("fl.hour") == F.col("f.hour") - F.expr("INTERVAL 1 HOUR")),
        )
        .join(
            l_,
            (F.col("l.event_type") != F.col("f.event_type"))
            & (F.col("l.hour") == F.col("f.hour") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("l.event_type").alias("cause"),
            F.col("f.event_type").alias("effect"),
            F.col("f.v").alias("y"),
            F.col("fl.v").alias("ylag"),
            F.col("l.v").alias("xlag"),
        )
    )
    moments = joined.groupBy("cause", "effect").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.corr("y", "ylag").alias("r_yy"),
        F.corr("y", "xlag").alias("r_yx"),
        F.corr("ylag", "xlag").alias("r_lx"),
    )
    fits = moments.select(
        "cause",
        "effect",
        "n_hours",
        (F.col("r_yy") * F.col("r_yy")).alias("r2_r"),
        (
            (
                F.col("r_yy") * F.col("r_yy")
                + F.col("r_yx") * F.col("r_yx")
                - 2 * F.col("r_yy") * F.col("r_yx") * F.col("r_lx")
            )
            / (1 - F.col("r_lx") * F.col("r_lx"))
        ).alias("r2_u"),
    )
    return fits.select(
        "cause",
        "effect",
        "n_hours",
        F.round(F.col("r2_u") - F.col("r2_r"), 6).alias("r2_gain"),
        F.round(
            (F.col("r2_u") - F.col("r2_r"))
            / (1 - F.col("r2_u"))
            * (F.col("n_hours") - 3),
            4,
        ).alias("f_stat"),
    ).orderBy("cause", "effect")


_ROUNDED_HOURLY_ORACLE = """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    )
"""

# CCM broadcasts the E=2 manifold for its NN join; cap its row count so
# a long-horizon / fine-grain grid can never silently blow the
# broadcast (100k rows x (series, ts, v, vlag) ~ a few MB).  When the
# hourly grid exceeds the cap, the bucket widens by the smallest
# power-of-two hour multiple that fits — the CCM shapes (lag = 1
# bucket, Theiler exclusion = 2 buckets) scale with it.
_CCM_GRID_CAP = 100_000


def _ccm_choose_bucket(n_rows: int, cap: int) -> int:
    """Smallest power-of-two bucket width (hours) so n_rows/k <= cap."""
    k = 1
    while n_rows > cap * k:
        k *= 2
    return k


@register(
    "ccm_cross_mapping_skill",
    oracle=_ROUNDED_HOURLY_ORACLE
    + """
    , manifold AS (
        SELECT a.event_type AS ety, a.hour, a.v, b.v AS vlag
        FROM hourly a
        JOIN hourly b ON b.event_type = a.event_type
                     AND b.hour = a.hour - INTERVAL 1 HOUR
    ),
    dist AS (
        SELECT m1.ety, m1.hour AS t, m2.hour AS tn,
               sqrt((m1.v - m2.v) * (m1.v - m2.v)
                    + (m1.vlag - m2.vlag) * (m1.vlag - m2.vlag)) AS d
        FROM manifold m1
        JOIN manifold m2
          ON m2.ety = m1.ety
         AND abs(date_part('epoch', m1.hour - m2.hour)) >= 7200
    ),
    ranked AS (
        SELECT ety, t, tn, d,
               row_number() OVER (PARTITION BY ety, t ORDER BY d, tn) AS rn,
               min(d) OVER (PARTITION BY ety, t) AS d1
        FROM dist
    ),
    neigh AS (
        SELECT ety, t, tn, exp(-d / greatest(d1, 1e-9)) AS w
        FROM ranked WHERE rn <= 3
    ),
    neighx AS (
        SELECT n.ety AS effect, hx.event_type AS cause, n.t, n.w,
               hx.v AS xv_n
        FROM neigh n
        JOIN hourly hx ON hx.hour = n.tn AND hx.event_type <> n.ety
    ),
    xhat AS (
        SELECT effect, cause, t, sum(w * xv_n) / sum(w) AS x_hat
        FROM neighx GROUP BY 1, 2, 3
    )
    SELECT x.cause, x.effect,
           round(corr(h.v, x.x_hat), 4) AS ccm_skill,
           CAST(count(*) AS BIGINT) AS n_points
    FROM xhat x
    JOIN hourly h ON h.event_type = x.cause AND h.hour = x.t
    GROUP BY 1, 2
    ORDER BY cause, effect
    """,
    doc="Convergent cross-mapping skill (Sugihara et al. 2012, "
    "simplified E=2, tau=1h, k=3): if X causally drives Y, then Y's "
    "time-delay shadow manifold contains X, so X can be reconstructed "
    "from Y's nearest manifold neighbours.  For every effect series "
    "the E=2 manifold (v_t, v_{t-1h}) is built on the 6-dp-rounded "
    "hourly grid; each point's 3 nearest neighbours (Euclidean, 2 h "
    "Theiler exclusion, deterministic (d, t') tie-break) weight "
    "exp(-d/d1) the candidate cause's values at neighbour times into "
    "x_hat; skill = corr(x, x_hat) per directed pair.  The rounded "
    "grid makes the NN ranking bit-identical across engines.  Scale: "
    "the O(T^2) neighbour join runs per series on the volume-"
    "independent grid, and the broadcast is GUARDED in code — when "
    "the grid exceeds _CCM_GRID_CAP rows the bucket widens "
    "(power-of-two hours) until it fits, lag and Theiler exclusion "
    "scaling with it; everything downstream is |series| x T x k rows.",
    tags=("causality", "timeseries", "stats", "bench"),
)
def ccm_cross_mapping_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series_rounded(spark, sf_dir).transform(ckpt)
    # ENFORCED broadcast guard (r7): the manifold is broadcast below, so
    # its size must be bounded in code, not by a docstring.  Count the
    # grid (grid-sized job; materializes the lazy checkpoint that every
    # later stage reuses) and coarsen the bucket until it fits the cap.
    bucket_hours = _ccm_choose_bucket(h.count(), _CCM_GRID_CAP)
    if bucket_hours > 1:
        bucket_us = bucket_hours * 3_600_000_000
        h = (
            h.groupBy(
                "event_type",
                F.expr(
                    f"timestamp_micros((unix_micros(hour) div {bucket_us})"
                    f" * {bucket_us})"
                ).alias("hour"),
            )
            .agg(F.round(F.sum("v"), 6).alias("v"))
            .transform(ckpt)
        )
    lag = F.expr(f"INTERVAL {bucket_hours} HOUR")
    theiler_us = 2 * bucket_hours * 3_600_000_000
    a, b = h.alias("a"), h.alias("b")
    manifold = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.hour") == F.col("a.hour") - lag),
        )
        .select(
            F.col("a.event_type").alias("ety"),
            F.col("a.hour").alias("hour"),
            F.col("a.v").alias("v"),
            F.col("b.v").alias("vlag"),
        )
        .transform(ckpt)
    )
    # The NN self-join's only equi-key is the series id — a handful of
    # distinct values, so a shuffle join caps parallelism at |series|
    # tasks.  The manifold is the volume-independent grid (|series|*T
    # rows): broadcast the neighbour side and hash the probe side on
    # (series, hour), which spreads the O(T^2) pair generation over
    # every core AND leaves the pairs clustered on the rank window's
    # (ety, t) keys, so the pairs themselves are never shuffled.  At
    # horizons where the grid outgrows a broadcast, coarsen the grid
    # (doc above) — the join shape is unchanged.
    n_part = max(2, spark.sparkContext.defaultParallelism)
    m1 = manifold.repartition(n_part, "ety", "hour").alias("m1")
    m2 = F.broadcast(manifold).alias("m2")
    dist = m1.join(
        m2,
        (F.col("m2.ety") == F.col("m1.ety"))
        & (
            F.abs(F.unix_micros(F.col("m1.hour")) - F.unix_micros(F.col("m2.hour")))
            >= theiler_us
        ),
    ).select(
        F.col("m1.ety").alias("ety"),
        F.col("m1.hour").alias("t"),
        F.col("m2.hour").alias("tn"),
        F.sqrt(
            (F.col("m1.v") - F.col("m2.v")) * (F.col("m1.v") - F.col("m2.v"))
            + (F.col("m1.vlag") - F.col("m2.vlag"))
            * (F.col("m1.vlag") - F.col("m2.vlag"))
        ).alias("d"),
    )
    # A lone rank function lets Spark cut each (ety, t) partition to its
    # top 3 (WindowGroupLimit) before the window; d1, the partition's
    # minimum distance, is also the minimum of those 3.
    w_rank = Window.partitionBy("ety", "t").orderBy("d", "tn")
    d1 = F.min("d").over(Window.partitionBy("ety", "t"))
    neigh = (
        dist.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 3)
        .select(
            "ety",
            "t",
            "tn",
            F.exp(-F.col("d") / F.greatest(d1, F.lit(1e-9))).alias("w"),
        )
    )
    hx = h.alias("hx")
    neighx = neigh.alias("n").join(
        hx,
        (F.col("hx.hour") == F.col("n.tn"))
        & (F.col("hx.event_type") != F.col("n.ety")),
    ).select(
        F.col("n.ety").alias("effect"),
        F.col("hx.event_type").alias("cause"),
        F.col("n.t").alias("t"),
        F.col("n.w").alias("w"),
        F.col("hx.v").alias("xv_n"),
    )
    xhat = neighx.groupBy("effect", "cause", "t").agg(
        (F.sum(F.col("w") * F.col("xv_n")) / F.sum("w")).alias("x_hat")
    )
    ht = h.alias("ht")
    return (
        xhat.alias("x")
        .join(
            ht,
            (F.col("ht.event_type") == F.col("x.cause"))
            & (F.col("ht.hour") == F.col("x.t")),
        )
        .groupBy(F.col("x.cause").alias("cause"), F.col("x.effect").alias("effect"))
        .agg(
            F.round(F.corr(F.col("ht.v"), F.col("x.x_hat")), 4).alias("ccm_skill"),
            F.count("*").cast("bigint").alias("n_points"),
        )
        .orderBy("cause", "effect")
    )


@register(
    "pc_skeleton_edges",
    oracle=_HOURLY_ORACLE
    + """
    , corrs AS (
        SELECT a.event_type AS sa, b.event_type AS sb,
               corr(a.v, b.v) AS r, CAST(count(*) AS BIGINT) AS n
        FROM hourly a
        JOIN hourly b ON a.hour = b.hour AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    mirrored AS (
        SELECT sa, sb, r FROM corrs
        UNION ALL SELECT sb, sa, r FROM corrs
    ),
    partials AS (
        SELECT ab.sa, ab.sb, az.sb AS z, ab.n,
               (ab.r - az.r * bz.r)
                   / sqrt((1 - az.r * az.r) * (1 - bz.r * bz.r)) AS pr
        FROM corrs ab
        JOIN mirrored az ON az.sa = ab.sa AND az.sb <> ab.sb
        JOIN mirrored bz ON bz.sa = ab.sb AND bz.sb = az.sb
    ),
    partial_agg AS (
        SELECT sa, sb,
               min(sqrt(n - 4)
                   * abs(0.5 * ln((1 + pr) / (1 - pr)))) AS min_partial
        FROM partials GROUP BY 1, 2
    )
    SELECT c.sa AS series_a, c.sb AS series_b,
           round(c.r, 4) AS pearson_r,
           round(sqrt(c.n - 3) * abs(0.5 * ln((1 + c.r) / (1 - c.r))), 4)
               AS marginal_stat,
           round(p.min_partial, 4) AS min_partial_stat,
           CAST(CASE WHEN sqrt(c.n - 3)
                          * abs(0.5 * ln((1 + c.r) / (1 - c.r))) > 1.96
                      AND p.min_partial > 1.96
                     THEN 1 ELSE 0 END AS INTEGER) AS edge_kept
    FROM corrs c
    JOIN partial_agg p ON p.sa = c.sa AND p.sb = c.sb
    ORDER BY series_a, series_b
    """,
    doc="PC-algorithm skeleton, conditioning order <= 1 (Spirtes-"
    "Glymour constraint-based causal discovery): an undirected edge "
    "a-b survives iff the marginal correlation AND every order-1 "
    "partial correlation given a single other series z reject "
    "independence under the Fisher-z test (sqrt(n-|S|-3)*|atanh(r)| "
    "> 1.96).  Partial correlations come from the correlation-matrix "
    "identity, so the whole skeleton is three joins over the "
    "|series|^2-row correlation table — the facts are touched once "
    "to build the hourly grid, and the CI-test cascade runs on rows "
    "proportional to series-pairs x conditioning-sets, independent "
    "of event volume.",
    tags=("causality", "timeseries", "stats", "graph"),
)
def pc_skeleton_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir)
    a, b = h.alias("a"), h.alias("b")
    corrs = (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("sa"),
            F.col("b.event_type").alias("sb"),
        )
        .agg(
            F.corr("a.v", "b.v").alias("r"),
            F.count("*").cast("bigint").alias("n"),
        )
        .transform(ckpt)
    )
    mirrored = (
        corrs.select("sa", "sb", "r")
        .unionAll(corrs.select(F.col("sb").alias("sa"), F.col("sa").alias("sb"), "r"))
        .transform(ckpt)
    )
    ab, az, bz = corrs.alias("ab"), mirrored.alias("az"), mirrored.alias("bz")
    partials = (
        ab.join(
            az,
            (F.col("az.sa") == F.col("ab.sa")) & (F.col("az.sb") != F.col("ab.sb")),
        )
        .join(
            bz,
            (F.col("bz.sa") == F.col("ab.sb")) & (F.col("bz.sb") == F.col("az.sb")),
        )
        .select(
            F.col("ab.sa").alias("sa"),
            F.col("ab.sb").alias("sb"),
            F.col("ab.n").alias("n"),
            (
                (F.col("ab.r") - F.col("az.r") * F.col("bz.r"))
                / F.sqrt(
                    (1 - F.col("az.r") * F.col("az.r"))
                    * (1 - F.col("bz.r") * F.col("bz.r"))
                )
            ).alias("pr"),
        )
    )
    partial_agg = partials.groupBy("sa", "sb").agg(
        F.min(
            F.sqrt(F.col("n") - 4)
            * F.abs(0.5 * F.log((1 + F.col("pr")) / (1 - F.col("pr"))))
        ).alias("min_partial")
    )
    c, p = corrs.alias("c"), partial_agg.alias("p")
    marginal = F.sqrt(F.col("c.n") - 3) * F.abs(
        0.5 * F.log((1 + F.col("c.r")) / (1 - F.col("c.r")))
    )
    return (
        c.join(p, (F.col("p.sa") == F.col("c.sa")) & (F.col("p.sb") == F.col("c.sb")))
        .select(
            F.col("c.sa").alias("series_a"),
            F.col("c.sb").alias("series_b"),
            F.round(F.col("c.r"), 4).alias("pearson_r"),
            F.round(marginal, 4).alias("marginal_stat"),
            F.round(F.col("p.min_partial"), 4).alias("min_partial_stat"),
            F.when(
                (marginal > 1.96) & (F.col("p.min_partial") > 1.96), 1
            ).otherwise(0).cast("int").alias("edge_kept"),
        )
        .orderBy("series_a", "series_b")
    )


@register(
    "excitation_ratio_screen",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT date_part('epoch', max(ts) - min(ts)) AS span_s FROM events
    ),
    observed AS (
        SELECT a.event_type AS cause, b.event_type AS effect,
               CAST(count(*) AS BIGINT) AS n_observed
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 15 MINUTE
         AND a.event_type <> b.event_type
        GROUP BY 1, 2
    ),
    expected AS (
        SELECT ca.event_type AS cause, cb.event_type AS effect,
               sum(ca.c * cb.c) * 900.0 / (SELECT span_s FROM span)
                   AS n_exp
        FROM counts ca
        JOIN counts cb ON ca.user_id = cb.user_id
                      AND ca.event_type <> cb.event_type
        GROUP BY 1, 2
    )
    SELECT o.cause, o.effect, o.n_observed,
           round(e.n_exp, 2) AS n_expected,
           round(o.n_observed / e.n_exp, 4) AS excitation_ratio
    FROM observed o
    JOIN expected e ON e.cause = o.cause AND e.effect = o.effect
    ORDER BY o.cause, o.effect
    """,
    doc="Hawkes-flavoured excitation screen: for each directed series "
    "pair, the count of B events landing within 15 min after an A "
    "event of the same entity, normalised by the count expected if "
    "the entity's A and B streams were independent Poisson thinnings "
    "over the observation span (sum over users of n_A*n_B*window/T). "
    "A ratio well above 1 means A events pull B events in behind "
    "them — self/cross-excitation.  Observed pairs come from the "
    "entity-keyed range self-join (bounded by per-entity activity, "
    "the temporal_precedence_counts shape); the expectation runs on "
    "the per-(entity, series) count table, orders of magnitude below "
    "the facts, with the 1-row span broadcast.",
    tags=("causality", "timeseries", "stats"),
)
def excitation_ratio_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    counts = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(ckpt)
    )
    span = ev.agg(
        ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1e6).alias(
            "span_s"
        )
    )
    a, b = ev.alias("a"), ev.alias("b")
    observed = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 15 MINUTES"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("cause"),
            F.col("b.event_type").alias("effect"),
        )
        .agg(F.count("*").cast("bigint").alias("n_observed"))
    )
    ca, cb = counts.alias("ca"), counts.alias("cb")
    expected = (
        ca.join(
            cb,
            (F.col("ca.user_id") == F.col("cb.user_id"))
            & (F.col("ca.event_type") != F.col("cb.event_type")),
        )
        .groupBy(
            F.col("ca.event_type").alias("cause"),
            F.col("cb.event_type").alias("effect"),
        )
        .agg(F.sum(F.col("ca.c") * F.col("cb.c")).alias("cc"))
        .crossJoin(F.broadcast(span))
        .select(
            "cause",
            "effect",
            (F.col("cc") * F.lit(900.0) / F.col("span_s")).alias("n_exp"),
        )
    )
    o, e = observed.alias("o"), expected.alias("e")
    return (
        o.join(
            e,
            (F.col("e.cause") == F.col("o.cause"))
            & (F.col("e.effect") == F.col("o.effect")),
        )
        .select(
            F.col("o.cause").alias("cause"),
            F.col("o.effect").alias("effect"),
            F.col("o.n_observed").alias("n_observed"),
            F.round(F.col("e.n_exp"), 2).alias("n_expected"),
            F.round(F.col("o.n_observed") / F.col("e.n_exp"), 4).alias(
                "excitation_ratio"
            ),
        )
        .orderBy("cause", "effect")
    )


@register(
    "ar2_yule_walker",
    oracle=_HOURLY_ORACLE
    + """
    , l1 AS (
        SELECT a.event_type, corr(a.v, b.v) AS r1
        FROM hourly a
        JOIN hourly b ON b.event_type = a.event_type
                     AND b.hour = a.hour - INTERVAL 1 HOUR
        GROUP BY 1
    ),
    l2 AS (
        SELECT a.event_type, corr(a.v, b.v) AS r2
        FROM hourly a
        JOIN hourly b ON b.event_type = a.event_type
                     AND b.hour = a.hour - INTERVAL 2 HOUR
        GROUP BY 1
    )
    SELECT l1.event_type AS series,
           round(l1.r1, 4) AS acf1, round(l2.r2, 4) AS acf2,
           round(l1.r1 * (1 - l2.r2) / (1 - l1.r1 * l1.r1), 4) AS phi1,
           round((l2.r2 - l1.r1 * l1.r1) / (1 - l1.r1 * l1.r1), 4) AS phi2
    FROM l1 JOIN l2 ON l2.event_type = l1.event_type
    ORDER BY series
    """,
    doc="AR(2) fit per series by Yule-Walker: the calendar-aligned "
    "lag-1/lag-2 autocorrelations come from two grid self-joins, and "
    "the coefficients fall out in closed form (phi1 = r1(1-r2)/"
    "(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2)) — the self-dynamics model "
    "whose residual any cross-series causality claim must explain.  "
    "No solver, no per-series second pass; everything after the grid "
    "is |series|-row arithmetic.",
    tags=("causality", "timeseries", "stats"),
)
def ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir).transform(ckpt)

    def lag_corr(k: int, out: str) -> DataFrame:
        a, b = h.alias("a"), h.alias("b")
        return (
            a.join(
                b,
                (F.col("b.event_type") == F.col("a.event_type"))
                & (F.col("b.hour") == F.col("a.hour") - F.expr(f"INTERVAL {k} HOURS")),
            )
            .groupBy(F.col("a.event_type").alias("event_type"))
            .agg(F.corr("a.v", "b.v").alias(out))
        )

    l1, l2 = lag_corr(1, "r1").alias("l1"), lag_corr(2, "r2").alias("l2")
    denom = 1 - F.col("l1.r1") * F.col("l1.r1")
    return (
        l1.join(l2, F.col("l2.event_type") == F.col("l1.event_type"))
        .select(
            F.col("l1.event_type").alias("series"),
            F.round(F.col("l1.r1"), 4).alias("acf1"),
            F.round(F.col("l2.r2"), 4).alias("acf2"),
            F.round(F.col("l1.r1") * (1 - F.col("l2.r2")) / denom, 4).alias("phi1"),
            F.round(
                (F.col("l2.r2") - F.col("l1.r1") * F.col("l1.r1")) / denom, 4
            ).alias("phi2"),
        )
        .orderBy("series")
    )


@register(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               (b.v - a.v) / ((date_part('epoch', b.day)
                               - date_part('epoch', a.day)) / 86400.0) AS slope
        FROM daily a
        JOIN daily b ON b.event_type = a.event_type AND b.day > a.day
    ),
    ts_est AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
               quantile_cont(slope, 0.5) AS ts_slope
        FROM slopes GROUP BY 1
    ),
    ols AS (
        SELECT event_type,
               regr_slope(v, date_part('epoch', day) / 86400.0) AS ols_slope
        FROM daily GROUP BY 1
    )
    SELECT t.event_type AS series, t.n_pairs,
           round(t.ts_slope, 6) AS theil_sen_slope,
           round(o.ols_slope, 6) AS ols_slope
    FROM ts_est t JOIN ols o ON o.event_type = t.event_type
    ORDER BY series
    """,
    doc="Theil-Sen robust trend per series: the exact median of all "
    "pairwise slopes on the daily grid (breakdown point 29% — one "
    "corrupted day cannot move it), beside the OLS slope it "
    "robustifies.  The O(D^2) pair join runs on the volume-"
    "independent daily grid (D days -> D(D-1)/2 slope rows per "
    "series), values rounded to 6 dp so the pairwise arithmetic and "
    "the interpolated median are engine-identical.",
    tags=("causality", "timeseries", "stats", "robust"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
        .transform(ckpt)
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.v") - F.col("a.v"))
            / ((F.unix_micros("b.day") - F.unix_micros("a.day")) / 86400.0 / 1e6)
        ).alias("slope"),
    )
    ts_est = slopes.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("ts_slope"),
    )
    ols = daily.groupBy("event_type").agg(
        F.regr_slope("v", F.unix_micros("day") / 1e6 / 86400.0).alias("ols_slope")
    )
    t, o = ts_est.alias("t"), ols.alias("o")
    return (
        t.join(o, F.col("o.event_type") == F.col("t.event_type"))
        .select(
            F.col("t.event_type").alias("series"),
            F.col("t.n_pairs").alias("n_pairs"),
            F.round(F.col("t.ts_slope"), 6).alias("theil_sen_slope"),
            F.round(F.col("o.ols_slope"), 6).alias("ols_slope"),
        )
        .orderBy("series")
    )


@register(
    "holt_winters_additive",
    oracle="""
    WITH RECURSIVE hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    ordered AS (
        SELECT event_type, list(v ORDER BY hour) AS vals
        FROM hourly GROUP BY 1
        HAVING count(*) >= 49
    ),
    init AS (
        SELECT event_type, vals, len(vals) AS T,
               CAST(list_sum(vals[1:24]) / 24.0 AS DOUBLE) AS l0,
               CAST((list_sum(vals[25:48]) / 24.0
                     - list_sum(vals[1:24]) / 24.0) / 24.0 AS DOUBLE) AS b0,
               list_transform(vals[1:24],
                   x -> CAST(x - list_sum(vals[1:24]) / 24.0 AS DOUBLE)) AS s0
        FROM ordered
    ),
    rec(event_type, vals, nt, it, l, b, s, sse) AS (
        SELECT event_type, vals, T, 24, l0, b0, s0, CAST(0.0 AS DOUBLE)
        FROM init
        UNION ALL
        SELECT event_type, vals, nt, it + 1,
               0.3 * (vals[it + 1] - s[1]) + 0.7 * (l + b),
               0.1 * ((0.3 * (vals[it + 1] - s[1]) + 0.7 * (l + b)) - l)
                   + 0.9 * b,
               list_concat(s[2:24],
                   [0.2 * (vals[it + 1]
                           - (0.3 * (vals[it + 1] - s[1]) + 0.7 * (l + b)))
                    + 0.8 * s[1]]),
               sse + (vals[it + 1] - (l + b + s[1]))
                   * (vals[it + 1] - (l + b + s[1]))
        FROM rec WHERE it < nt
    )
    SELECT event_type AS series, CAST(nt AS BIGINT) AS n_obs,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(l + b + s[1], 4) AS forecast_next,
           round(sqrt(sse / (nt - 24)), 4) AS rmse
    FROM rec WHERE it = nt
    ORDER BY series
    """,
    doc="Full additive Holt-Winters (level + trend + 24-slot seasonal "
    "state) per series: classical init (first-day mean level, day-"
    "over-day trend, first-day deviations as seasonals), then the "
    "three coupled recurrences (alpha=.3, beta=.1, gamma=.2) run as "
    "ONE ordered array fold per series with a struct(level, trend, "
    "seasonal-list, sse) accumulator — the seasonal list rotates one "
    "slot per step.  Emits the final state, the next-hour forecast, "
    "and one-step-ahead RMSE.  The oracle replays the identical "
    "recurrence as a recursive CTE carrying the seasonal LIST "
    "through 700 iterations — a full value check of a stateful "
    "triple recurrence.  Scale: the recurrence is inherently "
    "sequential per series, so the fold runs where it belongs — "
    "inside one row per series on the volume-independent grid, "
    "thousands of series folding in parallel.",
    tags=("causality", "timeseries", "forecast"),
)
def holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series_rounded(spark, sf_dir)
    ordered = (
        h.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("hour", "v"))
            ).alias("hv")
        )
        .select(
            "event_type",
            F.expr("transform(hv, x -> x.v)").alias("vals"),
        )
        .filter(F.size("vals") >= 49)
    )
    first_day = F.slice("vals", 1, 24)
    l0 = F.expr(
        "aggregate(slice(vals, 1, 24), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    ) / 24.0
    second_mean = (
        F.expr(
            "aggregate(slice(vals, 25, 24), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        )
        / 24.0
    )
    init = ordered.select(
        "event_type",
        "vals",
        F.size("vals").cast("bigint").alias("T"),
        l0.alias("l0"),
        ((second_mean - l0) / 24.0).alias("b0"),
        F.transform(first_day, lambda x: x - l0).alias("s0"),
    )
    # the triple recurrence as one sequential fold; l' computed once
    # and reused — identical arithmetic to the oracle's inlined form
    step = (
        "(acc, x) -> CAST(("
        "  0.3 * (x - acc.s[0]) + 0.7 * (acc.l + acc.b),"
        "  0.1 * ((0.3 * (x - acc.s[0]) + 0.7 * (acc.l + acc.b)) - acc.l)"
        "      + 0.9 * acc.b,"
        "  concat(slice(acc.s, 2, 23),"
        "         array(0.2 * (x - (0.3 * (x - acc.s[0])"
        "                           + 0.7 * (acc.l + acc.b)))"
        "               + 0.8 * acc.s[0])),"
        "  acc.sse + (x - (acc.l + acc.b + acc.s[0]))"
        "      * (x - (acc.l + acc.b + acc.s[0]))"
        ") AS struct<l: double, b: double, s: array<double>, sse: double>)"
    )
    folded = init.select(
        "event_type",
        "T",
        F.expr(
            "aggregate(slice(vals, 25, CAST(T AS INT) - 24), "
            "CAST((l0, b0, s0, CAST(0.0 AS DOUBLE)) "
            "AS struct<l: double, b: double, s: array<double>, sse: double>), "
            f"{step})"
        ).alias("fin"),
    )
    return folded.select(
        F.col("event_type").alias("series"),
        F.col("T").alias("n_obs"),
        F.round(F.col("fin.l"), 4).alias("level"),
        F.round(F.col("fin.b"), 4).alias("trend"),
        F.round(F.col("fin.l") + F.col("fin.b") + F.col("fin.s")[0], 4).alias(
            "forecast_next"
        ),
        F.round(F.sqrt(F.col("fin.sse") / (F.col("T") - 24)), 4).alias("rmse"),
    ).orderBy("series")


# Normal CDF via the tanh-based approximation (identical closed form on
# both engines, so p-values agree bit-for-bit; accuracy ~1e-3 absolute,
# ample for a rank-based procedure that only compares p to i*q/m):
#   Phi(z) ~= 0.5 * (1 + tanh(sqrt(2/pi) * (z + 0.044715 z^3)))
_SQRT_2_PI = 0.7978845608028654


def _phi_spark(z):
    inner = F.lit(_SQRT_2_PI) * (z + 0.044715 * z * z * z)
    return 0.5 * (1 + F.tanh(inner))


def _phi_sql(z: str) -> str:
    from .registry import sql_tanh

    inner = f"({_SQRT_2_PI} * (({z}) + 0.044715 * ({z}) * ({z}) * ({z})))"
    return f"(0.5 * (1 + {sql_tanh(inner)}))"


@register(
    "granger_fdr_screen",
    oracle=_HOURLY_ORACLE
    + f"""
    , lagcorr AS (
        SELECT l.event_type AS cause, f.event_type AS effect,
               corr(f.v, l.v) AS r,
               CAST(count(*) AS BIGINT) AS n
        FROM hourly f
        JOIN hourly l ON l.event_type <> f.event_type
                     AND l.hour = f.hour - INTERVAL 1 HOUR
        GROUP BY 1, 2
    ),
    pvals AS (
        SELECT cause, effect, r, n,
               2 * (1 - {_phi_sql("abs(sqrt(n - 3) * 0.5 * ln((1 + r) / (1 - r)))")})
                   AS p
        FROM lagcorr
    ),
    ranked AS (
        SELECT cause, effect, r, p,
               row_number() OVER (ORDER BY p, cause, effect) AS rnk,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pvals
    ),
    cut AS (
        SELECT *, CASE WHEN p <= 0.1 * rnk / m THEN rnk ELSE 0 END AS ok_rnk
        FROM ranked
    ),
    kstar AS (
        SELECT *, max(ok_rnk) OVER () AS k_star FROM cut
    )
    SELECT cause, effect, round(r, 4) AS r_lag,
           round(p, 6) AS p_value, rnk,
           CAST(CASE WHEN rnk <= k_star THEN 1 ELSE 0 END AS INTEGER)
               AS significant
    FROM kstar
    ORDER BY rnk
    """,
    doc="Multiple-testing control for the causality screen: every "
    "directed lag-1 cross-correlation gets a Fisher-z p-value "
    "(tanh-form normal CDF, identical closed form on both engines), "
    "then Benjamini-Hochberg at q=0.1 — rank p ascending, keep all "
    "ranks up to the largest i with p_i <= q*i/m.  This is the step "
    "that separates 'screen 20 pairs and report the reddest' from "
    "defensible discovery: with |series|^2 simultaneous tests, "
    "uncontrolled per-test alpha would flood the report with false "
    "edges.  Runs entirely on the |series|^2-row moment table; the "
    "two global windows rank 20 rows, not events.",
    tags=("causality", "timeseries", "stats"),
)
def granger_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir).transform(ckpt)
    f_, l_ = h.alias("f"), h.alias("l")
    lagcorr = (
        f_.join(
            l_,
            (F.col("l.event_type") != F.col("f.event_type"))
            & (F.col("l.hour") == F.col("f.hour") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(
            F.col("l.event_type").alias("cause"),
            F.col("f.event_type").alias("effect"),
        )
        .agg(
            F.corr("f.v", "l.v").alias("r"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    z = F.abs(
        F.sqrt(F.col("n") - 3) * 0.5 * F.log((1 + F.col("r")) / (1 - F.col("r")))
    )
    pvals = lagcorr.select(
        "cause", "effect", "r", (2 * (1 - _phi_spark(z))).alias("p")
    )
    w_rank = Window.orderBy("p", "cause", "effect")
    w_all = Window.partitionBy()
    ranked = pvals.select(
        "cause",
        "effect",
        "r",
        "p",
        F.row_number().over(w_rank).alias("rnk"),
        F.count("*").over(w_all).cast("bigint").alias("m"),
    )
    cut = ranked.withColumn(
        "ok_rnk",
        F.when(F.col("p") <= 0.1 * F.col("rnk") / F.col("m"), F.col("rnk")).otherwise(
            F.lit(0)
        ),
    )
    kstar = cut.withColumn("k_star", F.max("ok_rnk").over(w_all))
    return kstar.select(
        "cause",
        "effect",
        F.round("r", 4).alias("r_lag"),
        F.round("p", 6).alias("p_value"),
        "rnk",
        F.when(F.col("rnk") <= F.col("k_star"), 1).otherwise(0).cast("int").alias(
            "significant"
        ),
    ).orderBy("rnk")


_ROUNDED_DAILY_ORACLE = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    )
"""


def _rounded_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))


@register(
    "mann_kendall_trend",
    oracle=_ROUNDED_DAILY_ORACLE
    + f"""
    , s_stat AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
        FROM daily a
        JOIN daily b ON b.event_type = a.event_type AND b.day > a.day
        GROUP BY 1
    ),
    counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1
    ),
    ties AS (
        SELECT event_type,
               CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (
            SELECT event_type, v, count(*) AS tc
            FROM daily GROUP BY 1, 2 HAVING count(*) > 1
        ) GROUP BY 1
    ),
    z AS (
        SELECT c.event_type, s.s, c.n,
               (CASE WHEN s.s > 0 THEN s.s - 1.0
                     WHEN s.s < 0 THEN s.s + 1.0 ELSE 0.0 END)
               / sqrt((c.n * (c.n - 1.0) * (2 * c.n + 5.0)
                       - coalesce(t.tie_term, 0)) / 18.0) AS zv
        FROM counts c
        JOIN s_stat s ON s.event_type = c.event_type
        LEFT JOIN ties t ON t.event_type = c.event_type
    )
    SELECT event_type AS series, n AS n_days, s AS s_stat,
           round(zv, 4) AS z_stat,
           round(2 * (1 - {{phi}}), 6) AS p_value,
           CASE WHEN s > 0 THEN 'increasing'
                WHEN s < 0 THEN 'decreasing' ELSE 'none' END AS direction
    FROM z
    ORDER BY series
    """.replace("{phi}", _phi_sql("abs(zv)")),
    doc="Mann-Kendall nonparametric trend test per series: S = sum of "
    "pairwise sign(v_j - v_i) over the 6-dp-rounded daily grid, "
    "tie-corrected variance n(n-1)(2n+5)/18 - sum t(t-1)(2t+5)/18, "
    "continuity-corrected z, and the engine-identical tanh-form "
    "normal p-value.  The distribution-free significance companion "
    "to theil_sen_trend's robust slope: no normality or linearity "
    "assumption, immune to monotone transforms.  The O(D^2) sign "
    "join runs on the volume-independent daily grid; ties reduce on "
    "the (series, value) group table.",
    tags=("causality", "timeseries", "stats", "robust"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _rounded_daily_series(spark, sf_dir).transform(ckpt)
    a, b = daily.alias("a"), daily.alias("b")
    s_stat = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    counts = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tie_groups = (
        daily.groupBy("event_type", "v")
        .agg(F.count("*").alias("tc"))
        .filter(F.col("tc") > 1)
    )
    ties = tie_groups.groupBy("event_type").agg(
        F.coalesce(
            F.sum(F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)), F.lit(0)
        )
        .cast("bigint")
        .alias("tie_term")
    )
    c, s, t = counts.alias("c"), s_stat.alias("s"), ties.alias("t")
    var_s = (
        F.col("c.n") * (F.col("c.n") - 1.0) * (2 * F.col("c.n") + 5.0)
        - F.coalesce(F.col("t.tie_term"), F.lit(0))
    ) / 18.0
    zv = (
        F.when(F.col("s.s") > 0, F.col("s.s") - 1.0)
        .when(F.col("s.s") < 0, F.col("s.s") + 1.0)
        .otherwise(0.0)
        / F.sqrt(var_s)
    )
    z = (
        c.join(s, F.col("s.event_type") == F.col("c.event_type"))
        .join(t, F.col("t.event_type") == F.col("c.event_type"), "left")
        .select(
            F.col("c.event_type").alias("series"),
            F.col("c.n").alias("n_days"),
            F.col("s.s").alias("s_stat"),
            zv.alias("zv"),
        )
    )
    return z.select(
        "series",
        "n_days",
        "s_stat",
        F.round("zv", 4).alias("z_stat"),
        F.round(2 * (1 - _phi_spark(F.abs(F.col("zv")))), 6).alias("p_value"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("none")
        .alias("direction"),
    ).orderBy("series")


@register(
    "bootstrap_mean_ci",
    oracle=_ROUNDED_DAILY_ORACLE
    + """
    , sv AS (
        SELECT event_type, list(v ORDER BY day) AS vals,
               CAST(count(*) AS BIGINT) AS nd
        FROM daily GROUP BY 1
    ),
    draws AS (
        SELECT event_type, nd, vals, tb.b,
               unnest(range(nd)) AS j
        FROM sv, range(50) tb(b)
    ),
    picked AS (
        SELECT event_type, b,
               vals[CAST((((b * 131 + j * 31 + 7) * 2654435761)
                          % 2147483647) % nd AS INTEGER) + 1] AS x
        FROM draws
    ),
    boot_means AS (
        SELECT event_type, b, sum(x) / count(*) AS m
        FROM picked GROUP BY 1, 2
    ),
    obs AS (
        SELECT event_type, sum(v) / count(*) AS mean_obs FROM daily GROUP BY 1
    )
    SELECT bm.event_type AS series, o_.nd AS n_days,
           round(o.mean_obs, 4) AS mean_obs,
           round(quantile_cont(bm.m, 0.025), 4) AS ci_lo,
           round(quantile_cont(bm.m, 0.975), 4) AS ci_hi
    FROM boot_means bm
    JOIN obs o ON o.event_type = bm.event_type
    JOIN sv o_ ON o_.event_type = bm.event_type
    GROUP BY 1, 2, 3
    ORDER BY series
    """,
    doc="Deterministic bootstrap confidence interval for each "
    "series' daily mean: 50 resamples drawn by Knuth-multiplicative "
    "hashing of (replicate, slot) — reproducible across engines, "
    "partitionings, and retries, unlike rand()-seeded resampling — "
    "each resample averaging n hash-indexed values from the ordered "
    "daily list, then the percentile-method 95% CI over the 50 "
    "replicate means.  The nonparametric uncertainty companion to "
    "the point estimators: no normality assumption.  Cost: B*n rows "
    "per series on the volume-independent daily grid (the fact "
    "table is touched once to build it).",
    tags=("causality", "timeseries", "stats", "robust"),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _rounded_daily_series(spark, sf_dir).transform(ckpt)
    sv = daily.groupBy("event_type").agg(
        F.expr("transform(array_sort(collect_list(struct(day, v))), x -> x.v)").alias(
            "vals"
        ),
        F.count("*").cast("bigint").alias("nd"),
    )
    draws = sv.select(
        "event_type", "nd", "vals", F.explode(F.expr("sequence(0, 49)")).alias("b")
    ).select(
        "event_type",
        "nd",
        "vals",
        "b",
        F.explode(F.expr("sequence(0, CAST(nd AS INT) - 1)")).alias("j"),
    )
    idx = (
        (
            ((F.col("b") * 131 + F.col("j") * 31 + 7) * F.lit(2654435761))
            % 2147483647
        )
        % F.col("nd")
    ).cast("int") + 1
    picked = draws.select(
        "event_type", "b", F.element_at("vals", idx).alias("x")
    )
    boot_means = picked.groupBy("event_type", "b").agg(
        (F.sum("x") / F.count("*")).alias("m")
    )
    obs = daily.groupBy("event_type").agg(
        (F.sum("v") / F.count("*")).alias("mean_obs")
    )
    bm, o, s2 = boot_means.alias("bm"), obs.alias("o"), sv.alias("s2")
    return (
        bm.join(o, F.col("o.event_type") == F.col("bm.event_type"))
        .join(s2, F.col("s2.event_type") == F.col("bm.event_type"))
        .groupBy(
            F.col("bm.event_type").alias("series"),
            F.col("s2.nd").alias("n_days"),
            F.round(F.col("o.mean_obs"), 4).alias("mean_obs"),
        )
        .agg(
            F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
            F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
        )
        .orderBy("series")
    )


def _markov_entropy_oracle(n_iter: int = 10) -> str:
    base = _markov_oracle(n_iter)
    # reuse everything up to the final SELECT; replace the projection
    # with the entropy-rate composition
    head = base[: base.rindex("SELECT s AS state")].rstrip().rstrip(",")
    return (
        head
        + f""",
    entropy AS (
        SELECT x.s, x.x,
               -sum(p.p * ln(p.p)) AS h_row
        FROM x{n_iter} x JOIN p ON p.s1 = x.s
        GROUP BY x.s, x.x
    )
    SELECT s AS state, round(x, 6) AS stationary_p,
           round(h_row, 6) AS row_entropy_nats,
           round(sum(x * h_row) OVER (), 6) AS chain_entropy_rate
    FROM entropy
    ORDER BY state
    """
    )


@register(
    "markov_entropy_rate",
    oracle=_markov_entropy_oracle(),
    doc="Entropy rate of the event-type Markov chain: H = -sum_i "
    "pi_i sum_j P_ij ln P_ij, composing the stationary distribution "
    "(10 lazy power iterations, the markov_stationary_distribution "
    "core) with each state's transition-row entropy.  The single "
    "number that says how predictable the element dynamics are — "
    "near 0, the next element is determined (strong sequential "
    "coupling); near ln|states|, dynamics are memoryless noise and "
    "lag-based causality screens will find nothing.  Everything "
    "after the one window pass runs on |states|^2 rows.",
    tags=("causality", "graph", "timeseries", "stats"),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.col("event_type").alias("s1"), F.lead("event_type").over(w).alias("s2")
    ).filter(F.col("s2").isNotNull())
    c = trans.groupBy("s1", "s2").agg(F.count("*").cast("double").alias("c"))
    c = c.transform(ckpt)
    p = c.select(
        "s1", "s2", (F.col("c") / F.sum("c").over(Window.partitionBy("s1"))).alias("p")
    ).transform(ckpt)
    states = c.select(F.col("s1").alias("s")).distinct()
    n_states = states.agg(F.count("*").alias("n"))
    x = states.crossJoin(F.broadcast(n_states)).select(
        "s", (F.lit(1.0) / F.col("n")).alias("x")
    )
    for _ in range(10):
        x = (
            x.join(p, x.s == p.s1)
            .groupBy(F.col("s2").alias("s_next"))
            .agg(F.sum(F.col("x") * F.col("p")).alias("x"))
            .withColumnRenamed("s_next", "s")
        )
    entropy = (
        x.alias("x")
        .join(p.alias("pp"), F.col("pp.s1") == F.col("x.s"))
        .groupBy(F.col("x.s").alias("s"), F.col("x.x").alias("x"))
        .agg((-F.sum(F.col("pp.p") * F.log(F.col("pp.p")))).alias("h_row"))
    )
    return entropy.select(
        F.col("s").alias("state"),
        F.round("x", 6).alias("stationary_p"),
        F.round("h_row", 6).alias("row_entropy_nats"),
        F.round(F.sum(F.col("x") * F.col("h_row")).over(Window.partitionBy()), 6).alias(
            "chain_entropy_rate"
        ),
    ).orderBy("state")


@register(
    "decomposition_strength",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT hour, event_type, v,
               avg(v) OVER (PARTITION BY event_type ORDER BY hour
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend,
               count(*) OVER (PARTITION BY event_type ORDER BY hour
                              ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS w
        FROM hourly
    ),
    detrended AS (
        SELECT event_type, hour, v, trend,
               CAST(hour(hour) AS INTEGER) AS hod,
               v - trend AS detr
        FROM trended WHERE w = 25
    ),
    seas AS (
        SELECT event_type, hod, avg(detr) AS s_hod
        FROM detrended GROUP BY 1, 2
    ),
    comp AS (
        SELECT d.event_type, d.trend, s.s_hod AS seasonal,
               d.detr - s.s_hod AS resid
        FROM detrended d
        JOIN seas s ON s.event_type = d.event_type AND s.hod = d.hod
    )
    SELECT event_type AS series,
           CAST(count(*) AS BIGINT) AS n_hours,
           round(greatest(0.0,
               1 - var_samp(resid) / var_samp(resid + seasonal)), 4)
               AS seasonal_strength,
           round(greatest(0.0,
               1 - var_samp(resid) / var_samp(resid + trend)), 4)
               AS trend_strength
    FROM comp
    GROUP BY 1
    ORDER BY series
    """,
    doc="Trend / seasonal strength per series (the STL-features "
    "F_T = 1 - var(R)/var(T+R), F_S = 1 - var(R)/var(S+R), Wang-"
    "Smith-Hyndman): how much of each series' variance the 25-hour "
    "moving-average trend and the hour-of-day seasonal profile "
    "explain.  The triage screen that routes series: high F_S means "
    "deseasonalize before any lag-based causality claim (the clock "
    "is the confounder), high F_T means detrend first.  Same single "
    "window pass + tiny joins as the decomposition itself.",
    tags=("causality", "timeseries", "stats"),
)
def decomposition_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series_rounded(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-12, 12)
    trended = hourly.select(
        "hour",
        "event_type",
        "v",
        F.avg("v").over(w).alias("trend"),
        F.count("*").over(w).alias("w"),
    )
    detrended = trended.filter(F.col("w") == 25).select(
        "event_type",
        "trend",
        F.hour("hour").cast("int").alias("hod"),
        (F.col("v") - F.col("trend")).alias("detr"),
    ).transform(ckpt)
    seas = detrended.groupBy("event_type", "hod").agg(
        F.avg("detr").alias("s_hod")
    )
    d, s = detrended.alias("d"), seas.alias("s")
    comp = d.join(
        s,
        (F.col("s.event_type") == F.col("d.event_type"))
        & (F.col("s.hod") == F.col("d.hod")),
    ).select(
        F.col("d.event_type").alias("event_type"),
        F.col("d.trend").alias("trend"),
        F.col("s.s_hod").alias("seasonal"),
        (F.col("d.detr") - F.col("s.s_hod")).alias("resid"),
    )
    return (
        comp.groupBy(F.col("event_type").alias("series"))
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    1
                    - F.var_samp("resid")
                    / F.var_samp(F.col("resid") + F.col("seasonal")),
                ),
                4,
            ).alias("seasonal_strength"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    1
                    - F.var_samp("resid")
                    / F.var_samp(F.col("resid") + F.col("trend")),
                ),
                4,
            ).alias("trend_strength"),
        )
        .orderBy("series")
    )


# --- Intervention analysis: DiD and event study -----------------------
#
# The quasi-experimental toolkit over the daily grid: treat one series
# as exposed to an intervention at a cutoff date, another as the
# parallel-trends control, and estimate the effect the causal way an
# analyst would before trusting any purely-observational screen.
# Fixture roles are parameters of the query (purchase vs view,
# cutoff 2024-01-16); the shapes are volume-independent.

_DID_TREATED = "purchase"
_DID_CONTROL = "view"
_DID_CUTOFF = "2024-01-16"


@register(
    "diff_in_diff_estimate",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               round(sum(value), 6) AS v
        FROM events
        WHERE event_type IN ('{_DID_TREATED}', '{_DID_CONTROL}')
        GROUP BY 1, 2
    ),
    cells AS (
        SELECT (event_type = '{_DID_TREATED}') AS treated,
               (day >= TIMESTAMP '{_DID_CUTOFF}') AS post,
               CAST(count(*) AS BIGINT) AS n,
               avg(v) AS m, var_samp(v) AS s2
        FROM daily GROUP BY 1, 2
    ),
    wide AS (
        SELECT
            max(CASE WHEN treated AND post THEN m END) AS m_tp,
            max(CASE WHEN treated AND NOT post THEN m END) AS m_t0,
            max(CASE WHEN NOT treated AND post THEN m END) AS m_cp,
            max(CASE WHEN NOT treated AND NOT post THEN m END) AS m_c0,
            max(CASE WHEN treated AND post THEN s2 / n END)
                + max(CASE WHEN treated AND NOT post THEN s2 / n END)
                + max(CASE WHEN NOT treated AND post THEN s2 / n END)
                + max(CASE WHEN NOT treated AND NOT post THEN s2 / n END)
                AS var_sum,
            CAST(sum(n) AS BIGINT) AS n_obs
        FROM cells
    )
    SELECT round((m_tp - m_t0) - (m_cp - m_c0), 4) AS did_estimate,
           round(sqrt(var_sum), 4) AS std_error,
           round(((m_tp - m_t0) - (m_cp - m_c0)) / sqrt(var_sum), 4)
               AS t_stat,
           n_obs
    FROM wide
    """,
    doc="Difference-in-differences: treated series (purchase) vs "
    "parallel-trends control (view), pre/post the 2024-01-16 cutoff "
    "on the daily grid — DiD = (T_post - T_pre) - (C_post - C_pre), "
    "with the four-cell independent-means standard error and t.  The "
    "effect estimator that survives shared trends and shared shocks, "
    "where the raw before/after delta does not.  One grid pass -> "
    "four moment cells -> scalar arithmetic; 100 TB reduces to 4 "
    "rows before any estimate.",
    tags=("causality", "timeseries", "stats"),
)
def diff_in_diff_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_DID_TREATED, _DID_CONTROL)
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    cells = daily.groupBy(
        (F.col("event_type") == _DID_TREATED).alias("treated"),
        (F.col("day") >= F.lit(_DID_CUTOFF).cast("timestamp")).alias("post"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("v").alias("m"),
        F.var_samp("v").alias("s2"),
    )

    def cell(expr):
        return F.max(F.when(expr, F.col("m")))

    def cell_var(expr):
        return F.max(F.when(expr, F.col("s2") / F.col("n")))

    t, p = F.col("treated"), F.col("post")
    wide = cells.agg(
        cell(t & p).alias("m_tp"),
        cell(t & ~p).alias("m_t0"),
        cell(~t & p).alias("m_cp"),
        cell(~t & ~p).alias("m_c0"),
        (cell_var(t & p) + cell_var(t & ~p) + cell_var(~t & p) + cell_var(~t & ~p)).alias(
            "var_sum"
        ),
        F.sum("n").cast("bigint").alias("n_obs"),
    )
    did = (F.col("m_tp") - F.col("m_t0")) - (F.col("m_cp") - F.col("m_c0"))
    return wide.select(
        F.round(did, 4).alias("did_estimate"),
        F.round(F.sqrt(F.col("var_sum")), 4).alias("std_error"),
        F.round(did / F.sqrt(F.col("var_sum")), 4).alias("t_stat"),
        "n_obs",
    )


@register(
    "event_study_daily_effects",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               round(sum(value), 6) AS v
        FROM events
        WHERE event_type IN ('{_DID_TREATED}', '{_DID_CONTROL}')
        GROUP BY 1, 2
    ),
    diffs AS (
        SELECT t.day,
               CAST(date_diff('day', TIMESTAMP '{_DID_CUTOFF}', t.day)
                    AS INTEGER) AS rel_day,
               t.v - c.v AS d
        FROM daily t
        JOIN daily c ON c.day = t.day
        WHERE t.event_type = '{_DID_TREATED}'
          AND c.event_type = '{_DID_CONTROL}'
    ),
    base AS (
        SELECT avg(d) AS pre_mean FROM diffs WHERE rel_day < 0
    )
    SELECT rel_day, round(d, 4) AS treated_minus_control,
           round(d - (SELECT pre_mean FROM base), 4) AS effect,
           CAST(CASE WHEN rel_day >= 0 THEN 1 ELSE 0 END AS INTEGER) AS is_post
    FROM diffs
    ORDER BY rel_day
    """,
    doc="Event-study view of the same intervention: the daily "
    "treated-minus-control gap, centered on its pre-period mean, per "
    "day relative to the cutoff.  Pre-period effects hovering near "
    "zero are the parallel-trends diagnostic that licenses the DiD "
    "estimate; a post-period break is the effect trajectory.  One "
    "grid self-join on the day key; the pre-mean is a 1-row "
    "broadcast.",
    tags=("causality", "timeseries", "stats"),
)
def event_study_daily_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_DID_TREATED, _DID_CONTROL)
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v")).transform(ckpt)
    t, c = daily.alias("t"), daily.alias("c")
    diffs = (
        t.filter(F.col("t.event_type") == _DID_TREATED)
        .join(
            c.filter(F.col("c.event_type") == _DID_CONTROL),
            F.col("c.day") == F.col("t.day"),
        )
        .select(
            F.datediff(F.col("t.day"), F.lit(_DID_CUTOFF).cast("timestamp"))
            .cast("int")
            .alias("rel_day"),
            (F.col("t.v") - F.col("c.v")).alias("d"),
        )
        .transform(ckpt)
    )
    base = diffs.filter(F.col("rel_day") < 0).agg(F.avg("d").alias("pre_mean"))
    return (
        diffs.crossJoin(F.broadcast(base))
        .select(
            "rel_day",
            F.round("d", 4).alias("treated_minus_control"),
            F.round(F.col("d") - F.col("pre_mean"), 4).alias("effect"),
            F.when(F.col("rel_day") >= 0, 1).otherwise(0).cast("int").alias(
                "is_post"
            ),
        )
        .orderBy("rel_day")
    )


@register(
    "lead_lag_best_shift",
    oracle=_HOURLY_ORACLE
    + """
    , lags AS (SELECT unnest(range(-6, 7)) AS lag),
    ccf AS (
        SELECT a.event_type AS series_a, b.event_type AS series_b,
               CAST(l.lag AS INTEGER) AS lag,
               corr(a.v, b.v) AS c,
               CAST(count(*) AS BIGINT) AS n_hours
        FROM hourly a
        CROSS JOIN lags l
        JOIN hourly b ON b.event_type <> a.event_type
                     AND b.hour = a.hour + l.lag * INTERVAL 1 HOUR
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2, 3
        HAVING count(*) >= 24
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY series_a, series_b
            ORDER BY round(abs(c), 6) DESC, lag) AS rn
        FROM ccf
    )
    SELECT series_a, series_b, lag AS best_lag,
           round(c, 4) AS ccf_at_best, n_hours,
           CASE WHEN lag > 0 THEN series_a || ' leads'
                WHEN lag < 0 THEN series_b || ' leads'
                ELSE 'simultaneous' END AS reading
    FROM ranked WHERE rn = 1
    ORDER BY series_a, series_b
    """,
    doc="Lead/lag structure summarized to a decision: for each series "
    "pair, the lag in -6..+6 h maximizing |CCF| (6-dp-rounded argmax "
    "with a deterministic lag tie-break), with the plain-language "
    "direction reading.  The one-row-per-pair distillation of "
    "cross_correlation_function that feeds a screening dashboard.  "
    "Same |grid|x|lags| join; the argmax window ranks 13 rows per "
    "pair.",
    tags=("causality", "timeseries", "stats"),
)
def lead_lag_best_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _hourly_series(spark, sf_dir).transform(ckpt)
    lags = grid.sparkSession.range(-6, 7).select(F.col("id").cast("int").alias("lag"))
    a, b = grid.alias("a"), grid.alias("b")
    ccf = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") != F.col("a.event_type"))
            & (
                F.col("b.hour")
                == F.col("a.hour")
                + F.col("lag") * F.expr("INTERVAL 1 HOUR")
            ),
        )
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("series_a"),
            F.col("b.event_type").alias("series_b"),
            F.col("lag"),
        )
        .agg(
            F.corr("a.v", "b.v").alias("c"),
            F.count("*").cast("bigint").alias("n_hours"),
        )
        .filter(F.col("n_hours") >= 24)
    )
    w = Window.partitionBy("series_a", "series_b").orderBy(
        F.desc(F.round(F.abs(F.col("c")), 6)), "lag"
    )
    ranked = ccf.withColumn("rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "series_a",
            "series_b",
            F.col("lag").alias("best_lag"),
            F.round("c", 4).alias("ccf_at_best"),
            "n_hours",
            F.when(F.col("lag") > 0, F.concat(F.col("series_a"), F.lit(" leads")))
            .when(F.col("lag") < 0, F.concat(F.col("series_b"), F.lit(" leads")))
            .otherwise("simultaneous")
            .alias("reading"),
        )
        .orderBy("series_a", "series_b")
    )


@register(
    "cointegration_screen",
    oracle=_HOURLY_ORACLE
    + """
    , pairs AS (
        SELECT a.event_type AS sx, b.event_type AS sy, a.hour,
               a.v AS x, b.v AS y
        FROM hourly a
        JOIN hourly b ON a.hour = b.hour AND a.event_type < b.event_type
    ),
    fit AS (
        SELECT sx, sy,
               regr_slope(y, x) AS beta,
               regr_intercept(y, x) AS alpha
        FROM pairs GROUP BY 1, 2
    ),
    resid AS (
        SELECT p.sx, p.sy, p.hour,
               p.y - (f.alpha + f.beta * p.x) AS r
        FROM pairs p JOIN fit f ON f.sx = p.sx AND f.sy = p.sy
    ),
    lagged AS (
        SELECT sx, sy, r,
               lag(r) OVER (PARTITION BY sx, sy ORDER BY hour) AS rl
        FROM resid
    ),
    adf AS (
        SELECT sx, sy,
               regr_slope(r - rl, rl) AS phi,
               regr_count(r - rl, rl) AS n,
               regr_r2(r - rl, rl) AS r2,
               var_samp(r - rl) AS sdy,
               var_samp(rl) AS sdx
        FROM lagged WHERE rl IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT sx AS series_x, sy AS series_y,
           round(phi, 4) AS adf_phi,
           round(phi / sqrt(((n - 1) * sdy * (1 - r2))
                            / ((n - 2) * (n - 1) * sdx)), 4) AS adf_t,
           CAST(n AS BIGINT) AS n_hours,
           CAST(CASE WHEN phi / sqrt(((n - 1) * sdy * (1 - r2))
                            / ((n - 2) * (n - 1) * sdx)) < -2.86
                     THEN 1 ELSE 0 END AS INTEGER) AS cointegrated
    FROM adf
    ORDER BY series_x, series_y
    """,
    doc="Engle-Granger cointegration screen: regress Y on X in "
    "levels (one regr_* aggregate pass), then the Dickey-Fuller "
    "test on the residual — delta-r regressed on lagged r, with the "
    "slope's t statistic in closed form from the same moment "
    "aggregates (se = sqrt(SSE/(n-2)/Sxx)) against the -2.86 "
    "critical value.  Pairs that co-move in levels (shared trend) "
    "produce spurious correlation screens; this is the test that "
    "says whether the relationship is equilibrium-reverting instead. "
    "Three aggregate passes over the volume-independent grid, no "
    "solver.",
    tags=("causality", "timeseries", "stats"),
)
def cointegration_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _hourly_series(spark, sf_dir).transform(ckpt)
    a, b = grid.alias("a"), grid.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("sx"),
            F.col("b.event_type").alias("sy"),
            F.col("a.hour").alias("hour"),
            F.col("a.v").alias("x"),
            F.col("b.v").alias("y"),
        )
        .transform(ckpt)
    )
    fit = pairs.groupBy("sx", "sy").agg(
        F.regr_slope("y", "x").alias("beta"),
        F.regr_intercept("y", "x").alias("alpha"),
    )
    p, f_ = pairs.alias("p"), fit.alias("f")
    resid = p.join(
        F.broadcast(f_),
        (F.col("f.sx") == F.col("p.sx")) & (F.col("f.sy") == F.col("p.sy")),
    ).select(
        F.col("p.sx").alias("sx"),
        F.col("p.sy").alias("sy"),
        F.col("p.hour").alias("hour"),
        (F.col("p.y") - (F.col("f.alpha") + F.col("f.beta") * F.col("p.x"))).alias(
            "r"
        ),
    )
    w = Window.partitionBy("sx", "sy").orderBy("hour")
    lagged = resid.select(
        "sx", "sy", "r", F.lag("r").over(w).alias("rl")
    ).filter(F.col("rl").isNotNull())
    adf = lagged.groupBy("sx", "sy").agg(
        F.regr_slope(F.col("r") - F.col("rl"), F.col("rl")).alias("phi"),
        F.regr_count(F.col("r") - F.col("rl"), F.col("rl")).alias("n"),
        F.regr_r2(F.col("r") - F.col("rl"), F.col("rl")).alias("r2"),
        F.var_samp(F.col("r") - F.col("rl")).alias("sdy"),
        F.var_samp("rl").alias("sdx"),
    )
    se = F.sqrt(
        ((F.col("n") - 1) * F.col("sdy") * (1 - F.col("r2")))
        / ((F.col("n") - 2) * (F.col("n") - 1) * F.col("sdx"))
    )
    return adf.select(
        F.col("sx").alias("series_x"),
        F.col("sy").alias("series_y"),
        F.round("phi", 4).alias("adf_phi"),
        F.round(F.col("phi") / se, 4).alias("adf_t"),
        F.col("n").cast("bigint").alias("n_hours"),
        F.when(F.col("phi") / se < -2.86, 1).otherwise(0).cast("int").alias(
            "cointegrated"
        ),
    ).orderBy("series_x", "series_y")


@register(
    "periodogram_peaks",
    oracle=_HOURLY_ORACLE
    + """
    , indexed AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY hour) - 1
                   AS t
        FROM hourly
    ),
    periods AS (SELECT unnest([24, 12, 8, 6]) AS period),
    power AS (
        SELECT i.event_type, p.period,
               pow(sum(i.v * cos(2 * pi() * i.t / p.period)), 2)
               + pow(sum(i.v * sin(2 * pi() * i.t / p.period)), 2) AS pw,
               CAST(count(*) AS BIGINT) AS n
        FROM indexed i CROSS JOIN periods p
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, period, pw, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY round(pw, 2) DESC, period) AS rn
        FROM power
    )
    SELECT event_type AS series, CAST(period AS INTEGER) AS period_hours,
           round(pw / n, 4) AS normalized_power,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER)
               AS dominant
    FROM ranked
    ORDER BY series, period_hours
    """,
    doc="Periodogram at candidate periods (24/12/8/6 h): the DFT "
    "power |sum v e^{-i w t}|^2 per series and period, computed as "
    "two plain cos/sin weighted-sum aggregates — no FFT machinery, "
    "just map-side partials over the observation-indexed grid — with "
    "the dominant period flagged (2-dp-rounded argmax, deterministic "
    "tie-break).  Finds the cycles that seasonal_decomposition "
    "assumes: run this first when the period is NOT known to be "
    "diurnal.  |series| x |periods| rows after one grid pass.",
    tags=("causality", "timeseries", "stats"),
)
def periodogram_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    h = _hourly_series(spark, sf_dir)
    w_idx = Window.partitionBy("event_type").orderBy("hour")
    indexed = h.select(
        "event_type", "v", (F.row_number().over(w_idx) - 1).alias("t")
    )
    periods = h.sparkSession.range(0, 4).select(
        F.element_at(F.array(F.lit(24), F.lit(12), F.lit(8), F.lit(6)), (F.col("id") + 1).cast("int")).alias("period")
    )
    two_pi = 2 * math.pi
    power = (
        indexed.crossJoin(F.broadcast(periods))
        .groupBy("event_type", "period")
        .agg(
            (
                F.pow(
                    F.sum(F.col("v") * F.cos(two_pi * F.col("t") / F.col("period"))),
                    2,
                )
                + F.pow(
                    F.sum(F.col("v") * F.sin(two_pi * F.col("t") / F.col("period"))),
                    2,
                )
            ).alias("pw"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc(F.round(F.col("pw"), 2)), "period"
    )
    ranked = power.withColumn("rn", F.row_number().over(w_rank))
    return ranked.select(
        F.col("event_type").alias("series"),
        F.col("period").cast("int").alias("period_hours"),
        F.round(F.col("pw") / F.col("n"), 4).alias("normalized_power"),
        F.when(F.col("rn") == 1, 1).otherwise(0).cast("int").alias("dominant"),
    ).orderBy("series", "period_hours")


@register(
    "position_based_attribution",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id AS pid, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, event_type AS channel, ts, event_id
        FROM events WHERE event_type IN ('view', 'click', 'signup')
    ),
    paired AS (
        SELECT p.pid, t.channel, t.ts, t.event_id
        FROM purchases p
        JOIN touches t
          ON t.user_id = p.user_id
         AND t.ts < p.pts
         AND t.ts >= p.pts - INTERVAL 7 DAY
    ),
    ranked AS (
        SELECT pid, channel,
               row_number() OVER (PARTITION BY pid ORDER BY ts, event_id)
                   AS rfirst,
               row_number() OVER (PARTITION BY pid ORDER BY ts DESC,
                                  event_id DESC) AS rlast,
               CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n
        FROM paired
    ),
    credited AS (
        SELECT channel,
               CASE WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN rfirst = 1 OR rlast = 1 THEN 0.4
                    ELSE 0.2 / (n - 2) END AS credit
        FROM ranked
    )
    SELECT channel,
           round(sum(credit), 4) AS attributed_conversions,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM credited
    GROUP BY 1
    ORDER BY channel
    """,
    doc="Position-based (U-shaped) multi-touch attribution: each "
    "purchase distributes 40% credit to the first touch in its "
    "trailing 7-day window, 40% to the last, 20% split across the "
    "middle (collapsing sensibly for 1-2 touches).  The standard "
    "upgrade from last_touch_attribution when first-touch discovery "
    "matters.  The purchase x touch pairing is an entity-keyed range "
    "join (bounded by per-user activity); position ranks are two "
    "windows per purchase group; credit rollup is a |channels|-row "
    "aggregate.",
    tags=("causality", "window", "timeseries"),
)
def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    touches = ev.filter(F.col("event_type").isin("view", "click", "signup")).select(
        "user_id", F.col("event_type").alias("channel"), "ts", "event_id"
    )
    p, t = purchases.alias("p"), touches.alias("t")
    paired = p.join(
        t,
        (F.col("t.user_id") == F.col("p.user_id"))
        & (F.col("t.ts") < F.col("p.pts"))
        & (F.col("t.ts") >= F.col("p.pts") - F.expr("INTERVAL 7 DAYS")),
    ).select("p.pid", "t.channel", "t.ts", "t.event_id")
    w_first = Window.partitionBy("pid").orderBy("ts", "event_id")
    w_last = Window.partitionBy("pid").orderBy(F.desc("ts"), F.desc("event_id"))
    w_n = Window.partitionBy("pid")
    ranked = paired.select(
        "channel",
        F.row_number().over(w_first).alias("rfirst"),
        F.row_number().over(w_last).alias("rlast"),
        F.count("*").over(w_n).cast("bigint").alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("rfirst") == 1) | (F.col("rlast") == 1), 0.4)
        .otherwise(0.2 / (F.col("n") - 2))
    )
    return (
        ranked.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.round(F.sum("credit"), 4).alias("attributed_conversions"),
            F.count("*").cast("bigint").alias("n_touches"),
        )
        .orderBy("channel")
    )


@register(
    "threshold_cascade_rounds",
    oracle=_COSUPPLY_EDGES_ORACLE
    + """
    , sym AS (
        SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    a0 AS (
        SELECT DISTINCT u AS node FROM sym WHERE u % 50 = 0
    ),
    n1 AS (
        SELECT s.u AS node FROM sym s JOIN a0 ON a0.node = s.v
        GROUP BY 1 HAVING count(*) >= 2
    ),
    a1 AS (SELECT node FROM a0 UNION SELECT node FROM n1),
    n2 AS (
        SELECT s.u AS node FROM sym s JOIN a1 ON a1.node = s.v
        GROUP BY 1 HAVING count(*) >= 2
    ),
    a2 AS (SELECT node FROM a1 UNION SELECT node FROM n2),
    n3 AS (
        SELECT s.u AS node FROM sym s JOIN a2 ON a2.node = s.v
        GROUP BY 1 HAVING count(*) >= 2
    ),
    a3 AS (SELECT node FROM a2 UNION SELECT node FROM n3)
    SELECT r.round,
           CAST(r.n_active AS BIGINT) AS n_active
    FROM (
        SELECT 0 AS round, count(*) AS n_active FROM a0
        UNION ALL SELECT 1, count(*) FROM a1
        UNION ALL SELECT 2, count(*) FROM a2
        UNION ALL SELECT 3, count(*) FROM a3
    ) r
    ORDER BY r.round
    """,
    doc="Linear-threshold cascade on the co-supply graph: seed nodes "
    "(suppkey % 50 = 0) activate, then each round activates any node "
    "with >= 2 active neighbours — three unrolled rounds reporting "
    "the activation front size.  The influence-propagation primitive "
    "behind contagion/outage blast-radius analysis: how far does a "
    "disruption at the seeds travel through shared-part coupling.  "
    "Per round: one join of the edge list against the current active "
    "set (broadcastable) + a threshold aggregate; the fact table is "
    "only touched once to build the edges.",
    tags=("causality", "graph"),
)
def threshold_cascade_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cosupply_edges(spark, sf_dir).transform(ckpt)
    sym = (
        edges.select("u", "v")
        .unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .transform(ckpt)
    )
    active = sym.select(F.col("u").alias("node")).distinct().filter(
        F.col("node") % 50 == 0
    )
    counts = [active.agg(F.count("*").alias("n_active"))]
    for _ in range(3):
        newly = (
            sym.join(F.broadcast(active.withColumnRenamed("node", "act")),
                     F.col("act") == F.col("v"))
            .groupBy(F.col("u").alias("node"))
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= 2)
            .select("node")
        )
        active = active.unionAll(newly).distinct().transform(ckpt)
        counts.append(active.agg(F.count("*").alias("n_active")))
    out = None
    for i, c in enumerate(counts):
        row = c.select(F.lit(i).alias("round"), F.col("n_active").cast("bigint"))
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


@register(
    "rolling_median_robust_screen",
    oracle=_ROUNDED_DAILY_ORACLE
    + """
    , windowed AS (
        SELECT event_type, day, v,
               quantile_cont(v, 0.5) OVER w AS med7,
               quantile_cont(v, 0.75) OVER w
                   - quantile_cont(v, 0.25) OVER w AS iqr7,
               count(*) OVER w AS nw
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type AS series, day,
           round(v, 4) AS v,
           round(med7, 4) AS med7,
           round(iqr7, 4) AS iqr7,
           CAST(CASE WHEN nw >= 4 AND abs(v - med7) > 2 * iqr7
                     THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
    FROM windowed
    ORDER BY series, day
    """,
    doc="Rolling-median robust screen: the trailing 7-day median and "
    "IQR per series as ORDERED WINDOW PERCENTILES (Spark 4 supports "
    "percentile as a window function — no self-join, no "
    "applyInPandas), flagging days beyond 2 IQR of the local median. "
    "The running robust counterpart to the global MAD screen "
    "(mad_robust_anomalies): immune to level shifts that poison a "
    "global median.  One series-keyed window pass over the "
    "volume-independent daily grid; the 6-dp-rounded grid makes the "
    "interpolated quantiles engine-identical.",
    tags=("causality", "timeseries", "window", "robust"),
)
def rolling_median_robust_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _rounded_daily_series(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    med = F.expr(
        "percentile(v, 0.5) OVER (PARTITION BY event_type ORDER BY day "
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    )
    q75 = F.expr(
        "percentile(v, 0.75) OVER (PARTITION BY event_type ORDER BY day "
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    )
    q25 = F.expr(
        "percentile(v, 0.25) OVER (PARTITION BY event_type ORDER BY day "
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    )
    windowed = daily.select(
        F.col("event_type").alias("series"),
        "day",
        "v",
        med.alias("med7"),
        (q75 - q25).alias("iqr7"),
        F.count("*").over(w).alias("nw"),
    )
    # is_outlier must see the UNROUNDED med7/iqr7 (the oracle does); per
    # the Spark-4 lateral-alias rule it may never share a select with
    # round(x).alias(x) siblings — stage through two projections.
    flagged = windowed.select(
        "series",
        "day",
        "v",
        "med7",
        "iqr7",
        F.when(
            (F.col("nw") >= 4)
            & (F.abs(F.col("v") - F.col("med7")) > 2 * F.col("iqr7")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("is_outlier"),
    )
    return flagged.select(
        "series",
        "day",
        F.round("v", 4).alias("v"),
        F.round("med7", 4).alias("med7"),
        F.round("iqr7", 4).alias("iqr7"),
        "is_outlier",
    ).orderBy("series", "day")


@register(
    "deseasonalized_lag_correlation",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               round(sum(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT hour, event_type, v,
               avg(v) OVER (PARTITION BY event_type ORDER BY hour
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend,
               count(*) OVER (PARTITION BY event_type ORDER BY hour
                              ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS w
        FROM hourly
    ),
    detrended AS (
        SELECT event_type, hour, CAST(hour(hour) AS INTEGER) AS hod,
               v - trend AS detr
        FROM trended WHERE w = 25
    ),
    seas AS (
        SELECT event_type, hod, avg(detr) AS s_hod
        FROM detrended GROUP BY 1, 2
    ),
    resid AS (
        SELECT d.event_type, d.hour, d.detr - s.s_hod AS r
        FROM detrended d
        JOIN seas s ON s.event_type = d.event_type AND s.hod = d.hod
    )
    SELECT l.event_type AS leader, f.event_type AS follower,
           round(corr(f.r, l.r), 4) AS resid_lag_r,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM resid f
    JOIN resid l ON l.event_type <> f.event_type
                AND l.hour = f.hour - INTERVAL 1 HOUR
    GROUP BY 1, 2
    ORDER BY leader, follower
    """,
    doc="Directional lag-1 correlation on DESEASONALIZED, DETRENDED "
    "residuals: subtract the 25-hour moving-average trend and the "
    "hour-of-day seasonal profile, then re-run the lagged screen on "
    "what remains.  This is the step the seasonal-decomposition "
    "docstring promises: a pair whose raw lagged correlation "
    "survives here is coupled beyond the shared clock — the classic "
    "spurious-causality source is gone by construction.  Compare "
    "against lagged_cross_correlation: large drops indict the "
    "diurnal confounder.  Same one-window-pass + grid-join shape.",
    tags=("causality", "timeseries", "stats"),
)
def deseasonalized_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series_rounded(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-12, 12)
    trended = hourly.select(
        "hour",
        "event_type",
        "v",
        F.avg("v").over(w).alias("trend"),
        F.count("*").over(w).alias("w"),
    )
    detrended = trended.filter(F.col("w") == 25).select(
        "event_type",
        "hour",
        F.hour("hour").cast("int").alias("hod"),
        (F.col("v") - F.col("trend")).alias("detr"),
    ).transform(ckpt)
    seas = detrended.groupBy("event_type", "hod").agg(F.avg("detr").alias("s_hod"))
    d, s = detrended.alias("d"), seas.alias("s")
    resid = d.join(
        F.broadcast(s),
        (F.col("s.event_type") == F.col("d.event_type"))
        & (F.col("s.hod") == F.col("d.hod")),
    ).select(
        F.col("d.event_type").alias("event_type"),
        F.col("d.hour").alias("hour"),
        (F.col("d.detr") - F.col("s.s_hod")).alias("r"),
    ).transform(ckpt)
    f_, l_ = resid.alias("f"), resid.alias("l")
    return (
        f_.join(
            l_,
            (F.col("l.event_type") != F.col("f.event_type"))
            & (F.col("l.hour") == F.col("f.hour") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(
            F.col("l.event_type").alias("leader"),
            F.col("f.event_type").alias("follower"),
        )
        .agg(
            F.round(F.corr("f.r", "l.r"), 4).alias("resid_lag_r"),
            F.count("*").cast("bigint").alias("n_hours"),
        )
        .orderBy("leader", "follower")
    )


@register(
    "anova_oneway_value_by_type",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               avg(value) AS m, var_samp(value) AS v
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT sum(n) AS nt, sum(n * m) / sum(n) AS gm,
               CAST(count(*) AS DOUBLE) AS k
        FROM g
    ),
    ss AS (
        SELECT t.k, t.nt,
               sum(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
               sum((g.n - 1) * g.v) AS ssw
        FROM g CROSS JOIN tot t
        GROUP BY t.k, t.nt
    )
    SELECT CAST(k AS INTEGER) AS n_groups,
           CAST(nt AS BIGINT) AS n_obs,
           round(ssb / (k - 1), 4) AS ms_between,
           round(ssw / (nt - k), 4) AS ms_within,
           round((ssb / (k - 1)) / (ssw / (nt - k)), 4) AS f_stat
    FROM ss
    """,
    doc="One-way ANOVA across element types on the event values: "
    "between-group vs within-group mean squares and the F statistic, "
    "all from ONE per-group moment pass (n, mean, sample variance) "
    "plus scalar arithmetic on the |groups|-row table — the omnibus "
    "'do these elements even differ?' test that precedes pairwise "
    "Welch comparisons.  100 TB of observations reduce to 5 moment "
    "rows before any inference.",
    tags=("causality", "stats"),
)
def anova_oneway_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count("*").cast("double").alias("k"),
    )
    ss = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "nt")
        .agg(
            F.sum(
                F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
            ).alias("ssb"),
            F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
        )
    )
    msb = F.col("ssb") / (F.col("k") - 1)
    msw = F.col("ssw") / (F.col("nt") - F.col("k"))
    return ss.select(
        F.col("k").cast("int").alias("n_groups"),
        F.col("nt").cast("bigint").alias("n_obs"),
        F.round(msb, 4).alias("ms_between"),
        F.round(msw, 4).alias("ms_within"),
        F.round(msb / msw, 4).alias("f_stat"),
    )


@register(
    "ks_two_sample_test",
    oracle="""
    WITH vals AS (
        SELECT round(value, 6) AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_b
        FROM events
        WHERE event_type IN ('purchase', 'view')
          AND value IS NOT NULL
    ),
    counts AS (
        SELECT CAST(sum(is_a) AS DOUBLE) AS na,
               CAST(sum(is_b) AS DOUBLE) AS nb
        FROM vals
    ),
    grid AS (
        SELECT x, sum(is_a) AS ca, sum(is_b) AS cb
        FROM vals GROUP BY x
    ),
    ecdf AS (
        SELECT x,
               sum(ca) OVER (ORDER BY x) AS cuma,
               sum(cb) OVER (ORDER BY x) AS cumb
        FROM grid
    )
    SELECT round(max(abs(e.cuma / c.na - e.cumb / c.nb)), 6) AS ks_stat,
           CAST(c.na AS BIGINT) AS n_a,
           CAST(c.nb AS BIGINT) AS n_b,
           round(max(abs(e.cuma / c.na - e.cumb / c.nb))
                 / (1.36 * sqrt((c.na + c.nb) / (c.na * c.nb))), 4)
               AS ks_over_crit_5pct
    FROM ecdf e CROSS JOIN counts c
    GROUP BY c.na, c.nb
    """,
    doc="Two-sample Kolmogorov-Smirnov test between the purchase and "
    "view value distributions: D = max |ECDF_a - ECDF_b| over the "
    "pooled 6-dp-rounded value grid (one ordered cumulative-sum "
    "window over the DISTINCT-value table, not the raw rows), with "
    "the ratio to the 5% critical value 1.36*sqrt((na+nb)/(na*nb)).  "
    "The whole-distribution companion to Welch's mean test — "
    "sensitive to shape and tail differences a t-test misses.  The "
    "value grid is a map-side distinct reduce; the ECDF cumsums run "
    "via the bucket+offset device (operators/ranks.py: value-range "
    "buckets, per-bucket cumulative windows, broadcast prefix "
    "offsets) — integer counts, so bit-identical to the oracle's "
    "literal global cumulative window, and never a one-task sort of "
    "the distinct-value grid.",
    tags=("causality", "stats", "robust"),
)
def ks_two_sample_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_cumsum, with_range_bucket

    # the null filter (mirrored in the oracle) is load-bearing for the
    # device: a NULL sort key would get a NULL bucket and silently drop
    # from the offset join, where the literal window would rank it —
    # and the engines disagree on null placement anyway
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    )
    vals = ev.select(
        F.round("value", 6).alias("x"),
        (F.col("event_type") == "purchase").cast("int").alias("is_a"),
        (F.col("event_type") == "view").cast("int").alias("is_b"),
    )
    counts = vals.agg(
        F.sum("is_a").cast("double").alias("na"),
        F.sum("is_b").cast("double").alias("nb"),
    )
    grid = vals.groupBy("x").agg(
        F.sum("is_a").alias("ca"), F.sum("is_b").alias("cb")
    ).transform(ckpt)
    ecdf = with_global_cumsum(
        with_range_bucket(grid, "x"),
        [F.col("x")],
        {"ca": "cuma", "cb": "cumb"},
        pre_shuffle=True,
    ).select("x", "cuma", "cumb")
    d = F.abs(F.col("cuma") / F.col("na") - F.col("cumb") / F.col("nb"))
    crit = 1.36 * F.sqrt((F.col("na") + F.col("nb")) / (F.col("na") * F.col("nb")))
    return (
        ecdf.crossJoin(F.broadcast(counts))
        .groupBy("na", "nb")
        .agg(
            F.round(F.max(d), 6).alias("ks_stat"),
            F.round(F.max(d) / crit, 4).alias("ks_over_crit_5pct"),
        )
        .select(
            "ks_stat",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            "ks_over_crit_5pct",
        )
    )


@register(
    "poisson_rate_change",
    oracle=f"""
    WITH spans AS (
        SELECT event_type,
               CAST(count(*) FILTER (WHERE ts <  TIMESTAMP '{_DID_CUTOFF}')
                    AS DOUBLE) AS n1,
               CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '{_DID_CUTOFF}')
                    AS DOUBLE) AS n2
        FROM events GROUP BY 1
    ),
    bounds AS (
        SELECT date_part('epoch', TIMESTAMP '{_DID_CUTOFF}')
                   - date_part('epoch', min(ts)) AS t1,
               date_part('epoch', max(ts))
                   - date_part('epoch', TIMESTAMP '{_DID_CUTOFF}') AS t2
        FROM events
    )
    SELECT s.event_type AS series,
           CAST(s.n1 AS BIGINT) AS n_pre, CAST(s.n2 AS BIGINT) AS n_post,
           round(s.n1 / b.t1 * 3600, 4) AS rate_pre_per_h,
           round(s.n2 / b.t2 * 3600, 4) AS rate_post_per_h,
           round((s.n2 / b.t2 - s.n1 / b.t1)
                 / sqrt((s.n1 + s.n2) / (b.t1 + b.t2) / b.t1
                        + (s.n1 + s.n2) / (b.t1 + b.t2) / b.t2), 4) AS z_stat
    FROM spans s CROSS JOIN bounds b
    ORDER BY series
    """,
    doc="Poisson rate-change test per series around the intervention "
    "cutoff: pre/post arrival rates and the two-sample rate z "
    "statistic under the pooled-rate null — the intensity-level "
    "companion to the value-level DiD (did the *frequency* of the "
    "element change, not just its magnitude?).  One conditional-"
    "count pass + a 1-row span broadcast; the inference is scalar "
    "arithmetic on |series| rows.",
    tags=("causality", "timeseries", "stats"),
)
def poisson_rate_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_DID_CUTOFF).cast("timestamp")
    spans = ev.groupBy("event_type").agg(
        F.sum((F.col("ts") < cutoff).cast("int")).cast("double").alias("n1"),
        F.sum((F.col("ts") >= cutoff).cast("int")).cast("double").alias("n2"),
    )
    bounds = ev.agg(
        (
            (F.unix_micros(cutoff) - F.unix_micros(F.min("ts"))) / 1e6
        ).alias("t1"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(cutoff)) / 1e6
        ).alias("t2"),
    )
    pooled = (F.col("n1") + F.col("n2")) / (F.col("t1") + F.col("t2"))
    z = (F.col("n2") / F.col("t2") - F.col("n1") / F.col("t1")) / F.sqrt(
        pooled / F.col("t1") + pooled / F.col("t2")
    )
    return (
        spans.crossJoin(F.broadcast(bounds))
        .select(
            F.col("event_type").alias("series"),
            F.col("n1").cast("bigint").alias("n_pre"),
            F.col("n2").cast("bigint").alias("n_post"),
            F.round(F.col("n1") / F.col("t1") * 3600, 4).alias("rate_pre_per_h"),
            F.round(F.col("n2") / F.col("t2") * 3600, 4).alias("rate_post_per_h"),
            F.round(z, 4).alias("z_stat"),
        )
        .orderBy("series")
    )


def _det_expr(m: list) -> str:
    """Laplace-expansion determinant as a plain SQL arithmetic string
    over entry-expression strings — evaluated VERBATIM by both engines
    (Spark via F.expr, DuckDB as-is), so the two sides are arithmetic-
    identical by construction.  Verified against numpy in
    tests/test_stats_invariants.py."""
    n = len(m)
    if n == 1:
        return m[0][0]
    terms = []
    for j in range(n):
        minor = [row[:j] + row[j + 1 :] for row in m[1:]]
        sub = _det_expr(minor)
        sign = "" if j % 2 == 0 else "-"
        terms.append(f"{sign}({m[0][j]}) * ({sub})")
    return " + ".join(terms).replace("+ -", "- ")


# correlation-matrix determinants for the conditional Granger test:
# variables (y, ylag, xlag, zlag), entries a..f as pairwise corrs
_DET4_FULL = _det_expr(
    [["1", "a", "b", "c"], ["a", "1", "d", "e"], ["b", "d", "1", "f"], ["c", "e", "f", "1"]]
)
_DET3_REGS = _det_expr([["1", "d", "e"], ["d", "1", "f"], ["e", "f", "1"]])
_DET3_RESTR = _det_expr([["1", "a", "c"], ["a", "1", "e"], ["c", "e", "1"]])
_DET2_RESTR = "1 - (e) * (e)"

# degenerate guard: a near-collinear regressor matrix (tiny aligned
# sample at small SF) has det ~ 0 and the R2 identity divides by it —
# both engines drop those triples identically (threshold far above the
# ~1e-15 cross-engine corr jitter)
_COND_GRANGER_MATH = f"""
        SELECT cause, effect, given, n,
               1 - ({_DET4_FULL}) / ({_DET3_REGS}) AS r2_u,
               1 - ({_DET3_RESTR}) / ({_DET2_RESTR}) AS r2_r
        FROM moments
        WHERE n >= 12 AND abs({_DET3_REGS}) > 1e-6
          AND abs({_DET2_RESTR}) > 1e-6
"""


@register(
    "conditional_granger_screen",
    oracle=_HOURLY_ORACLE
    + f"""
    , aligned AS (
        SELECT l.event_type AS cause, f.event_type AS effect,
               z.event_type AS given,
               f.v AS y, fl.v AS ylag, l.v AS xlag, z.v AS zlag
        FROM hourly f
        JOIN hourly fl ON fl.event_type = f.event_type
                      AND fl.hour = f.hour - INTERVAL 1 HOUR
        JOIN hourly l  ON l.event_type <> f.event_type
                      AND l.hour = f.hour - INTERVAL 1 HOUR
        JOIN hourly z  ON z.event_type <> f.event_type
                      AND z.event_type <> l.event_type
                      AND z.hour = f.hour - INTERVAL 1 HOUR
    ),
    moments AS (
        SELECT cause, effect, given,
               CAST(count(*) AS BIGINT) AS n,
               corr(y, ylag) AS a, corr(y, xlag) AS b, corr(y, zlag) AS c,
               corr(ylag, xlag) AS d, corr(ylag, zlag) AS e,
               corr(xlag, zlag) AS f
        FROM aligned GROUP BY 1, 2, 3
    ),
    fits AS (
{_COND_GRANGER_MATH}
    ),
    per_pair AS (
        SELECT cause, effect,
               min((r2_u - r2_r) / (1 - r2_u) * (n - 4)) AS min_f,
               CAST(count(*) AS BIGINT) AS n_conditions
        FROM fits GROUP BY 1, 2
    )
    SELECT cause, effect, round(min_f, 4) AS min_f_stat, n_conditions,
           CAST(CASE WHEN min_f > 6.63 THEN 1 ELSE 0 END AS INTEGER)
               AS robust_edge
    FROM per_pair
    ORDER BY cause, effect
    """,
    doc="CONDITIONAL Granger screen: for every directed pair (x -> y) "
    "and every third series z, the F-test of adding x_{t-1} to a "
    "model that already has y_{t-1} AND z_{t-1} — computed in closed "
    "form from the 4x4 correlation-matrix determinant identity "
    "R2 = 1 - det(R_full)/det(R_regressors), with the determinant "
    "polynomials generated ONCE as SQL text and evaluated verbatim "
    "by both engines.  The pair's reported statistic is the MINIMUM "
    "F over all conditioning choices: an edge that survives its "
    "worst confounder (min F > 6.63, the 1% chi-square_1 point) is "
    "robust — the Granger analog of the PC skeleton's min-partial "
    "rule, and the defense against 'x Granger-causes y' claims that "
    "a common driver z explains away.  Everything after the grid is "
    "|series|^3-row moment arithmetic.",
    tags=("causality", "timeseries", "stats"),
)
def conditional_granger_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly_series(spark, sf_dir).transform(ckpt)
    f_, fl, l_, z_ = h.alias("f"), h.alias("fl"), h.alias("l"), h.alias("z")
    prev = F.col("f.hour") - F.expr("INTERVAL 1 HOUR")
    aligned = (
        f_.join(
            fl,
            (F.col("fl.event_type") == F.col("f.event_type"))
            & (F.col("fl.hour") == prev),
        )
        .join(
            l_,
            (F.col("l.event_type") != F.col("f.event_type"))
            & (F.col("l.hour") == prev),
        )
        .join(
            z_,
            (F.col("z.event_type") != F.col("f.event_type"))
            & (F.col("z.event_type") != F.col("l.event_type"))
            & (F.col("z.hour") == prev),
        )
        .select(
            F.col("l.event_type").alias("cause"),
            F.col("f.event_type").alias("effect"),
            F.col("z.event_type").alias("given"),
            F.col("f.v").alias("y"),
            F.col("fl.v").alias("ylag"),
            F.col("l.v").alias("xlag"),
            F.col("z.v").alias("zlag"),
        )
    )
    moments = aligned.groupBy("cause", "effect", "given").agg(
        F.count("*").cast("bigint").alias("n"),
        F.corr("y", "ylag").alias("a"),
        F.corr("y", "xlag").alias("b"),
        F.corr("y", "zlag").alias("c"),
        F.corr("ylag", "xlag").alias("d"),
        F.corr("ylag", "zlag").alias("e"),
        F.corr("xlag", "zlag").alias("f"),
    )
    fits = moments.filter(
        (F.col("n") >= 12)
        & (F.abs(F.expr(_DET3_REGS)) > 1e-6)
        & (F.abs(F.expr(_DET2_RESTR)) > 1e-6)
    ).select(
        "cause",
        "effect",
        "given",
        "n",
        F.expr(f"1 - ({_DET4_FULL}) / ({_DET3_REGS})").alias("r2_u"),
        F.expr(f"1 - ({_DET3_RESTR}) / ({_DET2_RESTR})").alias("r2_r"),
    )
    per_pair = fits.groupBy("cause", "effect").agg(
        F.min(
            (F.col("r2_u") - F.col("r2_r")) / (1 - F.col("r2_u")) * (F.col("n") - 4)
        ).alias("min_f"),
        F.count("*").cast("bigint").alias("n_conditions"),
    )
    return per_pair.select(
        "cause",
        "effect",
        F.round("min_f", 4).alias("min_f_stat"),
        "n_conditions",
        F.when(F.col("min_f") > 6.63, 1).otherwise(0).cast("int").alias(
            "robust_edge"
        ),
    ).orderBy("cause", "effect")


@register(
    "brown_forsythe_variance_test",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS md
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - m.md) AS z
        FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    g AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               avg(z) AS m, var_samp(z) AS v
        FROM dev GROUP BY 1
    ),
    tot AS (
        SELECT sum(n) AS nt, sum(n * m) / sum(n) AS gm,
               CAST(count(*) AS DOUBLE) AS k
        FROM g
    ),
    ss AS (
        SELECT t.k, t.nt,
               sum(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
               sum((g.n - 1) * g.v) AS ssw
        FROM g CROSS JOIN tot t GROUP BY 1, 2
    )
    SELECT CAST(k AS INTEGER) AS n_groups, CAST(nt AS BIGINT) AS n_obs,
           round((ssb / (k - 1)) / (ssw / (nt - k)), 4) AS bf_stat
    FROM ss
    """,
    doc="Brown-Forsythe (median-centered Levene) homogeneity-of-"
    "variance test across element types: ANOVA on |x - group "
    "median|.  The gate in front of every pooled-variance "
    "comparison: if spreads differ, use Welch (which this engine "
    "also ships) instead of pooled t / classic ANOVA.  Exact group "
    "medians come from one percentile aggregate; deviations are one "
    "broadcast-join map pass; the rest is moment arithmetic on "
    "|groups| rows.",
    tags=("causality", "stats", "robust"),
)
def brown_forsythe_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("md")
    )
    e, m = ev.alias("e"), med.alias("m")
    dev = e.join(
        F.broadcast(m), F.col("m.event_type") == F.col("e.event_type")
    ).select(
        F.col("e.event_type").alias("event_type"),
        F.abs(F.col("e.value") - F.col("m.md")).alias("z"),
    )
    g = dev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.avg("z").alias("m"),
        F.var_samp("z").alias("v"),
    ).transform(ckpt)  # |types| rows, consumed twice
    tot = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count("*").cast("double").alias("k"),
    )
    ss = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "nt")
        .agg(
            F.sum(
                F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
            ).alias("ssb"),
            F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
        )
    )
    return ss.select(
        F.col("k").cast("int").alias("n_groups"),
        F.col("nt").cast("bigint").alias("n_obs"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("nt") - F.col("k"))),
            4,
        ).alias("bf_stat"),
    )


@register(
    "click_purchase_odds_ratio",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicked,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS purchased
        FROM events GROUP BY 1
    ),
    cells AS (
        SELECT CAST(sum(CASE WHEN clicked = 1 AND purchased = 1
                             THEN 1 ELSE 0 END) AS DOUBLE) AS a,
               CAST(sum(CASE WHEN clicked = 1 AND purchased = 0
                             THEN 1 ELSE 0 END) AS DOUBLE) AS b,
               CAST(sum(CASE WHEN clicked = 0 AND purchased = 1
                             THEN 1 ELSE 0 END) AS DOUBLE) AS c,
               CAST(sum(CASE WHEN clicked = 0 AND purchased = 0
                             THEN 1 ELSE 0 END) AS DOUBLE) AS d
        FROM per_user
    )
    SELECT CAST(a AS BIGINT) AS n_click_buy, CAST(b AS BIGINT) AS n_click_only,
           CAST(c AS BIGINT) AS n_buy_only, CAST(d AS BIGINT) AS n_neither,
           round((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)), 4)
               AS odds_ratio,
           round(exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                     - 1.96 * sqrt(1/(a+0.5) + 1/(b+0.5) + 1/(c+0.5)
                                   + 1/(d+0.5))), 4) AS ci_lo,
           round(exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                     + 1.96 * sqrt(1/(a+0.5) + 1/(b+0.5) + 1/(c+0.5)
                                   + 1/(d+0.5))), 4) AS ci_hi
    FROM cells
    """,
    doc="Entity-level 2x2 odds ratio (click -> purchase) with the "
    "Haldane-Anscombe +0.5 correction and the Woolf log-OR 95% CI — "
    "the effect-size number behind the funnel: not just 'clickers "
    "buy more' but by what multiplicative factor, with uncertainty.  "
    "One per-entity flag aggregate -> a single 4-cell row -> scalar "
    "arithmetic; the canonical 100-TB-to-4-numbers reduction.",
    tags=("causality", "stats"),
)
def click_purchase_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("clicked"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
    )
    cells = per_user.agg(
        F.sum(((F.col("clicked") == 1) & (F.col("purchased") == 1)).cast("int"))
        .cast("double")
        .alias("a"),
        F.sum(((F.col("clicked") == 1) & (F.col("purchased") == 0)).cast("int"))
        .cast("double")
        .alias("b"),
        F.sum(((F.col("clicked") == 0) & (F.col("purchased") == 1)).cast("int"))
        .cast("double")
        .alias("c"),
        F.sum(((F.col("clicked") == 0) & (F.col("purchased") == 0)).cast("int"))
        .cast("double")
        .alias("d"),
    )
    a, b, c, d = (F.col(x) + 0.5 for x in "abcd")
    log_or = F.log(a * d / (b * c))
    se = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    return cells.select(
        F.col("a").cast("bigint").alias("n_click_buy"),
        F.col("b").cast("bigint").alias("n_click_only"),
        F.col("c").cast("bigint").alias("n_buy_only"),
        F.col("d").cast("bigint").alias("n_neither"),
        F.round(a * d / (b * c), 4).alias("odds_ratio"),
        F.round(F.exp(log_or - 1.96 * se), 4).alias("ci_lo"),
        F.round(F.exp(log_or + 1.96 * se), 4).alias("ci_hi"),
    )


@register(
    "huber_location_estimate",
    oracle="""
    WITH base AS (
        SELECT event_type, round(value, 6) AS x FROM events
    ),
    m0 AS (
        SELECT event_type,
               quantile_cont(x, 0.5) AS m,
               CAST(count(*) AS BIGINT) AS n
        FROM base GROUP BY 1
    ),
    scale AS (
        SELECT b.event_type,
               1.4826 * quantile_cont(abs(b.x - m0.m), 0.5) AS s
        FROM base b JOIN m0 ON m0.event_type = b.event_type
        GROUP BY 1
    ),
    r1 AS (
        SELECT b.event_type,
               sum(least(1.0, 1.345 * sc.s
                              / greatest(abs(b.x - m0.m), 1e-12)) * b.x)
                   / sum(least(1.0, 1.345 * sc.s
                              / greatest(abs(b.x - m0.m), 1e-12))) AS m
        FROM base b
        JOIN m0 ON m0.event_type = b.event_type
        JOIN scale sc ON sc.event_type = b.event_type
        GROUP BY 1
    ),
    r2 AS (
        SELECT b.event_type,
               sum(least(1.0, 1.345 * sc.s
                              / greatest(abs(b.x - r1.m), 1e-12)) * b.x)
                   / sum(least(1.0, 1.345 * sc.s
                              / greatest(abs(b.x - r1.m), 1e-12))) AS m
        FROM base b
        JOIN r1 ON r1.event_type = b.event_type
        JOIN scale sc ON sc.event_type = b.event_type
        GROUP BY 1
    )
    SELECT m0.event_type AS series, m0.n AS n_obs,
           round(m0.m, 4) AS median_start,
           round(sc.s, 4) AS mad_scale,
           round(r2.m, 4) AS huber_location
    FROM m0
    JOIN scale sc ON sc.event_type = m0.event_type
    JOIN r2 ON r2.event_type = m0.event_type
    ORDER BY series
    """,
    doc="Huber M-estimator of location per series: start at the "
    "exact median, scale by 1.4826*MAD, then two unrolled IRLS "
    "rounds with the k=1.345 Huber weight min(1, ks/|x-m|) — the "
    "95%-efficient compromise between the outlier-fragile mean and "
    "the information-discarding median.  Each round is ONE weighted-"
    "sum aggregate pass with the previous center broadcast; no "
    "solver, no per-group iteration in the driver.  6-dp value "
    "rounding keeps the weighted sums engine-identical.",
    tags=("causality", "stats", "robust"),
)
def huber_location_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.round("value", 6).alias("x")
    ).transform(ckpt)
    m0 = base.groupBy("event_type").agg(
        F.expr("percentile(x, 0.5)").alias("m"),
        F.count("*").cast("bigint").alias("n"),
    ).transform(ckpt)
    b_, m0_ = base.alias("b"), m0.alias("m0")
    scale = (
        b_.join(F.broadcast(m0_), F.col("m0.event_type") == F.col("b.event_type"))
        .groupBy(F.col("b.event_type").alias("event_type"))
        .agg(
            (
                1.4826
                * F.expr("percentile(abs(x - m), 0.5)")
            ).alias("s")
        )
        .transform(ckpt)
    )

    def irls_round(center: DataFrame) -> DataFrame:
        c_, sc_ = center.alias("c"), scale.alias("sc")
        w = F.least(
            F.lit(1.0),
            1.345
            * F.col("sc.s")
            / F.greatest(F.abs(F.col("b.x") - F.col("c.m")), F.lit(1e-12)),
        )
        return (
            b_.join(
                F.broadcast(c_), F.col("c.event_type") == F.col("b.event_type")
            )
            .join(
                F.broadcast(sc_), F.col("sc.event_type") == F.col("b.event_type")
            )
            .groupBy(F.col("b.event_type").alias("event_type"))
            .agg((F.sum(w * F.col("b.x")) / F.sum(w)).alias("m"))
        )

    r1 = irls_round(m0.select("event_type", "m")).transform(ckpt)
    r2 = irls_round(r1)
    sc2, r2_ = scale.alias("sc2"), r2.alias("r2")
    return (
        m0_.join(sc2, F.col("sc2.event_type") == F.col("m0.event_type"))
        .join(r2_, F.col("r2.event_type") == F.col("m0.event_type"))
        .select(
            F.col("m0.event_type").alias("series"),
            F.col("m0.n").alias("n_obs"),
            F.round(F.col("m0.m"), 4).alias("median_start"),
            F.round(F.col("sc2.s"), 4).alias("mad_scale"),
            F.round(F.col("r2.m"), 4).alias("huber_location"),
        )
        .orderBy("series")
    )


@register(
    "conversion_rate_inference",
    oracle="""
    WITH per_unit AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicked,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS purchased
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT clicked AS cohort,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(purchased) AS DOUBLE) AS k
        FROM per_unit GROUP BY 1
    ),
    wilson AS (
        SELECT cohort, n, k, k / n AS p,
               (k / n + 1.9208 / n
                - 1.96 * sqrt((k / n) * (1 - k / n) / n + 0.9604 / (n * n)))
                   / (1 + 3.8416 / n) AS lo,
               (k / n + 1.9208 / n
                + 1.96 * sqrt((k / n) * (1 - k / n) / n + 0.9604 / (n * n)))
                   / (1 + 3.8416 / n) AS hi
        FROM g
    ),
    z AS (
        SELECT (a.p - b.p)
               / sqrt(((a.k + b.k) / (a.n + b.n))
                      * (1 - (a.k + b.k) / (a.n + b.n))
                      * (1 / a.n + 1 / b.n)) AS z_stat
        FROM wilson a, wilson b
        WHERE a.cohort = 1 AND b.cohort = 0
    )
    SELECT w.cohort AS clicked_cohort,
           CAST(w.n AS BIGINT) AS n_units,
           round(w.p, 6) AS conversion_rate,
           round(w.lo, 6) AS wilson_lo,
           round(w.hi, 6) AS wilson_hi,
           round((SELECT z_stat FROM z), 4) AS two_prop_z
    FROM wilson w
    ORDER BY clicked_cohort
    """,
    doc="Conversion-rate inference at the user-day grain: per-cohort "
    "(clicked that day vs not) purchase rates with Wilson score 95% intervals — the interval "
    "that behaves at small k and near 0/1 where the Wald CI "
    "collapses — plus the pooled two-proportion z statistic for the "
    "cohort difference.  The proportion-scale companion to the odds "
    "ratio: same 4-cell reduction, now with per-cohort uncertainty "
    "a dashboard can plot.  One per-(entity, day) flag aggregate; "
    "everything after is arithmetic on 2 rows.",
    tags=("causality", "stats"),
)
def conversion_rate_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_unit = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("clicked"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
    )
    g = per_unit.groupBy(F.col("clicked").alias("cohort")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("purchased").cast("double").alias("k"),
    )
    p = F.col("k") / F.col("n")
    half = 1.96 * F.sqrt(p * (1 - p) / F.col("n") + 0.9604 / (F.col("n") * F.col("n")))
    denom = 1 + 3.8416 / F.col("n")
    wilson = g.select(
        "cohort",
        "n",
        "k",
        p.alias("p"),
        ((p + 1.9208 / F.col("n") - half) / denom).alias("lo"),
        ((p + 1.9208 / F.col("n") + half) / denom).alias("hi"),
    ).transform(ckpt)
    a, b = wilson.alias("a"), wilson.alias("b")
    pooled = (F.col("a.k") + F.col("b.k")) / (F.col("a.n") + F.col("b.n"))
    z = (
        a.filter(F.col("a.cohort") == 1)
        .crossJoin(b.filter(F.col("b.cohort") == 0))
        .select(
            (
                (F.col("a.p") - F.col("b.p"))
                / F.sqrt(
                    pooled * (1 - pooled) * (1 / F.col("a.n") + 1 / F.col("b.n"))
                )
            ).alias("z_stat")
        )
    )
    return (
        wilson.crossJoin(F.broadcast(z))
        .select(
            F.col("cohort").alias("clicked_cohort"),
            F.col("n").cast("bigint").alias("n_units"),
            F.round("p", 6).alias("conversion_rate"),
            F.round("lo", 6).alias("wilson_lo"),
            F.round("hi", 6).alias("wilson_hi"),
            F.round("z_stat", 4).alias("two_prop_z"),
        )
        .orderBy("clicked_cohort")
    )


@register(
    "qq_plot_purchase_vs_view",
    oracle="""
    WITH aq AS (
        SELECT quantile_cont(round(value, 6), [1 / 20.0, 2 / 20.0, 3 / 20.0, 4 / 20.0, 5 / 20.0, 6 / 20.0, 7 / 20.0, 8 / 20.0, 9 / 20.0, 10 / 20.0, 11 / 20.0, 12 / 20.0, 13 / 20.0, 14 / 20.0, 15 / 20.0, 16 / 20.0, 17 / 20.0, 18 / 20.0, 19 / 20.0]) AS qs
        FROM events WHERE event_type = 'purchase'
    ),
    bq AS (
        SELECT quantile_cont(round(value, 6), [1 / 20.0, 2 / 20.0, 3 / 20.0, 4 / 20.0, 5 / 20.0, 6 / 20.0, 7 / 20.0, 8 / 20.0, 9 / 20.0, 10 / 20.0, 11 / 20.0, 12 / 20.0, 13 / 20.0, 14 / 20.0, 15 / 20.0, 16 / 20.0, 17 / 20.0, 18 / 20.0, 19 / 20.0]) AS qs
        FROM events WHERE event_type = 'view'
    ),
    a AS (
        SELECT CAST(generate_subscripts(qs, 1) AS INTEGER) AS lvl,
               unnest(qs) AS qa
        FROM aq
    ),
    b AS (
        SELECT CAST(generate_subscripts(qs, 1) AS INTEGER) AS lvl,
               unnest(qs) AS qb
        FROM bq
    )
    SELECT a.lvl AS level_20th,
           round(a.qa, 4) AS q_purchase,
           round(b.qb, 4) AS q_view,
           round(a.qa - b.qb, 4) AS gap
    FROM a JOIN b ON b.lvl = a.lvl
    ORDER BY level_20th
    """,
    doc="QQ-plot table between the purchase and view value "
    "distributions: matched quantiles at the 19 interior 20-tiles "
    "with the per-level gap — the visual companion to the KS "
    "statistic that shows WHERE the distributions diverge (head, "
    "body, or tail), not just that they do.  Two exact-percentile "
    "aggregates over 6-dp-rounded values; 100 TB reduces to 19 "
    "matched rows.",
    tags=("causality", "stats", "robust"),
)
def qq_plot_purchase_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round("value", 6).alias("x")
    )

    levels = ", ".join(f"{i} / 20.0D" for i in range(1, 20))

    def side(etype: str, out: str) -> DataFrame:
        sub = ev.filter(F.col("event_type") == etype)
        qarr = sub.agg(
            F.expr(f"percentile(x, array({levels}))").alias("qs")
        )
        return qarr.select(
            F.posexplode("qs").alias("i", out)
        ).select((F.col("i") + 1).cast("int").alias("lvl"), out)

    a, b = side("purchase", "qa").alias("a"), side("view", "qb").alias("b")
    return (
        a.join(b, F.col("b.lvl") == F.col("a.lvl"))
        .select(
            F.col("a.lvl").cast("int").alias("level_20th"),
            F.round("qa", 4).alias("q_purchase"),
            F.round("qb", 4).alias("q_view"),
            F.round(F.col("qa") - F.col("qb"), 4).alias("gap"),
        )
        .orderBy("level_20th")
    )


@register(
    "cosupply_degree_assortativity",
    oracle=_COSUPPLY_EDGES_ORACLE
    + """
    , sym AS (
        SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT u AS node, CAST(count(*) AS DOUBLE) AS d
            FROM sym GROUP BY 1)
    SELECT round(corr(da.d, db.d), 4) AS assortativity,
           CAST(count(*) AS BIGINT) AS n_edge_ends,
           round(avg(da.d), 4) AS mean_degree
    FROM sym s
    JOIN deg da ON da.node = s.u
    JOIN deg db ON db.node = s.v
    """,
    doc="Degree assortativity of the co-supply graph: the Pearson "
    "correlation of endpoint degrees over every directed edge end "
    "(Newman's r).  Positive = hubs couple to hubs (a dense core "
    "that k-core peeling will expose; cascades spread fast), "
    "negative = hub-and-spoke.  One degree aggregate + two "
    "broadcast-sized joins over the edge list; the facts are only "
    "touched to build the edges.",
    tags=("causality", "graph", "stats"),
)
def cosupply_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cosupply_edges(spark, sf_dir).transform(ckpt)
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(ckpt)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("double").alias("d")
    )
    da, db = deg.alias("da"), deg.alias("db")
    return (
        sym.alias("s")
        .join(F.broadcast(da), F.col("da.node") == F.col("s.u"))
        .join(F.broadcast(db), F.col("db.node") == F.col("s.v"))
        .agg(
            # explicit corr = cov/(sa*sb) with NULLIF guards: a
            # degenerate graph (all degrees equal) must yield NULL like
            # DuckDB's corr, not an ANSI divide-by-zero
            F.round(
                F.covar_samp("da.d", "db.d")
                / (
                    F.nullif(F.stddev_samp("da.d"), F.lit(0.0))
                    * F.nullif(F.stddev_samp("db.d"), F.lit(0.0))
                ),
                4,
            ).alias("assortativity"),
            F.count("*").cast("bigint").alias("n_edge_ends"),
            F.round(F.avg("da.d"), 4).alias("mean_degree"),
        )
    )


@register(
    "cramers_v_association",
    oracle="""
    WITH obs AS (
        SELECT event_type, user_id % 3 AS segment,
               CAST(count(*) AS DOUBLE) AS o
        FROM events GROUP BY 1, 2
    ),
    margins AS (
        SELECT event_type, segment, o,
               sum(o) OVER (PARTITION BY event_type) AS row_tot,
               sum(o) OVER (PARTITION BY segment) AS col_tot,
               sum(o) OVER () AS n
        FROM obs
    ),
    agg AS (
        SELECT sum(pow(o - row_tot * col_tot / n, 2)
                   / (row_tot * col_tot / n)) AS chi2,
               CAST(count(DISTINCT event_type) AS DOUBLE) AS r,
               CAST(count(DISTINCT segment) AS DOUBLE) AS c,
               max(n) AS n
        FROM margins
    )
    SELECT round(chi2, 6) AS chi2,
           CAST(n AS BIGINT) AS n_events,
           round(sqrt(chi2 / (n * (least(r, c) - 1))), 6) AS cramers_v,
           round(sqrt(greatest(chi2 / n - (r - 1) * (c - 1) / (n - 1), 0)
                      / greatest(least(r - (r - 1) * (r - 1) / (n - 1),
                                       c - (c - 1) * (c - 1) / (n - 1)) - 1,
                                 1e-12)), 6) AS cramers_v_corrected
    FROM agg
    """,
    doc="Cramer's V effect size for the type x segment association: "
    "chi-square says WHETHER type and segment are dependent (at "
    "large n it always will); V = sqrt(chi2 / (n * (min(r,c) - 1))) "
    "in [0, 1] says HOW MUCH, with the Bergsma bias-corrected "
    "variant beside it — the categorical analog of reporting the "
    "correlation, not just its p-value, and immune to the "
    "everything-is-significant trap at 100 TB sample sizes.  Same "
    "tiny contingency-table windows as the chi-square screen.",
    tags=("causality", "agg", "stats"),
)
def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.col("user_id") % 3).alias("segment")
    ).agg(F.count("*").cast("double").alias("o"))
    margins = obs.select(
        "event_type",
        "segment",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("segment")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    expected = F.col("row_tot") * F.col("col_tot") / F.col("n")
    agg = margins.agg(
        F.sum(F.pow(F.col("o") - expected, 2) / expected).alias("chi2"),
        F.countDistinct("event_type").cast("double").alias("r"),
        F.countDistinct("segment").cast("double").alias("c"),
        F.max("n").alias("n"),
    )
    r, c, n, chi2 = F.col("r"), F.col("c"), F.col("n"), F.col("chi2")
    phi2_corr = F.greatest(chi2 / n - (r - 1) * (c - 1) / (n - 1), F.lit(0.0))
    r_corr = r - (r - 1) * (r - 1) / (n - 1)
    c_corr = c - (c - 1) * (c - 1) / (n - 1)
    # Both V expressions must read the UNROUNDED chi2; a rounded sibling
    # alias named "chi2" in the same select would shadow it (Spark-4
    # lateral-alias rule) — so compute raw, then round in a second select.
    raw = agg.select(
        chi2.alias("chi2_raw"),
        n.cast("bigint").alias("n_events"),
        F.sqrt(chi2 / (n * (F.least(r, c) - 1))).alias("v_raw"),
        F.sqrt(
            phi2_corr / F.greatest(F.least(r_corr, c_corr) - 1, F.lit(1e-12))
        ).alias("v_corr_raw"),
    )
    return raw.select(
        F.round("chi2_raw", 6).alias("chi2"),
        "n_events",
        F.round("v_raw", 6).alias("cramers_v"),
        F.round("v_corr_raw", 6).alias("cramers_v_corrected"),
    )


@register(
    "cusum_changepoint_location",
    oracle=_ROUNDED_DAILY_ORACLE
    + """
    , stats AS (
        SELECT event_type, avg(v) AS mu, stddev_samp(v) AS sd,
               CAST(count(*) AS BIGINT) AS n
        FROM daily GROUP BY 1
    ),
    cs AS (
        SELECT d.event_type, d.day,
               sum(d.v - s.mu) OVER (PARTITION BY d.event_type
                                     ORDER BY d.day) AS cums
        FROM daily d JOIN stats s USING (event_type)
    ),
    picked AS (
        SELECT event_type, day, cums,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY round(abs(cums), 6) DESC, day)
                   AS rn
        FROM cs
    ),
    cp AS (
        SELECT event_type, day AS cp_day, abs(cums) AS max_dev
        FROM picked WHERE rn = 1
    ),
    sides AS (
        SELECT d.event_type,
               avg(CASE WHEN d.day <= c.cp_day THEN d.v END) AS pre_mean,
               avg(CASE WHEN d.day > c.cp_day THEN d.v END) AS post_mean
        FROM daily d JOIN cp c USING (event_type)
        GROUP BY 1
    )
    SELECT c.event_type AS series, c.cp_day, s.n AS n_days,
           round(c.max_dev / nullif(s.sd * sqrt(s.n), 0), 4) AS cusum_stat,
           round(sd.pre_mean, 4) AS pre_mean,
           round(sd.post_mean, 4) AS post_mean
    FROM cp c
    JOIN stats s USING (event_type)
    JOIN sides sd USING (event_type)
    ORDER BY series
    """,
    doc="CUSUM changepoint detection per series (Page 1954 / "
    "Pettitt-style single changepoint): the running cumulative "
    "deviation from the series mean peaks where the level shifts; "
    "emits the argmax day (6-dp-rounded |S| with day tie-break so "
    "the pick is engine-identical), the standardized statistic "
    "max|S|/(sd*sqrt(n)) (~Kolmogorov-scaled under the null), and "
    "the pre/post means.  The companion to poisson_rate_change, "
    "which TESTS a KNOWN cutoff, and to the cusum_changepoint "
    "screen, which FLAGS high-|S| days — this LOCATES the shift.  Scale: "
    "one window pass over the volume-independent daily grid; "
    "everything after is |series| rows.",
    tags=("causality", "timeseries", "window", "stats"),
)
def cusum_changepoint_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _rounded_daily_series(spark, sf_dir).transform(ckpt)
    stats = daily.groupBy("event_type").agg(
        F.avg("v").alias("mu"),
        F.stddev_samp("v").alias("sd"),
        F.count("*").cast("bigint").alias("n"),
    )
    w_cum = Window.partitionBy("event_type").orderBy("day")
    cs = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        F.sum(F.col("v") - F.col("mu")).over(w_cum).alias("cums"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.round(F.abs(F.col("cums")), 6).desc(), F.asc("day")
    )
    cp = (
        cs.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            F.abs(F.col("cums")).alias("max_dev"),
        )
    )
    sides = (
        daily.join(F.broadcast(cp), "event_type")
        .groupBy("event_type")
        .agg(
            F.avg(F.when(F.col("day") <= F.col("cp_day"), F.col("v"))).alias(
                "pre_mean"
            ),
            F.avg(F.when(F.col("day") > F.col("cp_day"), F.col("v"))).alias(
                "post_mean"
            ),
        )
    )
    return (
        cp.join(stats, "event_type")
        .join(sides, "event_type")
        .select(
            F.col("event_type").alias("series"),
            "cp_day",
            F.col("n").alias("n_days"),
            F.round(
                F.col("max_dev")
                / F.nullif(F.col("sd") * F.sqrt(F.col("n")), F.lit(0.0)),
                4,
            ).alias("cusum_stat"),
            F.round("pre_mean", 4).alias("pre_mean"),
            F.round("post_mean", 4).alias("post_mean"),
        )
        .orderBy("series")
    )


# --- experiment / causal-effect estimators (r7) ------------------------
# IPW composes the reusable IRLS-GLM primitive from queries_llm into
# propensity-score estimation; CUPED and the Wald-IV estimator are
# single-moment-pass designs.  No cycle: queries_llm never imports
# this module.
from .queries_llm import _irls_oracle_ctes as _glm_ctes  # noqa: E402

# causal unit = USER-DAY (user grain is degenerate on this corpus:
# every user eventually clicks, leaving no control group — measured,
# not assumed); outcome rides along in feat so the GLM CTEs and the
# effect stage share one reduce
def _user_day_feat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's shared causal design matrix: one row per user-day
    with confounders f1/f2 (log view count, mean view value), treatment
    y (clicked that day) and outcome o (purchase value) — the Spark
    twin of ``_IPW_FEAT_SQL``, consumed by ipw/aipw here and by the
    propensity-stratification/matching estimators in
    ``queries_experiments.py``.  Lazily checkpointed: every consumer
    reads it at least twice (GLM fit + effect pass)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.round(
            F.log(
                1
                + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            ),
            6,
        ).alias("f1"),
        F.round(
            F.coalesce(
                F.avg(F.when(F.col("event_type") == "view", F.col("value"))),
                F.lit(0.0),
            ),
            6,
        ).alias("f2"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("int")
        .alias("y"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("o"),
    ).transform(ckpt)


_IPW_FEAT_SQL = """
        SELECT user_id, date_trunc('day', ts) AS day,
               round(ln(1 + sum(CASE WHEN event_type = 'view'
                                     THEN 1 ELSE 0 END)), 6) AS f1,
               round(coalesce(avg(CASE WHEN event_type = 'view'
                                       THEN value END), 0), 6) AS f2,
               CAST(max(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS INTEGER) AS y,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN value END), 0) AS o
        FROM events GROUP BY 1, 2"""


@register(
    "ipw_treatment_effect",
    oracle=_glm_ctes(_IPW_FEAT_SQL)
    + """,
    scored AS (
        SELECT f.y, f.o,
               least(greatest(1/(1+exp(-(b.b0 + b.b1*f.f1 + b.b2*f.f2))),
                              0.01), 0.99) AS p
        FROM feat f CROSS JOIN beta4 b
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_treated,
           round(sum(y * o / p) / sum(y / p)
                 - sum((1 - y) * o / (1 - p)) / sum((1 - y) / (1 - p)), 4)
               AS ipw_ate,
           round(avg(CASE WHEN y = 1 THEN o END)
                 - avg(CASE WHEN y = 0 THEN o END), 4) AS naive_diff,
           round(min(p), 4) AS p_min,
           round(max(p), 4) AS p_max
    FROM scored
    """,
    doc="Inverse-propensity-weighted treatment effect (Horvitz-"
    "Thompson/Hajek) at USER-DAY grain: treatment = the user clicked "
    "that day, outcome = that day's purchase value, confounders = "
    "same-day view activity (log-count + mean view value).  (User "
    "grain is degenerate here: every user eventually clicks — no "
    "control group.)  The propensity model is the SAME reusable "
    "unrolled-IRLS GLM primitive as logistic_irls_portable "
    "(queries_llm._irls_fit / _irls_oracle_ctes) — fitted "
    "end-to-end inside the query, propensities clipped to "
    "[0.01, 0.99] (overlap trimming), Hajek ratio estimator per "
    "arm, naive difference reported beside it.  Fully hash-checked "
    "including the embedded GLM fit.  Scale: user-grain reduce, 4 "
    "IRLS moment passes (9 doubles each), 1-row beta broadcast, one "
    "final moment pass — no per-row state, no driver loops.",
    tags=("causality", "stats", "ml", "agg"),
)
def ipw_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_llm import _irls_fit

    per_user = _user_day_feat(spark, sf_dir)
    beta = _irls_fit(spark, per_user)
    p_raw = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.col("b0")
                + F.col("b1") * F.col("f1")
                + F.col("b2") * F.col("f2")
            )
        )
    )
    p = F.least(F.greatest(p_raw, F.lit(0.01)), F.lit(0.99))
    scored = per_user.crossJoin(F.broadcast(beta)).select(
        "y", "o", p.alias("p")
    )
    y, o, pc = F.col("y"), F.col("o"), F.col("p")
    return scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_treated"),
        F.round(
            F.sum(y * o / pc) / F.sum(y / pc)
            - F.sum((1 - y) * o / (1 - pc)) / F.sum((1 - y) / (1 - pc)),
            4,
        ).alias("ipw_ate"),
        F.round(
            F.avg(F.when(y == 1, o)) - F.avg(F.when(y == 0, o)), 4
        ).alias("naive_diff"),
        F.round(F.min("p"), 4).alias("p_min"),
        F.round(F.max("p"), 4).alias("p_max"),
    )


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH span AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INTEGER) AS arm,
               round(coalesce(sum(CASE WHEN epoch_us(ts) <= s.mid_us
                                       THEN value END), 0), 6) AS pre,
               round(coalesce(sum(CASE WHEN epoch_us(ts) > s.mid_us
                                       THEN value END), 0), 6) AS post
        FROM events CROSS JOIN span s
        GROUP BY user_id
    ),
    theta AS (
        SELECT covar_samp(pre, post) / nullif(var_samp(pre), 0) AS th,
               avg(pre) AS mpre
        FROM per_user
    ),
    adj AS (
        SELECT u.arm, u.post,
               u.post - t.th * (u.pre - t.mpre) AS ycv
        FROM per_user u CROSS JOIN theta t
    )
    SELECT arm, CAST(count(*) AS BIGINT) AS n,
           round(avg(post), 4) AS raw_mean,
           round(avg(ycv), 4) AS cuped_mean,
           round(var_samp(post), 4) AS raw_var,
           round(var_samp(ycv), 4) AS cuped_var,
           round(100 * (1 - var_samp(ycv) / nullif(var_samp(post), 0)), 2)
               AS var_reduction_pct
    FROM adj GROUP BY arm ORDER BY arm
    """,
    doc="CUPED variance reduction (Deng et al. 2013): each user's "
    "window splits at the global midpoint timestamp into pre/post "
    "value sums, arms are a deterministic user_id split, "
    "theta = cov(pre, post)/var(pre) pooled, and the adjusted metric "
    "post - theta*(pre - mean_pre) keeps the mean while shedding the "
    "pre-period-predictable variance — the standard lever for "
    "shrinking A/B confidence intervals without more traffic.  "
    "Reports per-arm raw vs adjusted mean/variance and the realized "
    "reduction.  Scale: one user-grain reduce, a 1-row theta "
    "broadcast, one moment pass — integer-µs midpoint arithmetic is "
    "engine-identical.",
    tags=("causality", "stats", "agg"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("bigint")
        .alias("mid_us")
    )
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.unix_micros("ts") <= F.col("mid_us"),
                            F.col("value"),
                        )
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("pre"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.unix_micros("ts") > F.col("mid_us"),
                            F.col("value"),
                        )
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("post"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"), "pre", "post"
        )
        .transform(ckpt)
    )
    theta = per_user.agg(
        (
            F.covar_samp("pre", "post")
            / F.nullif(F.var_samp("pre"), F.lit(0.0))
        ).alias("th"),
        F.avg("pre").alias("mpre"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "arm",
        "post",
        (
            F.col("post") - F.col("th") * (F.col("pre") - F.col("mpre"))
        ).alias("ycv"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("post"), 4).alias("raw_mean"),
            F.round(F.avg("ycv"), 4).alias("cuped_mean"),
            F.round(F.var_samp("post"), 4).alias("raw_var"),
            F.round(F.var_samp("ycv"), 4).alias("cuped_var"),
            F.round(
                100
                * (
                    1
                    - F.var_samp("ycv")
                    / F.nullif(F.var_samp("post"), F.lit(0.0))
                ),
                2,
            ).alias("var_reduction_pct"),
        )
        .orderBy("arm")
    )


@register(
    "iv_wald_estimate",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INTEGER) AS z,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS x,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN value END), 0) AS yv
        FROM events GROUP BY user_id
    ),
    moments AS (
        SELECT avg(CASE WHEN z = 1 THEN yv END) AS y1,
               avg(CASE WHEN z = 0 THEN yv END) AS y0,
               avg(CASE WHEN z = 1 THEN x END) AS x1,
               avg(CASE WHEN z = 0 THEN x END) AS x0,
               covar_samp(x, yv) AS sxy,
               var_samp(x) AS sxx,
               CAST(count(*) AS BIGINT) AS n
        FROM per_user
    )
    SELECT n,
           round((y1 - y0) / nullif(x1 - x0, 0), 4) AS wald_iv_estimate,
           round(sxy / nullif(sxx, 0), 4) AS ols_estimate,
           round(x1 - x0, 4) AS first_stage_diff
    FROM moments
    """,
    doc="Wald instrumental-variable estimator (the 2SLS special case "
    "for a binary instrument): a deterministic user_id split stands "
    "in for an encouragement-design instrument z, exposure x = click "
    "count, outcome y = purchase value; beta_IV = "
    "(E[y|z=1]-E[y|z=0]) / (E[x|z=1]-E[x|z=0]) beside the "
    "confound-sensitive OLS slope cov(x,y)/var(x), plus the "
    "first-stage strength (a weak instrument makes the ratio "
    "explode — the diff is the diagnostic).  With a hash-random z "
    "the two should agree only when exposure is unconfounded.  "
    "Scale: user-grain reduce then ONE moment aggregate; arithmetic "
    "on a single row.",
    tags=("causality", "stats", "agg"),
)
def iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("yv"),
    ).select((F.col("user_id") % 2).cast("int").alias("z"), "x", "yv")
    z, x, yv = F.col("z"), F.col("x"), F.col("yv")
    m = per_user.agg(
        F.avg(F.when(z == 1, yv)).alias("y1"),
        F.avg(F.when(z == 0, yv)).alias("y0"),
        F.avg(F.when(z == 1, x)).alias("x1"),
        F.avg(F.when(z == 0, x)).alias("x0"),
        F.covar_samp("x", "yv").alias("sxy"),
        F.var_samp("x").alias("sxx"),
        F.count("*").cast("bigint").alias("n"),
    )
    return m.select(
        "n",
        F.round(
            (F.col("y1") - F.col("y0"))
            / F.nullif(F.col("x1") - F.col("x0"), F.lit(0.0)),
            4,
        ).alias("wald_iv_estimate"),
        F.round(
            F.col("sxy") / F.nullif(F.col("sxx"), F.lit(0.0)), 4
        ).alias("ols_estimate"),
        F.round(F.col("x1") - F.col("x0"), 4).alias("first_stage_diff"),
    )


_AIPW_OLS_CTES = """,
    ols AS (
        SELECT y AS arm,
               sum(1.0) AS s00, sum(f1) AS s01, sum(f2) AS s02,
               sum(f1 * f1) AS s11, sum(f1 * f2) AS s12,
               sum(f2 * f2) AS s22,
               sum(o) AS t0, sum(f1 * o) AS t1, sum(f2 * o) AS t2
        FROM feat GROUP BY y
    ),
    ols_det AS (
        SELECT *, s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)
                  + s02*(s01*s12 - s11*s02) AS det
        FROM ols
    ),
    ols_beta AS (
        SELECT arm,
               ((s11*s22 - s12*s12) * t0 + (s02*s12 - s01*s22) * t1
                + (s01*s12 - s02*s11) * t2) / det AS a0,
               ((s02*s12 - s01*s22) * t0 + (s00*s22 - s02*s02) * t1
                + (s01*s02 - s00*s12) * t2) / det AS a1,
               ((s01*s12 - s02*s11) * t0 + (s01*s02 - s00*s12) * t1
                + (s00*s11 - s01*s01) * t2) / det AS a2
        FROM ols_det
    )"""


@register(
    "aipw_doubly_robust_effect",
    oracle=_glm_ctes(_IPW_FEAT_SQL)
    + _AIPW_OLS_CTES
    + """,
    scored AS (
        SELECT f.y, f.o,
               least(greatest(1/(1+exp(-(b.b0 + b.b1*f.f1 + b.b2*f.f2))),
                              0.01), 0.99) AS p,
               m1.a0 + m1.a1 * f.f1 + m1.a2 * f.f2 AS m1,
               m0.a0 + m0.a1 * f.f1 + m0.a2 * f.f2 AS m0
        FROM feat f
        CROSS JOIN beta4 b
        CROSS JOIN (SELECT * FROM ols_beta WHERE arm = 1) m1
        CROSS JOIN (SELECT * FROM ols_beta WHERE arm = 0) m0
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(avg(m1 - m0
                     + y * (o - m1) / p
                     - (1 - y) * (o - m0) / (1 - p)), 4) AS aipw_ate,
           round(avg(m1 - m0), 4) AS outcome_model_ate,
           round(sum(y * o / p) / sum(y / p)
                 - sum((1 - y) * o / (1 - p)) / sum((1 - y) / (1 - p)), 4)
               AS ipw_ate,
           round(avg(CASE WHEN y = 1 THEN o END)
                 - avg(CASE WHEN y = 0 THEN o END), 4) AS naive_diff
    FROM scored
    """,
    doc="Doubly-robust (AIPW) treatment effect on the same user-day "
    "design as ipw_treatment_effect: per-arm OLS outcome models "
    "(closed-form 3x3 normal-equation solves — one grouped moment "
    "pass fits BOTH arms) augment the IRLS propensity, and the "
    "estimator m1 - m0 + y(o-m1)/p - (1-y)(o-m0)/(1-p) is consistent "
    "if EITHER model is right.  Emits AIPW beside its three "
    "ingredients (outcome-only, IPW, naive) so model disagreement is "
    "visible in one row.  Fully hash-checked, including both "
    "embedded fits.  Scale: the same GLM moment passes plus ONE "
    "grouped 10-sum aggregate; three 1-row broadcasts.",
    tags=("causality", "stats", "ml", "agg"),
)
def aipw_doubly_robust_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_llm import _irls_fit

    feat = _user_day_feat(spark, sf_dir)
    beta = _irls_fit(spark, feat)
    f1, f2, o = F.col("f1"), F.col("f2"), F.col("o")
    ols = feat.groupBy(F.col("y").alias("arm")).agg(
        F.sum(F.lit(1.0)).alias("s00"),
        F.sum(f1).alias("s01"),
        F.sum(f2).alias("s02"),
        F.sum(f1 * f1).alias("s11"),
        F.sum(f1 * f2).alias("s12"),
        F.sum(f2 * f2).alias("s22"),
        F.sum(o).alias("t0"),
        F.sum(f1 * o).alias("t1"),
        F.sum(f2 * o).alias("t2"),
    )
    s00, s01, s02 = F.col("s00"), F.col("s01"), F.col("s02")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
    det = (
        s00 * (s11 * s22 - s12 * s12)
        - s01 * (s01 * s22 - s12 * s02)
        + s02 * (s01 * s12 - s11 * s02)
    )
    d = F.col("det")
    ols_beta = ols.select("arm", det.alias("det"), *ols.columns[1:]).select(
        "arm",
        (
            (
                (s11 * s22 - s12 * s12) * t0
                + (s02 * s12 - s01 * s22) * t1
                + (s01 * s12 - s02 * s11) * t2
            )
            / d
        ).alias("a0"),
        (
            (
                (s02 * s12 - s01 * s22) * t0
                + (s00 * s22 - s02 * s02) * t1
                + (s01 * s02 - s00 * s12) * t2
            )
            / d
        ).alias("a1"),
        (
            (
                (s01 * s12 - s02 * s11) * t0
                + (s01 * s02 - s00 * s12) * t1
                + (s00 * s11 - s01 * s01) * t2
            )
            / d
        ).alias("a2"),
    )
    m1b = ols_beta.filter(F.col("arm") == 1).select(
        F.col("a0").alias("m1_a0"),
        F.col("a1").alias("m1_a1"),
        F.col("a2").alias("m1_a2"),
    )
    m0b = ols_beta.filter(F.col("arm") == 0).select(
        F.col("a0").alias("m0_a0"),
        F.col("a1").alias("m0_a1"),
        F.col("a2").alias("m0_a2"),
    )
    p_raw = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.col("b0") + F.col("b1") * f1 + F.col("b2") * f2))
    )
    p = F.least(F.greatest(p_raw, F.lit(0.01)), F.lit(0.99))
    scored = (
        feat.crossJoin(F.broadcast(beta))
        .crossJoin(F.broadcast(m1b))
        .crossJoin(F.broadcast(m0b))
        .select(
            "y",
            "o",
            p.alias("p"),
            (F.col("m1_a0") + F.col("m1_a1") * f1 + F.col("m1_a2") * f2).alias(
                "m1"
            ),
            (F.col("m0_a0") + F.col("m0_a1") * f1 + F.col("m0_a2") * f2).alias(
                "m0"
            ),
        )
    )
    y, oc, pc = F.col("y"), F.col("o"), F.col("p")
    m1, m0 = F.col("m1"), F.col("m0")
    return scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.avg(
                m1
                - m0
                + y * (oc - m1) / pc
                - (1 - y) * (oc - m0) / (1 - pc)
            ),
            4,
        ).alias("aipw_ate"),
        F.round(F.avg(m1 - m0), 4).alias("outcome_model_ate"),
        F.round(
            F.sum(y * oc / pc) / F.sum(y / pc)
            - F.sum((1 - y) * oc / (1 - pc)) / F.sum((1 - y) / (1 - pc)),
            4,
        ).alias("ipw_ate"),
        F.round(
            F.avg(F.when(y == 1, oc)) - F.avg(F.when(y == 0, oc)), 4
        ).alias("naive_diff"),
    )


@register(
    "msprt_always_valid_test",
    oracle="""
    WITH obs AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS arm,
               date_trunc('day', ts) AS day,
               round(sum(value), 6) AS x
        FROM events GROUP BY 1, user_id, 2
    ),
    cum AS (
        SELECT arm, day,
               CAST(count(*) AS DOUBLE) AS c,
               sum(x) AS s,
               sum(x * x) AS ss
        FROM obs GROUP BY 1, 2
    ),
    run AS (
        SELECT arm, day,
               sum(c) OVER w AS cn,
               sum(s) OVER w AS cs,
               sum(ss) OVER w AS css
        FROM cum
        WINDOW w AS (PARTITION BY arm ORDER BY day)
    ),
    paired AS (
        SELECT a.day,
               a.cn AS na, a.cs / a.cn AS ma,
               a.css - a.cs * a.cs / a.cn AS ssa,
               b.cn AS nb, b.cs / b.cn AS mb,
               b.css - b.cs * b.cs / b.cn AS ssb
        FROM run a JOIN run b ON b.day = a.day AND a.arm = 1 AND b.arm = 0
        WHERE a.cn >= 2 AND b.cn >= 2
    ),
    stat AS (
        SELECT day, na, nb, ma - mb AS delta,
               greatest((ssa + ssb) / (na + nb - 2), 1e-12)
                   * (1 / na + 1 / nb) AS vn
        FROM paired
    ),
    lam AS (
        SELECT day, CAST(na + nb AS BIGINT) AS n_obs, delta, vn,
               sqrt(vn / (vn + 1e4))
                   * exp(least(delta * delta * 1e4
                               / (2 * vn * (vn + 1e4)), 50.0)) AS lambda
        FROM stat
    )
    SELECT day, n_obs,
           round(delta, 4) AS mean_diff,
           round(ln(lambda), 4) AS log_lambda,
           round(least(1.0, 1.0 / max(lambda) OVER (ORDER BY day)), 4)
               AS always_valid_p
    FROM lam
    ORDER BY day
    """,
    doc="Always-valid sequential A/B test (mixture SPRT, Johari et "
    "al. 2017): per day, the cumulative per-arm user-day value means "
    "feed the normal-mixture likelihood ratio "
    "Lambda_n = sqrt(Vn/(Vn+tau2)) * exp(delta^2 tau2 / (2 Vn "
    "(Vn+tau2))) with plug-in pooled variance, tau2 = 1e4 matched to "
    "the outcome scale, and the always-valid p-value is the running "
    "1/max(Lambda) — the p you may legally peek at every day, unlike "
    "the fixed-horizon z-test (welch_ttest_purchase_vs_view) that "
    "inflates false positives under continuous monitoring.  The "
    "exp argument clamps at 50 identically on both engines.  Scale: "
    "user-day reduce map-side, per-arm running sums on the daily "
    "grid, one day-keyed self-join of two |days| tables — the "
    "statistic stream is grid-sized at any event volume.",
    tags=("causality", "stats", "window", "timeseries"),
)
def msprt_always_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    cum = obs.groupBy("arm", "day").agg(
        F.count("*").cast("double").alias("c"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    w = Window.partitionBy("arm").orderBy("day")
    run = cum.select(
        "arm",
        "day",
        F.sum("c").over(w).alias("cn"),
        F.sum("s").over(w).alias("cs"),
        F.sum("ss").over(w).alias("css"),
    )
    a, b = run.alias("a"), run.alias("b")
    paired = (
        a.join(
            b,
            (F.col("b.day") == F.col("a.day"))
            & (F.col("a.arm") == 1)
            & (F.col("b.arm") == 0),
        )
        .filter((F.col("a.cn") >= 2) & (F.col("b.cn") >= 2))
        .select(
            F.col("a.day").alias("day"),
            F.col("a.cn").alias("na"),
            (F.col("a.cs") / F.col("a.cn")).alias("ma"),
            (F.col("a.css") - F.col("a.cs") * F.col("a.cs") / F.col("a.cn")).alias(
                "ssa"
            ),
            F.col("b.cn").alias("nb"),
            (F.col("b.cs") / F.col("b.cn")).alias("mb"),
            (F.col("b.css") - F.col("b.cs") * F.col("b.cs") / F.col("b.cn")).alias(
                "ssb"
            ),
        )
    )
    na, nb = F.col("na"), F.col("nb")
    stat = paired.select(
        "day",
        na,
        nb,
        (F.col("ma") - F.col("mb")).alias("delta"),
        (
            F.greatest(
                (F.col("ssa") + F.col("ssb")) / (na + nb - 2), F.lit(1e-12)
            )
            * (1 / na + 1 / nb)
        ).alias("vn"),
    )
    tau2 = F.lit(1e4)
    vn, delta = F.col("vn"), F.col("delta")
    lam = stat.select(
        "day",
        (na + nb).cast("bigint").alias("n_obs"),
        delta,
        vn,
        (
            F.sqrt(vn / (vn + tau2))
            * F.exp(
                F.least(
                    delta * delta * tau2 / (2 * vn * (vn + tau2)), F.lit(50.0)
                )
            )
        ).alias("lambda"),
    )
    w_run = Window.orderBy("day")
    return lam.select(
        "day",
        "n_obs",
        F.round("delta", 4).alias("mean_diff"),
        F.round(F.log("lambda"), 4).alias("log_lambda"),
        F.round(
            F.least(F.lit(1.0), 1.0 / F.max("lambda").over(w_run)), 4
        ).alias("always_valid_p"),
    ).orderBy("day")


@register(
    "poisson_overdispersion_check",
    oracle="""
    WITH y AS (
        SELECT CAST(sum(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS y
        FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS mu,
               var_samp(y) AS v
        FROM y
    )
    SELECT n, round(mu, 4) AS mean_count,
           round(v, 4) AS var_count,
           round(v / nullif(mu, 0), 4) AS dispersion_index,
           round(sqrt(2 * (n - 1) * v / nullif(mu, 0))
                 - sqrt(2 * (n - 1) - 1), 4) AS z_wilson_hilferty,
           CAST(sqrt(2 * (n - 1) * v / nullif(mu, 0))
                - sqrt(2 * (n - 1) - 1) > 1.645 AS INTEGER)
               AS overdispersed
    FROM m
    """,
    doc="Overdispersion check for the Poisson model "
    "(poisson_irls_portable's assumption audit): the dispersion "
    "index D = var/mean of the same user-day click counts, with the "
    "classic chi-square dispersion statistic (n-1)D mapped to a "
    "normal z via the sqrt(2*chi2) - sqrt(2*df - 1) approximation.  "
    "D near 1 = Poisson plausible; D >> 1 (z > 1.645) means the "
    "GLM's standard errors are too small and a quasi-/negative-"
    "binomial family is indicated — the pre-flight every Poisson "
    "regression deserves.  Scale: user-day reduce, ONE moment row.",
    tags=("causality", "stats", "agg"),
)
def poisson_overdispersion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    y = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("y")
    )
    m = y.agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("y").alias("mu"),
        F.var_samp("y").alias("v"),
    )
    n, mu, v = F.col("n"), F.col("mu"), F.col("v")
    z = F.sqrt(2 * (n - 1) * v / F.nullif(mu, F.lit(0.0))) - F.sqrt(
        2 * (n - 1) - F.lit(1.0)
    )
    return m.select(
        "n",
        F.round(mu, 4).alias("mean_count"),
        F.round(v, 4).alias("var_count"),
        F.round(v / F.nullif(mu, F.lit(0.0)), 4).alias("dispersion_index"),
        F.round(z, 4).alias("z_wilson_hilferty"),
        (z > 1.645).cast("int").alias("overdispersed"),
    )
