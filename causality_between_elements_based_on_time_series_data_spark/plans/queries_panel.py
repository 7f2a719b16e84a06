"""Panel-data and counterfactual estimators (SURVEY.md §2.12 [EXT]
causal-inference surface, round-8 batch).

The round-7 families covered single-cross-section estimators (IPW /
AIPW / matching / stratification on one design matrix) and design
validity (SRM / Chow / log-rank / Newey-West).  This module adds the
PANEL and COUNTERFACTUAL-SERIES layer — the estimators that exploit
the time dimension itself, which is the reference's whole subject
(`run.py:39-73` trains on time-series tensors; `model.py:178-181`
learns a causality matrix B between series):

- ``two_way_fixed_effects_did`` — the workhorse panel regression:
  user and day fixed effects absorbed by double-demeaning on a dense
  balanced user x day grid.
- ``placebo_permutation_did`` — inference by design: the actual DiD
  against 16 deterministic placebo treatment assignments; the
  empirical p-value is the rank of the real estimate.
- ``cox_ph_one_step`` — proportional-hazards regression (one Newton
  step from beta=0, Breslow ties) for time-to-first-purchase; the
  score z here IS the log-rank z, tying the survival family together.
- ``synthetic_control_gap`` — regression-on-donors counterfactual
  (the CausalImpact/SC idea in closed form): fit the treated cohort's
  pre-period series on two donor-cohort series, report the post-period
  gap beside the pre-period fit quality.
- ``mediation_product_effect`` — Baron-Kenny product-of-coefficients
  decomposition (views -> clicks -> purchase value) from closed-form
  OLS moments.
- ``local_projection_irf`` — Jorda local-projection impulse response:
  the dynamic-effect curve beta_h of purchases on clicks at horizons
  h=0..5, one lead-window pass.
- ``var1_stability_check`` — bivariate VAR(1) companion-matrix fit
  with its spectral radius: the stationarity gate every multivariate
  lag-regression (conditional_granger_screen, ar2_yule_walker)
  silently assumes.
- ``evalue_sensitivity_bound`` — VanderWeele's E-value: how strong
  would an unmeasured confounder need to be to explain the observed
  click->purchase risk ratio away?
- ``page_hinkley_drift`` — sequential drift detection on the daily
  mean-value series (the online complement to cusum_changepoint).
- ``quantile_treatment_effect`` — distributional effects at the
  quartiles via rank-based (discrete) quantiles, robust to the mean
  chasing the tail.

Everything is moment-closed-form: facts reduce to a small grid (users,
days, or user-days), estimation is tiny-table algebra, so every query
carries a full DuckDB oracle and scales flat in event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lineage import ckpt

from ..sources.catalog import load_table, local_frame
from .registry import register

_DAYNUM_SQL = (
    "date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE))"
)


def _daynum(col: str = "ts"):
    return F.datediff(
        F.date_trunc("day", col).cast("date"), F.lit("2024-01-01")
    )


# ---------------------------------------------------------------------------
# two_way_fixed_effects_did
# ---------------------------------------------------------------------------

_TWFE_GRID_SQL = f"""
    WITH cells AS (
        SELECT user_id, {_DAYNUM_SQL} AS day,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN value END), 0), 6) AS o
        FROM events GROUP BY 1, 2
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    days AS (SELECT DISTINCT {_DAYNUM_SQL} AS day FROM events),
    grid AS (
        SELECT u.user_id, d.day,
               CAST(coalesce(c.y, 0) AS DOUBLE) AS y,
               coalesce(c.o, 0.0) AS o
        FROM users u CROSS JOIN days d
        LEFT JOIN cells c ON c.user_id = u.user_id AND c.day = d.day
    )
"""


@register(
    "two_way_fixed_effects_did",
    oracle=_TWFE_GRID_SQL
    + """,
    ubar AS (
        SELECT user_id, avg(y) AS yu, avg(o) AS ou FROM grid GROUP BY 1
    ),
    dbar AS (
        SELECT day, avg(y) AS yd, avg(o) AS od FROM grid GROUP BY 1
    ),
    gbar AS (SELECT avg(y) AS yg, avg(o) AS og FROM grid),
    within AS (
        SELECT g.y - u.yu - d.yd + b.yg AS yt,
               g.o - u.ou - d.od + b.og AS ot,
               g.y, g.o
        FROM grid g
        JOIN ubar u ON u.user_id = g.user_id
        JOIN dbar d ON d.day = g.day
        CROSS JOIN gbar b
    )
    SELECT CAST((SELECT count(*) FROM ubar) AS BIGINT) AS n_users,
           CAST((SELECT count(*) FROM dbar) AS BIGINT) AS n_days,
           round(sum(yt * ot) / nullif(sum(yt * yt), 0), 4) AS twfe_effect,
           round((sum(y * o) - sum(y) * sum(o) / count(*))
                 / nullif(sum(y * y) - sum(y) * sum(y) / count(*), 0),
                 4) AS pooled_effect
    FROM within
    """,
    doc="Two-way fixed-effects regression of daily purchase value on "
    "the daily click indicator: user and day effects are absorbed by "
    "double-demeaning (y - ybar_user - ybar_day + ybar), which is the "
    "EXACT within estimator because the grid is made balanced by "
    "construction (distinct users x distinct days, absent cells = "
    "0/0.0 — a user-day with no events is a true zero-activity "
    "observation, not missing data).  Reported beside the pooled OLS "
    "slope: the gap between them is what user heterogeneity plus "
    "calendar shocks were doing to the naive estimate.  Scale: one "
    "grain reduce over events, then a users x days grid (1.5k x 30 at "
    "sf0.1) built from two broadcast-sized dimensions; the three "
    "mean tables are grouped aggregates of the grid and join back "
    "broadcast — no shuffle wider than the grid itself, flat in "
    "event volume.",
    tags=("causality", "stats", "panel", "agg", "join"),
)
def two_way_fixed_effects_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy("user_id", _daynum().alias("day")).agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("y_raw"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("o_raw"),
    )
    users = ev.select("user_id").distinct()
    days = ev.select(_daynum().alias("day")).distinct()
    # the grid feeds four derivations (ubar/dbar/gbar + the within
    # projection): cut the lineage so the events reduce runs once
    grid = (
        users.crossJoin(F.broadcast(days))
        .join(cells, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce(F.col("y_raw"), F.lit(0)).cast("double").alias("y"),
            F.coalesce(F.col("o_raw"), F.lit(0.0)).alias("o"),
        )
        .transform(ckpt)
    )
    ubar = grid.groupBy("user_id").agg(
        F.avg("y").alias("yu"), F.avg("o").alias("ou")
    )
    dbar = grid.groupBy("day").agg(
        F.avg("y").alias("yd"), F.avg("o").alias("od")
    )
    gbar = grid.agg(F.avg("y").alias("yg"), F.avg("o").alias("og"))
    within = (
        grid.join(F.broadcast(ubar), "user_id")
        .join(F.broadcast(dbar), "day")
        .crossJoin(F.broadcast(gbar))
        .select(
            (F.col("y") - F.col("yu") - F.col("yd") + F.col("yg")).alias(
                "yt"
            ),
            (F.col("o") - F.col("ou") - F.col("od") + F.col("og")).alias(
                "ot"
            ),
            "y",
            "o",
            "user_id",
            "day",
        )
    )
    # dimension counts fold into the same aggregate (the grid is
    # balanced users x days) — no extra eager fact-table scans
    y, o, yt, ot = F.col("y"), F.col("o"), F.col("yt"), F.col("ot")
    cnt = F.count(F.lit(1))
    return within.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.countDistinct("day").cast("bigint").alias("n_days"),
        F.round(
            F.sum(yt * ot) / F.nullif(F.sum(yt * yt), F.lit(0.0)), 4
        ).alias("twfe_effect"),
        F.round(
            (F.sum(y * o) - F.sum(y) * F.sum(o) / cnt)
            / F.nullif(
                F.sum(y * y) - F.sum(y) * F.sum(y) / cnt, F.lit(0.0)
            ),
            4,
        ).alias("pooled_effect"),
    )


# ---------------------------------------------------------------------------
# placebo_permutation_did
# ---------------------------------------------------------------------------


@register(
    "placebo_permutation_did",
    oracle=f"""
    WITH per_user_period AS (
        SELECT user_id,
               CAST({_DAYNUM_SQL} >= 15 AS INTEGER) AS post,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN value END), 0), 6) AS o
        FROM events GROUP BY 1, 2
    ),
    ks AS (SELECT unnest(generate_series(0, 16)) AS k),
    assigned AS (
        SELECT k.k, p.post, p.o,
               CASE WHEN k.k = 0 THEN CAST(p.user_id % 2 AS INTEGER)
                    ELSE CAST(((p.user_id * (2 * k.k + 1)) % 101) % 2
                              AS INTEGER)
               END AS arm
        FROM per_user_period p CROSS JOIN ks k
    ),
    cell AS (
        SELECT k, arm, post, avg(o) AS m
        FROM assigned GROUP BY 1, 2, 3
    ),
    did AS (
        SELECT k,
               round(sum(CASE WHEN arm = 1 AND post = 1 THEN m END)
                     - sum(CASE WHEN arm = 1 AND post = 0 THEN m END)
                     - sum(CASE WHEN arm = 0 AND post = 1 THEN m END)
                     + sum(CASE WHEN arm = 0 AND post = 0 THEN m END),
                     6) AS d
        FROM cell GROUP BY 1
    ),
    act AS (SELECT d AS actual FROM did WHERE k = 0)
    SELECT round(max(a.actual), 4) AS actual_did,
           CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_placebos,
           round(avg(CASE WHEN k > 0 THEN d END), 4) AS placebo_mean,
           round(max(CASE WHEN k > 0 THEN abs(d) END), 4)
               AS placebo_max_abs,
           round((1.0 + sum(CASE WHEN k > 0 AND abs(d) >= abs(a.actual)
                                 THEN 1 ELSE 0 END))
                 / (1.0 + sum(CASE WHEN k > 0 THEN 1 ELSE 0 END)),
                 4) AS empirical_p
    FROM did CROSS JOIN act a
    """,
    doc="Placebo-permutation inference for the difference-in-"
    "differences design: the actual DiD (arm = user_id parity, post = "
    "day >= 15) is ranked against 16 DETERMINISTIC placebo "
    "assignments (arm_k = ((user_id*(2k+1)) mod 101) mod 2 — "
    "engine-portable arithmetic, no engine RNG), and the empirical "
    "p-value is (1 + #{|placebo| >= |actual|}) / (K+1), the "
    "standard permutation-test form.  On null fixture data the "
    "actual estimate should sit well inside the placebo "
    "distribution.  Scale: events reduce to the user x period grain "
    "FIRST (2 rows per user), THEN the 17-way assignment fan-out "
    "happens on that tiny table — the explode never touches raw "
    "event volume, and each placebo is two grouped means.",
    tags=("causality", "stats", "experiments", "agg", "bench"),
)
def placebo_permutation_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pup = ev.groupBy(
        "user_id", (_daynum() >= 15).cast("int").alias("post")
    ).agg(
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("o")
    )
    assigned = pup.select(
        "post",
        "o",
        F.explode(F.sequence(F.lit(0), F.lit(16))).alias("k"),
        "user_id",
    ).select(
        "k",
        "post",
        "o",
        F.when(F.col("k") == 0, (F.col("user_id") % 2).cast("int"))
        .otherwise(
            ((F.col("user_id") * (2 * F.col("k") + 1)) % 101 % 2).cast(
                "int"
            )
        )
        .alias("arm"),
    )
    cell = assigned.groupBy("k", "arm", "post").agg(F.avg("o").alias("m"))
    m = F.col("m")
    did = cell.groupBy("k").agg(
        F.round(
            F.sum(F.when((F.col("arm") == 1) & (F.col("post") == 1), m))
            - F.sum(F.when((F.col("arm") == 1) & (F.col("post") == 0), m))
            - F.sum(F.when((F.col("arm") == 0) & (F.col("post") == 1), m))
            + F.sum(F.when((F.col("arm") == 0) & (F.col("post") == 0), m)),
            6,
        ).alias("d")
    )
    d, k = F.col("d"), F.col("k")
    actual = F.max(F.when(k == 0, d))
    wall = Window.partitionBy()
    scored = did.select(
        "k", "d", actual.over(wall).alias("actual")
    )
    return scored.agg(
        F.round(F.max(F.when(k == 0, d)), 4).alias("actual_did"),
        F.sum(F.when(k > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_placebos"),
        F.round(F.avg(F.when(k > 0, d)), 4).alias("placebo_mean"),
        F.round(F.max(F.when(k > 0, F.abs(d))), 4).alias(
            "placebo_max_abs"
        ),
        F.round(
            (
                F.lit(1.0)
                + F.sum(
                    F.when(
                        (k > 0) & (F.abs(d) >= F.abs(F.col("actual"))), 1
                    ).otherwise(0)
                )
            )
            / (F.lit(1.0) + F.sum(F.when(k > 0, 1).otherwise(0))),
            4,
        ).alias("empirical_p"),
    )


# ---------------------------------------------------------------------------
# cox_ph_one_step
# ---------------------------------------------------------------------------


@register(
    "cox_ph_one_step",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS DOUBLE) AS x,
               min(CASE WHEN event_type = 'purchase'
                        THEN {_DAYNUM_SQL} END) AS tp
        FROM events GROUP BY 1
    ),
    horizon AS (SELECT max({_DAYNUM_SQL}) AS c FROM events),
    subj AS (
        SELECT coalesce(p.tp, h.c) AS t,
               CAST(p.tp IS NOT NULL AS INTEGER) AS ev,
               p.x
        FROM per_user p CROSS JOIN horizon h
    ),
    at_t AS (
        SELECT t, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
               CAST(sum(ev) AS DOUBLE) AS d, sum(x * ev) AS dx
        FROM subj GROUP BY 1
    ),
    risk AS (
        SELECT t, d, dx,
               sum(n) OVER (ORDER BY t DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS s0,
               sum(sx) OVER (ORDER BY t DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS s1
        FROM at_t
    ),
    score AS (
        SELECT sum(dx - d * s1 / s0) AS u,
               sum(d * (s1 / s0) * (1 - s1 / s0)) AS i,
               CAST(sum(d) AS BIGINT) AS n_events
        FROM risk WHERE d > 0
    )
    SELECT CAST((SELECT count(*) FROM subj) AS BIGINT) AS n_subjects,
           n_events,
           round(u / i, 4) AS beta,
           round(exp(u / i), 4) AS hazard_ratio,
           round(1 / sqrt(i), 4) AS se,
           round(u / sqrt(i), 4) AS score_z
    FROM score
    """,
    doc="Cox proportional-hazards regression for time-to-first-"
    "purchase on the experiment arm (user_id parity), as ONE Newton "
    "step from beta=0 with Breslow tie handling: beta = U/I where "
    "U = sum over event times of (observed arm events - risk-set "
    "expectation) and I is the risk-set binomial variance — for a "
    "binary covariate the score statistic U/sqrt(I) IS the log-rank "
    "z, so this extends kaplan_meier_survival/logrank_test_cohorts "
    "to a regression coefficient with a hazard ratio and SE.  "
    "Censoring: users who never purchase are censored at the last "
    "observed day.  Risk-set sums S0/S1 come from ONE descending "
    "cumulative window over the distinct-time grid (at-or-after = "
    "cumulative-from-the-top), never a per-subject rescan.  Scale: "
    "events reduce to one row per user, the risk grid is bounded by "
    "distinct days (~31 rows), and the window runs on that grid — "
    "flat in event volume.",
    tags=("causality", "stats", "survival", "window", "agg"),
)
def cox_ph_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", _daynum())
        ).alias("tp")
    )
    horizon = ev.agg(F.max(_daynum()).alias("c"))
    subj = per_user.crossJoin(F.broadcast(horizon)).select(
        F.coalesce(F.col("tp"), F.col("c")).alias("t"),
        F.col("tp").isNotNull().cast("int").alias("ev"),
        (F.col("user_id") % 2).cast("double").alias("x"),
    )
    at_t = subj.groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("ev").cast("double").alias("d"),
        F.sum(F.col("x") * F.col("ev")).alias("dx"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = at_t.select(
        "t",
        "d",
        "dx",
        F.sum("n").over(wdesc).alias("s0"),
        F.sum("sx").over(wdesc).alias("s1"),
    )
    # n_subjects folds into the SAME aggregate: the descending
    # cumulative s0 at the minimum time is the whole cohort, so
    # max(s0) = |subjects| — no second eager action, no extra scan.
    ratio = F.col("s1") / F.col("s0")
    ev_row = F.col("d") > 0
    score = risk.agg(
        F.sum(F.when(ev_row, F.col("dx") - F.col("d") * ratio)).alias("u"),
        F.sum(
            F.when(ev_row, F.col("d") * ratio * (1 - ratio))
        ).alias("i"),
        F.sum(F.when(ev_row, F.col("d"))).cast("bigint").alias("n_events"),
        F.max("s0").cast("bigint").alias("n_subjects"),
    )
    u, i = F.col("u"), F.col("i")
    return score.select(
        "n_subjects",
        "n_events",
        F.round(u / i, 4).alias("beta"),
        F.round(F.exp(u / i), 4).alias("hazard_ratio"),
        F.round(F.lit(1.0) / F.sqrt(i), 4).alias("se"),
        F.round(u / F.sqrt(i), 4).alias("score_z"),
    )


# ---------------------------------------------------------------------------
# synthetic_control_gap
# ---------------------------------------------------------------------------

_SC_SERIES_SQL = f"""
    WITH daily AS (
        SELECT {_DAYNUM_SQL} AS day,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                        AND user_id % 3 = 0
                                       THEN value END), 0), 6) AS yt,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                        AND user_id % 3 = 1
                                       THEN value END), 0), 6) AS x1,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                        AND user_id % 3 = 2
                                       THEN value END), 0), 6) AS x2
        FROM events GROUP BY 1
    )
"""


@register(
    "synthetic_control_gap",
    oracle=_SC_SERIES_SQL
    + """,
    mom AS (
        SELECT CAST(count(*) AS DOUBLE) AS s00,
               sum(x1) AS s01, sum(x2) AS s02,
               sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
               sum(x2 * x2) AS s22,
               sum(yt) AS t0, sum(x1 * yt) AS t1, sum(x2 * yt) AS t2
        FROM daily WHERE day < 20
    ),
    beta AS (
        SELECT round(((s11*s22 - s12*s12)*t0 + (s02*s12 - s01*s22)*t1
                      + (s01*s12 - s02*s11)*t2)
                     / (s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)
                        + s02*(s01*s12 - s11*s02)), 8) AS b0,
               round(((s02*s12 - s01*s22)*t0 + (s00*s22 - s02*s02)*t1
                      + (s01*s02 - s00*s12)*t2)
                     / (s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)
                        + s02*(s01*s12 - s11*s02)), 8) AS b1,
               round(((s01*s12 - s02*s11)*t0 + (s01*s02 - s00*s12)*t1
                      + (s00*s11 - s01*s01)*t2)
                     / (s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)
                        + s02*(s01*s12 - s11*s02)), 8) AS b2
        FROM mom
    ),
    gaps AS (
        SELECT d.day < 20 AS pre,
               d.yt - (b.b0 + b.b1 * d.x1 + b.b2 * d.x2) AS gap
        FROM daily d CROSS JOIN beta b
    )
    SELECT CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
           CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n_post,
           round(max(b.b1), 4) AS w_donor1,
           round(max(b.b2), 4) AS w_donor2,
           round(sqrt(avg(CASE WHEN pre THEN gap * gap END)), 4)
               AS pre_rmse,
           round(avg(CASE WHEN NOT pre THEN gap END), 4) AS post_att_gap
    FROM gaps CROSS JOIN beta b
    """,
    doc="Synthetic-control-style counterfactual (the regression form "
    "popularized by CausalImpact): the 'treated' cohort's daily "
    "purchase series (users with id%3=0) is fit on two donor-cohort "
    "series over the pre-period (day < 20) by closed-form 3-variable "
    "OLS (one Cramer 3x3 solve on a single moment row — the same "
    "linear-algebra device as the IRLS GLM primitive), and the "
    "post-period mean gap between the actual and the predicted "
    "counterfactual is the effect estimate.  The fixture has no "
    "intervention at day 20, so the gap is a null-calibration check "
    "reported beside the pre-period RMSE (the fit-quality gate a "
    "real SC analysis thresholds on).  Scale: events reduce to a "
    "~30-row daily grid; everything downstream is 1-row algebra.",
    tags=("causality", "stats", "timeseries", "agg"),
)
def synthetic_control_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def cohort(r: int):
        return F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("event_type") == "purchase")
                        & (F.col("user_id") % 3 == r),
                        F.col("value"),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        )

    daily = ev.groupBy(_daynum().alias("day")).agg(
        cohort(0).alias("yt"), cohort(1).alias("x1"), cohort(2).alias("x2")
    )
    x1, x2, yt = F.col("x1"), F.col("x2"), F.col("yt")
    mom = daily.where(F.col("day") < 20).agg(
        F.count(F.lit(1)).cast("double").alias("s00"),
        F.sum(x1).alias("s01"),
        F.sum(x2).alias("s02"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(yt).alias("t0"),
        F.sum(x1 * yt).alias("t1"),
        F.sum(x2 * yt).alias("t2"),
    )
    s00, s01, s02 = F.col("s00"), F.col("s01"), F.col("s02")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
    det = (
        s00 * (s11 * s22 - s12 * s12)
        - s01 * (s01 * s22 - s12 * s02)
        + s02 * (s01 * s12 - s11 * s02)
    )
    beta = mom.select(
        F.round(
            (
                (s11 * s22 - s12 * s12) * t0
                + (s02 * s12 - s01 * s22) * t1
                + (s01 * s12 - s02 * s11) * t2
            )
            / det,
            8,
        ).alias("b0"),
        F.round(
            (
                (s02 * s12 - s01 * s22) * t0
                + (s00 * s22 - s02 * s02) * t1
                + (s01 * s02 - s00 * s12) * t2
            )
            / det,
            8,
        ).alias("b1"),
        F.round(
            (
                (s01 * s12 - s02 * s11) * t0
                + (s01 * s02 - s00 * s12) * t1
                + (s00 * s11 - s01 * s01) * t2
            )
            / det,
            8,
        ).alias("b2"),
    )
    gaps = daily.crossJoin(F.broadcast(beta)).select(
        (F.col("day") < 20).alias("pre"),
        (
            yt - (F.col("b0") + F.col("b1") * x1 + F.col("b2") * x2)
        ).alias("gap"),
        "b1",
        "b2",
    )
    pre, gap = F.col("pre"), F.col("gap")
    return gaps.agg(
        F.sum(F.when(pre, 1).otherwise(0)).cast("bigint").alias("n_pre"),
        F.sum(F.when(pre, 0).otherwise(1)).cast("bigint").alias("n_post"),
        F.round(F.max("b1"), 4).alias("w_donor1"),
        F.round(F.max("b2"), 4).alias("w_donor2"),
        F.round(
            F.sqrt(F.avg(F.when(pre, gap * gap))), 4
        ).alias("pre_rmse"),
        F.round(F.avg(F.when(~pre, gap)), 4).alias("post_att_gap"),
    )


# ---------------------------------------------------------------------------
# mediation_product_effect
# ---------------------------------------------------------------------------


@register(
    "mediation_product_effect",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS x,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS m,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN value END), 0), 6) AS o
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(x * m) - sum(x) * sum(m) / count(*) AS sxm,
               sum(x * x) - sum(x) * sum(x) / count(*) AS sxx,
               sum(m * m) - sum(m) * sum(m) / count(*) AS smm,
               sum(m * o) - sum(m) * sum(o) / count(*) AS smo,
               sum(x * o) - sum(x) * sum(o) / count(*) AS sxo
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(sxm / sxx, 4) AS a_path,
           round((smo * sxx - sxo * sxm) / (smm * sxx - sxm * sxm), 4)
               AS b_path,
           round((sxo * smm - smo * sxm) / (smm * sxx - sxm * sxm), 4)
               AS direct_effect,
           round((sxm / sxx)
                 * ((smo * sxx - sxo * sxm) / (smm * sxx - sxm * sxm)),
                 4) AS indirect_effect,
           round(sxo / sxx, 4) AS total_effect,
           round((sxm / sxx)
                 * ((smo * sxx - sxo * sxm) / (smm * sxx - sxm * sxm))
                 / nullif(sxo / sxx, 0), 4) AS prop_mediated
    FROM mom
    """,
    doc="Baron-Kenny mediation decomposition on the user funnel "
    "(views -> clicks -> purchase value): the a-path (clicks on "
    "views), the b-path and direct effect from the two-regressor "
    "OLS of purchase value on clicks AND views (closed-form from "
    "centered moments), the product-of-coefficients indirect effect "
    "a*b, and the proportion mediated against the total (reduced-"
    "form) slope.  For linear models total = direct + indirect "
    "exactly — tests pin that identity.  Scale: one user-grain "
    "reduce, then 1-row moment algebra.",
    tags=("causality", "stats", "agg"),
)
def mediation_product_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("m"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("o"),
    )
    x, m, o = F.col("x"), F.col("m"), F.col("o")
    n = F.count(F.lit(1)).cast("double")
    mom = per_user.agg(
        n.alias("n"),
        (F.sum(x * m) - F.sum(x) * F.sum(m) / n).alias("sxm"),
        (F.sum(x * x) - F.sum(x) * F.sum(x) / n).alias("sxx"),
        (F.sum(m * m) - F.sum(m) * F.sum(m) / n).alias("smm"),
        (F.sum(m * o) - F.sum(m) * F.sum(o) / n).alias("smo"),
        (F.sum(x * o) - F.sum(x) * F.sum(o) / n).alias("sxo"),
    )
    sxm, sxx, smm = F.col("sxm"), F.col("sxx"), F.col("smm")
    smo, sxo = F.col("smo"), F.col("sxo")
    det = smm * sxx - sxm * sxm
    a = sxm / sxx
    b = (smo * sxx - sxo * sxm) / det
    direct = (sxo * smm - smo * sxm) / det
    total = sxo / sxx
    return mom.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(a, 4).alias("a_path"),
        F.round(b, 4).alias("b_path"),
        F.round(direct, 4).alias("direct_effect"),
        F.round(a * b, 4).alias("indirect_effect"),
        F.round(total, 4).alias("total_effect"),
        F.round(a * b / F.nullif(total, F.lit(0.0)), 4).alias(
            "prop_mediated"
        ),
    )


# ---------------------------------------------------------------------------
# local_projection_irf
# ---------------------------------------------------------------------------

_LP_HORIZONS = 6

_LP_DAILY_SQL = f"""
    WITH daily AS (
        SELECT {_DAYNUM_SQL} AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS x,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN value END), 0), 6) AS y
        FROM events GROUP BY 1
    ),
    leads AS (
        SELECT x,
               {", ".join(f"lead(y, {h}) OVER (ORDER BY day) AS y{h}"
                          for h in range(_LP_HORIZONS))}
        FROM daily
    ),
    long AS (
        {" UNION ALL ".join(
            f"SELECT {h} AS h, x, y{h} AS yl FROM leads"
            f" WHERE y{h} IS NOT NULL"
            for h in range(_LP_HORIZONS))}
    )
"""


@register(
    "local_projection_irf",
    oracle=_LP_DAILY_SQL
    + """
    SELECT h AS horizon,
           CAST(count(*) AS BIGINT) AS n_obs,
           round((sum(x * yl) - sum(x) * sum(yl) / count(*))
                 / nullif(sum(x * x) - sum(x) * sum(x) / count(*), 0),
                 4) AS beta
    FROM long GROUP BY 1 ORDER BY 1
    """,
    doc="Jorda local-projection impulse-response function: for each "
    "horizon h=0..5, the OLS slope of purchase value at day t+h on "
    "click count at day t — the dynamic-effect curve that a single "
    "distributed-lag regression constrains but local projections "
    "estimate horizon-by-horizon.  All six leads come from ONE "
    "window pass over the ~30-row daily grid, stacked long and "
    "grouped by horizon (six moment sets in one aggregate).  The "
    "h=0 slope ties back to granger_lag_regression's "
    "contemporaneous term.  Scale: events reduce to the daily grid "
    "in one pass; everything downstream is bounded by days x "
    "horizons.",
    tags=("causality", "stats", "timeseries", "window"),
)
def local_projection_irf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(_daynum().alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("y"),
    )
    w = Window.orderBy("day")
    leads = daily.select(
        "x",
        *[F.lead("y", h).over(w).alias(f"y{h}") for h in range(_LP_HORIZONS)],
    )
    long = leads.select(
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).alias("h"), F.col(f"y{h}").alias("yl")
                    )
                    for h in range(_LP_HORIZONS)
                ]
            )
        ).alias("s"),
    ).select("x", F.col("s.h").alias("h"), F.col("s.yl").alias("yl"))
    long = long.where(F.col("yl").isNotNull())
    x, yl = F.col("x"), F.col("yl")
    cnt = F.count(F.lit(1))
    return (
        long.groupBy(F.col("h").alias("horizon"))
        .agg(
            cnt.cast("bigint").alias("n_obs"),
            F.round(
                (F.sum(x * yl) - F.sum(x) * F.sum(yl) / cnt)
                / F.nullif(
                    F.sum(x * x) - F.sum(x) * F.sum(x) / cnt, F.lit(0.0)
                ),
                4,
            ).alias("beta"),
        )
        .orderBy("horizon")
    )


# ---------------------------------------------------------------------------
# var1_stability_check
# ---------------------------------------------------------------------------


@register(
    "var1_stability_check",
    oracle=f"""
    WITH daily AS (
        SELECT {_DAYNUM_SQL} AS day,
               round(coalesce(sum(CASE WHEN event_type = 'view'
                                       THEN value END), 0), 6) AS u,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN value END), 0), 6) AS v
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT u, v,
               lag(u) OVER (ORDER BY day) AS ul,
               lag(v) OVER (ORDER BY day) AS vl
        FROM daily
    ),
    mom AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(ul * ul) - sum(ul) * sum(ul) / count(*) AS suu,
               sum(vl * vl) - sum(vl) * sum(vl) / count(*) AS svv,
               sum(ul * vl) - sum(ul) * sum(vl) / count(*) AS suv,
               sum(ul * u) - sum(ul) * sum(u) / count(*) AS cu_u,
               sum(vl * u) - sum(vl) * sum(u) / count(*) AS cv_u,
               sum(ul * v) - sum(ul) * sum(v) / count(*) AS cu_v,
               sum(vl * v) - sum(vl) * sum(v) / count(*) AS cv_v
        FROM lagged WHERE ul IS NOT NULL
    ),
    coefs AS (
        SELECT n,
               (cu_u * svv - cv_u * suv) / (suu * svv - suv * suv) AS a11,
               (cv_u * suu - cu_u * suv) / (suu * svv - suv * suv) AS a12,
               (cu_v * svv - cv_v * suv) / (suu * svv - suv * suv) AS a21,
               (cv_v * suu - cu_v * suv) / (suu * svv - suv * suv) AS a22
        FROM mom
    ),
    spec AS (
        SELECT n, a11, a12, a21, a22,
               a11 + a22 AS tr,
               a11 * a22 - a12 * a21 AS dt,
               (a11 + a22) * (a11 + a22)
                   - 4 * (a11 * a22 - a12 * a21) AS disc
        FROM coefs
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(a11, 4) AS a_uu, round(a12, 4) AS a_uv,
           round(a21, 4) AS a_vu, round(a22, 4) AS a_vv,
           round(CASE WHEN disc >= 0
                      THEN greatest(abs((tr + sqrt(disc)) / 2),
                                    abs((tr - sqrt(disc)) / 2))
                      ELSE sqrt(dt) END, 4) AS spectral_radius,
           CAST((CASE WHEN disc >= 0
                      THEN greatest(abs((tr + sqrt(disc)) / 2),
                                    abs((tr - sqrt(disc)) / 2))
                      ELSE sqrt(dt) END) < 1 AS INTEGER) AS stable
    FROM spec
    """,
    doc="Bivariate VAR(1) stability check on the daily view-value / "
    "purchase-value pair: both equations are fit by closed-form "
    "2-regressor OLS (with intercept) on the lagged pair, and the "
    "companion matrix's spectral radius comes from the 2x2 "
    "eigenvalue closed form — real roots (tr +- sqrt(disc))/2 when "
    "the discriminant is nonnegative, modulus sqrt(det) for the "
    "complex pair otherwise.  radius < 1 is the stationarity gate "
    "that every lag-regression screen (granger_*, ar2_yule_walker, "
    "conditional_granger_screen) silently assumes; an explosive "
    "pair invalidates their F/t inference.  Scale: events reduce to "
    "the ~30-row daily grid; one lag window and 1-row algebra.",
    tags=("causality", "stats", "timeseries", "window", "agg"),
)
def var1_stability_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def series(et: str):
        return F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == et, F.col("value"))),
                F.lit(0.0),
            ),
            6,
        )

    daily = ev.groupBy(_daynum().alias("day")).agg(
        series("view").alias("u"), series("purchase").alias("v")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "u",
        "v",
        F.lag("u").over(w).alias("ul"),
        F.lag("v").over(w).alias("vl"),
    ).where(F.col("ul").isNotNull())
    u, v, ul, vl = F.col("u"), F.col("v"), F.col("ul"), F.col("vl")
    n = F.count(F.lit(1)).cast("double")
    mom = lagged.agg(
        n.alias("n"),
        (F.sum(ul * ul) - F.sum(ul) * F.sum(ul) / n).alias("suu"),
        (F.sum(vl * vl) - F.sum(vl) * F.sum(vl) / n).alias("svv"),
        (F.sum(ul * vl) - F.sum(ul) * F.sum(vl) / n).alias("suv"),
        (F.sum(ul * u) - F.sum(ul) * F.sum(u) / n).alias("cu_u"),
        (F.sum(vl * u) - F.sum(vl) * F.sum(u) / n).alias("cv_u"),
        (F.sum(ul * v) - F.sum(ul) * F.sum(v) / n).alias("cu_v"),
        (F.sum(vl * v) - F.sum(vl) * F.sum(v) / n).alias("cv_v"),
    )
    suu, svv, suv = F.col("suu"), F.col("svv"), F.col("suv")
    det = suu * svv - suv * suv
    coefs = mom.select(
        "n",
        ((F.col("cu_u") * svv - F.col("cv_u") * suv) / det).alias("a11"),
        ((F.col("cv_u") * suu - F.col("cu_u") * suv) / det).alias("a12"),
        ((F.col("cu_v") * svv - F.col("cv_v") * suv) / det).alias("a21"),
        ((F.col("cv_v") * suu - F.col("cu_v") * suv) / det).alias("a22"),
    )
    a11, a12 = F.col("a11"), F.col("a12")
    a21, a22 = F.col("a21"), F.col("a22")
    tr = a11 + a22
    dt = a11 * a22 - a12 * a21
    disc = tr * tr - 4 * dt
    radius = F.when(
        disc >= 0,
        F.greatest(
            F.abs((tr + F.sqrt(disc)) / 2), F.abs((tr - F.sqrt(disc)) / 2)
        ),
    ).otherwise(F.sqrt(dt))
    return coefs.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(a11, 4).alias("a_uu"),
        F.round(a12, 4).alias("a_uv"),
        F.round(a21, 4).alias("a_vu"),
        F.round(a22, 4).alias("a_vv"),
        F.round(radius, 4).alias("spectral_radius"),
        (radius < 1).cast("int").alias("stable"),
    )


# ---------------------------------------------------------------------------
# evalue_sensitivity_bound
# ---------------------------------------------------------------------------


@register(
    "evalue_sensitivity_bound",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    >= 13 AS DOUBLE) AS t,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    >= 14 AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    cells AS (
        SELECT sum(t) AS n1, count(*) - sum(t) AS n0,
               sum(t * y) / nullif(sum(t), 0) AS p1,
               sum((1 - t) * y) / nullif(count(*) - sum(t), 0) AS p0
        FROM per_user
    ),
    rrci AS (
        SELECT n1, n0, p1 / p0 AS rr,
               exp(ln(p1 / p0) - 1.96 * sqrt((1 - p1) / (n1 * p1)
                                             + (1 - p0) / (n0 * p0))) AS lo,
               exp(ln(p1 / p0) + 1.96 * sqrt((1 - p1) / (n1 * p1)
                                             + (1 - p0) / (n0 * p0))) AS hi
        FROM cells
    ),
    ev AS (
        SELECT n1, n0, rr, lo, hi,
               greatest(rr, 1 / rr) AS rrs,
               CASE WHEN rr >= 1 THEN lo ELSE 1 / hi END AS b
        FROM rrci
    )
    SELECT CAST(n1 AS BIGINT) AS n_treated,
           CAST(n0 AS BIGINT) AS n_control,
           round(rr, 4) AS risk_ratio,
           round(lo, 4) AS rr_ci_low,
           round(hi, 4) AS rr_ci_high,
           round(rrs + sqrt(rrs * (rrs - 1)), 4) AS e_value,
           round(CASE WHEN b <= 1 THEN 1.0
                      ELSE b + sqrt(b * (b - 1)) END, 4) AS e_value_ci
    FROM ev
    """,
    doc="VanderWeele-Ding E-value for the heavy-viewer -> heavy-"
    "purchaser risk ratio at the user grain (treatment: >= 13 views, "
    "outcome: >= 14 purchases — median splits of the fixture's scale-"
    "invariant per-user intensities, so every 2x2 cell is nonempty at "
    "every sf; a binary any-click/any-purchase contrast saturates, "
    "every user has both): the minimum strength of association (on the "
    "risk-ratio scale) an unmeasured confounder would need with BOTH "
    "treatment and outcome to fully explain the observed RR away — "
    "E = RR* + sqrt(RR*(RR*-1)) on RR* = max(RR, 1/RR).  Also "
    "reported for the 95% CI limit nearer the null (log-RR delta-"
    "method SE): E=1 there means the CI already touches the null "
    "and NO confounding is needed.  This is exactly the contrast an "
    "OBSERVATIONAL claim rides on (heavy viewers buy more), which is "
    "what an E-value is for.  The sensitivity-analysis "
    "companion to click_purchase_odds_ratio and "
    "conversion_rate_inference.  Scale: one user-grain reduce, then "
    "1-row arithmetic.",
    tags=("causality", "stats", "agg"),
)
def evalue_sensitivity_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            >= 13
        )
        .cast("double")
        .alias("t"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14
        )
        .cast("double")
        .alias("y"),
    )
    t, y = F.col("t"), F.col("y")
    cells = per_user.agg(
        F.sum(t).alias("n1"),
        (F.count(F.lit(1)) - F.sum(t)).alias("n0"),
        (F.sum(t * y) / F.nullif(F.sum(t), F.lit(0.0))).alias("p1"),
        (
            F.sum((1 - t) * y)
            / F.nullif(F.count(F.lit(1)) - F.sum(t), F.lit(0.0))
        ).alias("p0"),
    )
    n1, n0, p1, p0 = F.col("n1"), F.col("n0"), F.col("p1"), F.col("p0")
    se = F.sqrt((1 - p1) / (n1 * p1) + (1 - p0) / (n0 * p0))
    rrci = cells.select(
        "n1",
        "n0",
        (p1 / p0).alias("rr"),
        F.exp(F.log(p1 / p0) - 1.96 * se).alias("lo"),
        F.exp(F.log(p1 / p0) + 1.96 * se).alias("hi"),
    )
    rr, lo, hi = F.col("rr"), F.col("lo"), F.col("hi")
    evd = rrci.select(
        "n1",
        "n0",
        "rr",
        "lo",
        "hi",
        F.greatest(rr, 1 / rr).alias("rrs"),
        F.when(rr >= 1, lo).otherwise(1 / hi).alias("b"),
    )
    rrs, b = F.col("rrs"), F.col("b")
    return evd.select(
        F.col("n1").cast("bigint").alias("n_treated"),
        F.col("n0").cast("bigint").alias("n_control"),
        F.round(rr, 4).alias("risk_ratio"),
        F.round(lo, 4).alias("rr_ci_low"),
        F.round(hi, 4).alias("rr_ci_high"),
        F.round(rrs + F.sqrt(rrs * (rrs - 1)), 4).alias("e_value"),
        F.round(
            F.when(b <= 1, F.lit(1.0)).otherwise(
                b + F.sqrt(b * (b - 1))
            ),
            4,
        ).alias("e_value_ci"),
    )


# ---------------------------------------------------------------------------
# page_hinkley_drift
# ---------------------------------------------------------------------------


PAGE_HINKLEY_ORACLE = f"""
    WITH daily AS (
        SELECT {_DAYNUM_SQL} AS day, round(avg(value), 6) AS x
        FROM events GROUP BY 1
    ),
    thr AS (SELECT round(2 * stddev_samp(x), 6) AS lam FROM daily),
    c1 AS (
        SELECT day, x,
               row_number() OVER (ORDER BY day) AS rn,
               sum(x) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cx
        FROM daily
    ),
    c2 AS (SELECT day, x - cx / rn AS dev FROM c1),
    c3 AS (
        SELECT day,
               sum(dev) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS ph
        FROM c2
    ),
    c4 AS (
        SELECT day,
               ph - min(ph) OVER (ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS excess
        FROM c3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(max(t.lam), 4) AS lambda_threshold,
           round(max(excess), 4) AS max_excess,
           CAST(coalesce(min(CASE WHEN excess > t.lam THEN day END), -1)
                AS BIGINT) AS first_alarm_day,
           CAST(max(CASE WHEN excess > t.lam THEN 1 ELSE 0 END)
                AS INTEGER) AS alarm
    FROM c4 CROSS JOIN thr t
    """


def _page_hinkley_chain(daily: DataFrame) -> DataFrame:
    """The PH window chain over a (day, x) daily table — shared by
    the batch query and the streaming monitor (streaming/events_
    stream.py), whose final state must reduce to the identical
    detector output."""
    thr = daily.agg(F.round(2 * F.stddev_samp("x"), 6).alias("lam"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wo = Window.orderBy("day")
    c1 = daily.select(
        "day",
        "x",
        F.row_number().over(wo).alias("rn"),
        F.sum("x").over(w).alias("cx"),
    )
    c2 = c1.select(
        "day", (F.col("x") - F.col("cx") / F.col("rn")).alias("dev")
    )
    c3 = c2.select("day", F.sum("dev").over(w).alias("ph"))
    c4 = c3.select(
        "day", (F.col("ph") - F.min("ph").over(w)).alias("excess")
    )
    excess = F.col("excess")
    return c4.crossJoin(F.broadcast(thr)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("lam"), 4).alias("lambda_threshold"),
        F.round(F.max(excess), 4).alias("max_excess"),
        F.coalesce(
            F.min(F.when(excess > F.col("lam"), F.col("day"))), F.lit(-1)
        )
        .cast("bigint")
        .alias("first_alarm_day"),
        F.max(F.when(excess > F.col("lam"), 1).otherwise(0))
        .cast("int")
        .alias("alarm"),
    )


@register(
    "page_hinkley_drift",
    oracle=PAGE_HINKLEY_ORACLE,
    doc="Page-Hinkley sequential drift detector on the daily mean "
    "event value: PH_t accumulates deviations of each day's value "
    "from the RUNNING mean (the online quantity — no lookahead), and "
    "an alarm fires when PH_t rises more than lambda above its "
    "running minimum.  lambda = 2 x the series' sample std — a "
    "data-driven threshold so the query is self-calibrating across "
    "scale factors.  The running mean needs a window-over-window "
    "(cumsum/rank -> deviation -> cumsum -> running min), staged "
    "through CTEs for the oracle because DuckDB cannot nest window "
    "functions.  The ONLINE complement to the retrospective "
    "cusum_changepoint/cusum_changepoint_location pair.  Scale: "
    "events reduce to the ~30-row daily grid; four O(days) "
    "cumulative windows.",
    tags=("causality", "stats", "timeseries", "window"),
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(_daynum().alias("day")).agg(
        F.round(F.avg("value"), 6).alias("x")
    )
    return _page_hinkley_chain(daily)


# ---------------------------------------------------------------------------
# quantile_treatment_effect
# ---------------------------------------------------------------------------


@register(
    "quantile_treatment_effect",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INTEGER) AS arm,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN value END), 0), 6) AS o
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT arm, o,
               row_number() OVER (PARTITION BY arm
                                  ORDER BY o, user_id) AS rn,
               count(*) OVER (PARTITION BY arm) AS cnt
        FROM per_user
    ),
    qs AS (
        SELECT CAST(k * 0.25 AS DOUBLE) AS q
        FROM (SELECT unnest(generate_series(1, 3)) AS k)
    ),
    pick AS (
        SELECT q.q, r.arm, r.o
        FROM ranked r CROSS JOIN qs q
        WHERE r.rn = CAST(ceil(q.q * r.cnt) AS BIGINT)
    )
    SELECT q AS quantile,
           round(max(CASE WHEN arm = 1 THEN o END), 4) AS q_treated,
           round(max(CASE WHEN arm = 0 THEN o END), 4) AS q_control,
           round(max(CASE WHEN arm = 1 THEN o END)
                 - max(CASE WHEN arm = 0 THEN o END), 4) AS qte
    FROM pick GROUP BY 1 ORDER BY 1
    """,
    doc="Quantile treatment effects at the quartiles: per-arm "
    "(user_id parity) distributions of total purchase value compared "
    "at q=0.25/0.5/0.75 via RANK-BASED discrete quantiles (the value "
    "at row ceil(q*n) in (o, user_id) order) — deliberately not the "
    "engines' interpolating percentile functions, whose interpolation "
    "conventions differ; picking an actual order statistic is "
    "bit-identical on both engines by construction.  QTE curves "
    "reveal effects the mean hides (a treatment moving only the "
    "upper tail).  Scale: one user-grain reduce, then the EXACT "
    "per-arm rank without a 2-partition window (the WindowExec "
    "trap): outcomes hash into ~128 value-range buckets (bounds "
    "from a 1-row broadcast min/max — no eager action), ranks are "
    "per-(arm,bucket) row_numbers (distributed windows) plus the "
    "≤258-row (arm,bucket)-count table's per-arm cumulative "
    "offsets — bit-identical to the oracle's literal row_number() "
    "OVER (PARTITION BY arm ORDER BY o, user_id).  A 3-row "
    "quantile probe joins against the ranked rows.",
    tags=("causality", "stats", "window", "agg"),
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("o")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "o", "user_id"
    )
    # the shared bucket+offset device (operators/ranks.py) with a
    # per-arm partition: o-range buckets refine the (arm, o, user_id)
    # order, per-(arm,bucket) row_numbers + the ≤258-row count table's
    # per-arm cumulative offsets — bit-identical to the oracle's
    # literal row_number() OVER (PARTITION BY arm ORDER BY o, user_id)
    from ..operators.ranks import with_global_rank, with_range_bucket

    bucketed = with_range_bucket(per_user, "o")
    ranked = with_global_rank(
        bucketed,
        [F.asc("o"), F.asc("user_id")],
        out="rn",
        total="cnt",
        partition_by=("arm",),
        pre_shuffle=True,
        # |arms| = 2 by construction — the offset table is ≤ 2·128
        # rows at ANY data scale, so the broadcast is safe and keeps
        # the plan shuffle-free (grouped mode defaults to a shuffled
        # join since round 11 because group domains like web domains
        # are unbounded; an experiment's arm enum is not).
        broadcast_offsets=True,
    ).select("arm", "o", "rn", "cnt")
    qs = spark.range(1, 4).select(
        (F.col("id") * 0.25).cast("double").alias("q")
    )
    pick = ranked.crossJoin(F.broadcast(qs)).where(
        F.col("rn") == F.ceil(F.col("q") * F.col("cnt")).cast("bigint")
    )
    o = F.col("o")
    return (
        pick.groupBy(F.col("q").alias("quantile"))
        .agg(
            F.round(F.max(F.when(F.col("arm") == 1, o)), 4).alias(
                "q_treated"
            ),
            F.round(F.max(F.when(F.col("arm") == 0, o)), 4).alias(
                "q_control"
            ),
            F.round(
                F.max(F.when(F.col("arm") == 1, o))
                - F.max(F.when(F.col("arm") == 0, o)),
                4,
            ).alias("qte"),
        )
        .orderBy("quantile")
    )


# ---------------------------------------------------------------------------
# Retail-table causal estimators: the same panel machinery applied to
# the warehouse fact tables (lineitem/orders/part), where the data is
# big and the joins are real.
# ---------------------------------------------------------------------------


@register(
    "price_elasticity_within_part",
    oracle="""
    WITH li AS (
        SELECT l_partkey AS pk,
               round(ln(CAST(l_quantity AS DOUBLE)), 6) AS y,
               round(ln(l_extendedprice / l_quantity), 6) AS x
        FROM lineitem
    ),
    demeaned AS (
        SELECT pk, x, y,
               x - round(avg(x) OVER (PARTITION BY pk), 6) AS xt,
               y - round(avg(y) OVER (PARTITION BY pk), 6) AS yt
        FROM li
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT pk) AS BIGINT) AS n_parts,
           round(sum(xt * yt) / nullif(sum(xt * xt), 0), 4)
               AS elasticity_within,
           round((sum(x * y) - sum(x) * sum(y) / count(*))
                 / nullif(sum(x * x) - sum(x) * sum(x) / count(*), 0),
                 4) AS elasticity_pooled
    FROM demeaned
    """,
    doc="Price elasticity of demand with part fixed effects: the "
    "log-log regression ln(quantity) ~ ln(unit price) demeaned "
    "WITHIN part (one-way FE via a part-partitioned window — the "
    "panel device of two_way_fixed_effects_did applied to the "
    "6k-part/600k-line warehouse side), beside the pooled slope "
    "whose gap exposes cross-part price-mix confounding.  TPC-H "
    "draws quantity independent of price, so the within estimate is "
    "a null calibration (~0) — the pipeline, not the number, is the "
    "product.  Per-part means are rounded 6dp so both engines "
    "demean identical values.  Scale: ONE map-side-combined moment "
    "aggregate grouped by l_partkey (the within-part demeaned sums "
    "expand algebraically over the rounded means, so no row ever "
    "carries its part's mean — r15 opt: this replaced a full-row "
    "part-keyed window + global countDistinct), then a tiny "
    "per-part reduce — no join at all.",
    tags=("causality", "panel", "window", "agg", "bench"),
)
def price_elasticity_within_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.round(F.log(F.col("l_quantity").cast("double")), 6).alias("y"),
        F.round(
            F.log(F.col("l_extendedprice") / F.col("l_quantity")), 6
        ).alias("x"),
    )
    # Per-part MOMENTS instead of a part-keyed window (opt guide
    # §2.3 "aggregate before you shuffle"): the within-part demeaned
    # sums expand algebraically over the rounded per-part means —
    # Σ(x−mx̂)(y−mŷ) = Sxy − mx̂·Sy − mŷ·Sx + n·mx̂·mŷ with
    # mx̂ = round(Sx/n, 6) — so one map-side-combined groupBy(pk)
    # replaces the full-row window shuffle+sort AND the global
    # countDistinct(pk) expand (n_parts = the group count).  Same
    # statistic, same rounded means; only float summation grouping
    # differs (well inside the oracle tolerance, checked by the
    # float-round audit).
    per = li.groupBy("pk").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    rmx = F.round(F.col("sx") / F.col("n"), 6)
    rmy = F.round(F.col("sy") / F.col("n"), 6)
    within = per.select(
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        (
            F.col("sxy")
            - rmx * F.col("sy")
            - rmy * F.col("sx")
            + F.col("n") * rmx * rmy
        ).alias("wxy"),
        (
            F.col("sxx") - 2 * rmx * F.col("sx") + F.col("n") * rmx * rmx
        ).alias("wxx"),
    )
    N = F.sum("n")
    return within.agg(
        F.sum("n").cast("bigint").alias("n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(
            F.sum("wxy") / F.nullif(F.sum("wxx"), F.lit(0.0)), 4
        ).alias("elasticity_within"),
        F.round(
            (F.sum("sxy") - F.sum("sx") * F.sum("sy") / N)
            / F.nullif(
                F.sum("sxx") - F.sum("sx") * F.sum("sx") / N, F.lit(0.0)
            ),
            4,
        ).alias("elasticity_pooled"),
    )


@register(
    "promo_did_lineitem",
    oracle="""
    WITH lines AS (
        SELECT CAST(p.p_type LIKE 'PROMO%' AS INTEGER) AS treated,
               CAST(o.o_orderdate >= DATE '1995-06-01' AS INTEGER)
                   AS post,
               round(l.l_extendedprice * (1 - l.l_discount), 4) AS rev
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ),
    cell AS (
        SELECT treated, post, avg(rev) AS m,
               CAST(count(*) AS BIGINT) AS n
        FROM lines GROUP BY 1, 2
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_lines,
           round(max(CASE WHEN treated = 1 AND post = 1 THEN m END), 4)
               AS treated_post,
           round(max(CASE WHEN treated = 1 AND post = 0 THEN m END), 4)
               AS treated_pre,
           round(max(CASE WHEN treated = 0 AND post = 1 THEN m END), 4)
               AS control_post,
           round(max(CASE WHEN treated = 0 AND post = 0 THEN m END), 4)
               AS control_pre,
           round(max(CASE WHEN treated = 1 AND post = 1 THEN m END)
                 - max(CASE WHEN treated = 1 AND post = 0 THEN m END)
                 - max(CASE WHEN treated = 0 AND post = 1 THEN m END)
                 + max(CASE WHEN treated = 0 AND post = 0 THEN m END),
                 4) AS promo_did
    FROM cell
    """,
    doc="Difference-in-differences on the warehouse facts: PROMO-type "
    "parts (treated) vs the rest, before/after a mid-window cutoff "
    "(1995-06-01), outcome = discounted line revenue.  TPC-H prices "
    "carry no promo intervention, so the DiD is a null calibration — "
    "what matters is the execution shape: the full "
    "lineitem JOIN orders (fact-to-fact, orderkey-colocated shuffle) "
    "JOIN part (broadcast dimension) pipeline feeding a 4-cell "
    "grouped reduce, i.e. the q3-class join tree with an estimator "
    "on top instead of a rollup.  Line revenue is rounded 4dp "
    "before averaging so both engines aggregate identical values.  "
    "Scale: one orderkey shuffle (AQE-sized); part broadcasts; the "
    "estimator itself is 4-row algebra.",
    tags=("causality", "experiments", "join", "agg", "bench"),
)
def promo_did_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    lines = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(part), li["l_partkey"] == part["p_partkey"]
        )
        .select(
            F.col("p_type").startswith("PROMO").cast("int").alias(
                "treated"
            ),
            (F.col("o_orderdate") >= F.lit("1995-06-01"))
            .cast("int")
            .alias("post"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("rev"),
        )
    )
    cell = lines.groupBy("treated", "post").agg(
        F.avg("rev").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    t, p, m = F.col("treated"), F.col("post"), F.col("m")

    def c(ti, pi):
        return F.max(F.when((t == ti) & (p == pi), m))

    return cell.agg(
        F.sum("n").cast("bigint").alias("n_lines"),
        F.round(c(1, 1), 4).alias("treated_post"),
        F.round(c(1, 0), 4).alias("treated_pre"),
        F.round(c(0, 1), 4).alias("control_post"),
        F.round(c(0, 0), 4).alias("control_pre"),
        F.round(c(1, 1) - c(1, 0) - c(0, 1) + c(0, 0), 4).alias(
            "promo_did"
        ),
    )




# ---------------------------------------------------------------------------
# Interference / spillovers (the SUTVA check) on the co-supply graph
# ---------------------------------------------------------------------------

from .queries_causality import (  # noqa: E402  (shared graph base)
    _COSUPPLY_EDGES_ORACLE,
    _cosupply_edges,
)


@register(
    "network_interference_exposure",
    oracle=_COSUPPLY_EDGES_ORACLE
    + """,
    und AS (
        SELECT u AS s, v AS nbr FROM edges
        UNION ALL
        SELECT v AS s, u AS nbr FROM edges
    ),
    treat AS (
        SELECT s_suppkey AS s,
               CAST(s_suppkey % 2 AS DOUBLE) AS t,
               round(s_acctbal, 4) AS y
        FROM supplier
    ),
    expo AS (
        SELECT u.s, round(avg(tn.t), 6) AS e
        FROM und u JOIN treat tn ON tn.s = u.nbr
        GROUP BY 1
    ),
    frame AS (
        SELECT t.t, t.y, x.e
        FROM treat t JOIN expo x ON x.s = t.s
    ),
    mom AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(t * t) - sum(t) * sum(t) / count(*) AS stt,
               sum(e * e) - sum(e) * sum(e) / count(*) AS see,
               sum(t * e) - sum(t) * sum(e) / count(*) AS ste,
               sum(t * y) - sum(t) * sum(y) / count(*) AS sty,
               sum(e * y) - sum(e) * sum(y) / count(*) AS sey,
               avg(e) AS ebar
        FROM frame
    ),
    guarded AS (
        -- dimensionless collinearity guard: det/(stt*see) is 1-r^2
        -- of the two regressors; a bipartite co-supply graph (tiny
        -- fixtures) makes exposure EXACTLY 1-t and the solve is
        -- noise on every engine — report NULL effects instead
        SELECT *,
               CAST(abs(stt * see - ste * ste)
                    <= 1e-6 * stt * see AS INTEGER) AS collinear
        FROM mom
    )
    SELECT CAST((SELECT count(*) FROM treat) AS BIGINT) AS n_suppliers,
           CAST(n AS BIGINT) AS n_connected,
           round(ebar, 4) AS mean_exposure,
           CAST(collinear AS INTEGER) AS collinear,
           round(CASE WHEN collinear = 0
                      THEN (sty * see - sey * ste)
                           / (stt * see - ste * ste) END, 4)
               AS direct_effect,
           round(CASE WHEN collinear = 0
                      THEN (sey * stt - sty * ste)
                           / (stt * see - ste * ste) END, 4)
               AS spillover_effect
    FROM guarded
    """,
    doc="Interference / spillover check (the SUTVA audit every "
    "estimator in this family silently assumes passes): each "
    "supplier's network exposure is the treated share of its "
    "co-supply neighbours (the shared >= 3-parts edge list of the "
    "cosupply_* family), and the 2-regressor OLS "
    "y ~ t + exposure separates the direct effect from the "
    "spillover term — a nonzero spillover coefficient means units "
    "are NOT independent and per-unit estimators are biased.  A "
    "dimensionless collinearity guard NULLs both effects when the "
    "graph makes exposure an exact function of treatment (the "
    "15-supplier sf0.001 graph is bipartite-by-parity; any engine's "
    "solve there is pure float noise).  "
    "Treatment = suppkey parity, outcome = account balance (null "
    "calibration: both coefficients ~ noise).  Exposure is rounded "
    "6dp so both engines regress identical values.  Scale: the edge "
    "list is the bounded cosupply graph (hot-part degree cut); the "
    "exposure join is node-keyed; the regression is ONE moment row.",
    tags=("causality", "graph", "panel", "agg", "join"),
)
def network_interference_exposure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # the edge list (a lineitem self-join) is read twice for the
    # undirected view, and the supplier frame three times (exposure
    # broadcast, regression frame, count): cut both lineages
    edges = _cosupply_edges(spark, sf_dir).transform(ckpt)
    und = edges.select(
        F.col("u").alias("s"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("s"), F.col("u").alias("nbr")))
    supplier = load_table(spark, sf_dir, "supplier")
    treat = supplier.select(
        F.col("s_suppkey").alias("s"),
        (F.col("s_suppkey") % 2).cast("double").alias("t"),
        F.round(F.col("s_acctbal"), 4).alias("y"),
    ).transform(ckpt)
    expo = (
        und.join(
            F.broadcast(
                treat.select(F.col("s").alias("nbr"), F.col("t").alias("tn"))
            ),
            "nbr",
        )
        .groupBy("s")
        .agg(F.round(F.avg("tn"), 6).alias("e"))
    )
    frame = treat.join(expo, "s").select("t", "y", "e")
    t, e, y = F.col("t"), F.col("e"), F.col("y")
    n = F.count(F.lit(1)).cast("double")
    mom = frame.agg(
        n.alias("n"),
        (F.sum(t * t) - F.sum(t) * F.sum(t) / n).alias("stt"),
        (F.sum(e * e) - F.sum(e) * F.sum(e) / n).alias("see"),
        (F.sum(t * e) - F.sum(t) * F.sum(e) / n).alias("ste"),
        (F.sum(t * y) - F.sum(t) * F.sum(y) / n).alias("sty"),
        (F.sum(e * y) - F.sum(e) * F.sum(y) / n).alias("sey"),
        F.avg(e).alias("ebar"),
    )
    # supplier count folds in as a 1-row broadcast (the oracle's
    # scalar subquery) — no extra eager action at build time
    n_sup = treat.agg(F.count(F.lit(1)).alias("n_suppliers"))
    stt, see, ste = F.col("stt"), F.col("see"), F.col("ste")
    sty, sey = F.col("sty"), F.col("sey")
    det = stt * see - ste * ste
    # dimensionless collinearity guard — see the oracle comment
    collinear = (F.abs(det) <= 1e-6 * stt * see).cast("int")
    guarded = mom.select("*", collinear.alias("collinear")).crossJoin(
        F.broadcast(n_sup)
    )
    c0 = F.col("collinear") == 0
    return guarded.select(
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        F.col("n").cast("bigint").alias("n_connected"),
        F.round(F.col("ebar"), 4).alias("mean_exposure"),
        F.col("collinear").cast("int").alias("collinear"),
        F.round(
            F.when(c0, (sty * see - sey * ste) / det), 4
        ).alias("direct_effect"),
        F.round(
            F.when(c0, (sey * stt - sty * ste) / det), 4
        ).alias("spillover_effect"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval for the daily series
# ---------------------------------------------------------------------------


@register(
    "conformal_prediction_interval",
    oracle=f"""
    WITH daily AS (
        SELECT {_DAYNUM_SQL} AS day, round(avg(value), 6) AS x
        FROM events GROUP BY 1
    ),
    resid AS (
        SELECT day,
               abs(x - lag(x) OVER (ORDER BY day)) AS r
        FROM daily
    ),
    cal AS (
        SELECT r, row_number() OVER (ORDER BY r, day) AS rk,
               count(*) OVER () AS n_cal
        FROM resid WHERE r IS NOT NULL AND day < 20
    ),
    q AS (
        SELECT r AS qhat, n_cal FROM cal
        WHERE rk = least(n_cal,
                         CAST(ceil((n_cal + 1) * 0.9) AS BIGINT))
    ),
    eval_set AS (
        SELECT r FROM resid WHERE r IS NOT NULL AND day >= 20
    )
    SELECT CAST(max(q.n_cal) AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_eval,
           0.9 AS nominal_coverage,
           round(max(q.qhat), 4) AS q_hat,
           round(2 * max(q.qhat), 4) AS interval_width,
           round(avg(CAST(e.r <= q.qhat AS DOUBLE)), 4)
               AS empirical_coverage
    FROM eval_set e CROSS JOIN q
    """,
    doc="Split-conformal prediction interval for the daily mean-value "
    "series with a naive one-step forecast (yhat_t = x_(t-1)): "
    "calibration residuals |x_t - x_(t-1)| from days < 20 give the "
    "conformal quantile q = the ceil((n+1)*0.9)-th smallest (the "
    "finite-sample-valid order statistic, capped at n; rank-based, "
    "so engine-identical — the same no-interpolation discipline as "
    "quantile_treatment_effect), and days >= 20 report the achieved "
    "coverage of yhat +- q.  Split conformal is distribution-free: "
    "coverage >= 90% holds under exchangeability REGARDLESS of the "
    "forecast's quality — the uncertainty layer missing from point "
    "forecasts like holt_linear_smoothing/kalman_local_level.  "
    "Scale: daily-grid bounded; one lag window, one rank window, "
    "1-row quantile broadcast.",
    tags=("causality", "stats", "timeseries", "window", "experiments"),
)
def conformal_prediction_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(_daynum().alias("day")).agg(
        F.round(F.avg("value"), 6).alias("x")
    )
    w = Window.orderBy("day")
    resid = daily.select(
        "day", F.abs(F.col("x") - F.lag("x").over(w)).alias("r")
    ).where(F.col("r").isNotNull())
    cal = resid.where(F.col("day") < 20).select(
        "r",
        F.row_number().over(Window.orderBy("r", "day")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_cal"),
    )
    q = cal.where(
        F.col("rk")
        == F.least(
            F.col("n_cal"),
            F.ceil((F.col("n_cal") + 1) * 0.9).cast("bigint"),
        )
    ).select(F.col("r").alias("qhat"), "n_cal")
    ev_set = resid.where(F.col("day") >= 20).select("r")
    return ev_set.crossJoin(F.broadcast(q)).agg(
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.lit(0.9).alias("nominal_coverage"),
        F.round(F.max("qhat"), 4).alias("q_hat"),
        F.round(2 * F.max("qhat"), 4).alias("interval_width"),
        F.round(
            F.avg((F.col("r") <= F.col("qhat")).cast("double")), 4
        ).alias("empirical_coverage"),
    )


# ---------------------------------------------------------------------------
# Staggered-adoption DiD: the event-time ATT(g, t) grid
# ---------------------------------------------------------------------------

_STAG_SQL = f"""
    WITH wk AS (
        SELECT user_id, {_DAYNUM_SQL} // 7 AS w,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicks,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN value END), 0), 6) AS y
        FROM events GROUP BY 1, 2
    ),
    cohort AS (
        SELECT user_id,
               min(CASE WHEN clicks >= 6 THEN w END) AS g
        FROM wk GROUP BY 1
    ),
    sizes AS (
        SELECT coalesce(g, -1) AS gl, CAST(count(*) AS DOUBLE) AS n
        FROM cohort GROUP BY 1
    ),
    means AS (
        -- ybar rounded 6dp: the att combination re-rounds at 4dp and
        -- a 1-ulp cross-engine sum difference sat exactly on a 4dp
        -- boundary at sf0.001 — identical 6dp inputs close that door
        SELECT coalesce(c.g, -1) AS gl, k.w,
               round(sum(k.y) / max(s.n), 6) AS ybar
        FROM wk k
        JOIN cohort c ON c.user_id = k.user_id
        JOIN sizes s ON s.gl = coalesce(c.g, -1)
        WHERE k.w <= 3
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT g.g, t.t
        FROM (SELECT unnest(generate_series(1, 3)) AS g) g
        CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS t) t
        WHERE t.t >= g.g
    )
    SELECT gr.g AS cohort_week, gr.t AS calendar_week,
           gr.t - gr.g AS event_time,
           CAST(st.n AS BIGINT) AS n_treated,
           CAST(sn.n AS BIGINT) AS n_control,
           round(mt.ybar - mp.ybar - nt.ybar + np.ybar, 4) AS att
    FROM grid gr
    JOIN sizes st ON st.gl = gr.g
    JOIN sizes sn ON sn.gl = -1
    JOIN means mt ON mt.gl = gr.g AND mt.w = gr.t
    JOIN means mp ON mp.gl = gr.g AND mp.w = gr.g - 1
    JOIN means nt ON nt.gl = -1 AND nt.w = gr.t
    JOIN means np ON np.gl = -1 AND np.w = gr.g - 1
"""

_STAG_SQL_ORDERED = _STAG_SQL + "\n    ORDER BY cohort_week, calendar_week"


@register(
    "staggered_adoption_att",
    oracle=_STAG_SQL_ORDERED,
    doc="Staggered-adoption difference-in-differences (the Callaway-"
    "Sant'Anna building block): users adopt in the first week they "
    "click >= 6 times (a deterministic intensity rule that spreads "
    "cohorts g=0..3 AND leaves a large never-treated pool at every "
    "sf — the all-users-click-in-week-0 degeneracy a raw first-"
    "click rule hits), and each cohort-period effect ATT(g,t) = "
    "(ybar_g,t - ybar_g,g-1) - (ybar_never,t - ybar_never,g-1) uses "
    "the NEVER-TREATED as clean controls with the cohort's own "
    "g-1 week as baseline — never the already-treated comparison "
    "that biases classic TWFE under staggered timing.  Cohort means "
    "divide the conditional purchase sum by the COHORT size, so "
    "zero-activity user-weeks count as true zeros without a dense "
    "grid.  g=0 is excluded (no pre-period); the partial week 4 is "
    "dropped.  Emits the 6-cell (g, t) triangle with event_time = "
    "t - g.  Scale: one user-week reduce; the means table is "
    "|cohorts| x |weeks| (~20 rows) and the grid assembly is "
    "broadcast joins on it.",
    tags=("causality", "panel", "experiments", "agg", "join", "bench"),
)
def staggered_adoption_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "user_id", F.floor(_daynum() / 7).cast("bigint").alias("w")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicks"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("y"),
    )
    # wk feeds both the cohort derivation and the cell means, and the
    # tiny sizes/means tables are each broadcast-joined several times
    # into the ATT grid below: checkpoint them so the fact passes run
    # once, not once per broadcast instance
    wk = wk.transform(ckpt)
    cohort = wk.groupBy("user_id").agg(
        F.min(F.when(F.col("clicks") >= 6, F.col("w"))).alias("g")
    )
    gl = F.coalesce(F.col("g"), F.lit(-1))
    sizes = cohort.groupBy(gl.alias("gl")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).transform(ckpt)
    means = (
        wk.where(F.col("w") <= 3)
        .join(cohort, "user_id")
        .select(gl.alias("gl"), "w", "y")
        .join(F.broadcast(sizes), "gl")
        .groupBy("gl", "w")
        .agg(F.round(F.sum("y") / F.max("n"), 6).alias("ybar"))
        .transform(ckpt)
    )
    grid = (
        spark.range(1, 4)
        .select(F.col("id").cast("int").alias("g"))
        .crossJoin(
            spark.range(1, 4).select(F.col("id").cast("int").alias("t"))
        )
        .where(F.col("t") >= F.col("g"))
    )

    def m(alias):
        return F.broadcast(
            means.select(
                F.col("gl").alias(f"{alias}_gl"),
                F.col("w").alias(f"{alias}_w"),
                F.col("ybar").alias(f"{alias}_y"),
            )
        )

    out = (
        grid.join(
            F.broadcast(
                sizes.select(
                    F.col("gl").alias("st_gl"), F.col("n").alias("st_n")
                )
            ),
            F.col("st_gl") == F.col("g"),
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("gl").alias("sn_gl"), F.col("n").alias("sn_n")
                )
            ),
            F.col("sn_gl") == -1,
        )
        .join(
            m("mt"),
            (F.col("mt_gl") == F.col("g")) & (F.col("mt_w") == F.col("t")),
        )
        .join(
            m("mp"),
            (F.col("mp_gl") == F.col("g"))
            & (F.col("mp_w") == F.col("g") - 1),
        )
        .join(
            m("nt"),
            (F.col("nt_gl") == -1) & (F.col("nt_w") == F.col("t")),
        )
        .join(
            m("np"),
            (F.col("np_gl") == -1) & (F.col("np_w") == F.col("g") - 1),
        )
    )
    return out.select(
        F.col("g").alias("cohort_week"),
        F.col("t").alias("calendar_week"),
        (F.col("t") - F.col("g")).alias("event_time"),
        F.col("st_n").cast("bigint").alias("n_treated"),
        F.col("sn_n").cast("bigint").alias("n_control"),
        F.round(
            F.col("mt_y") - F.col("mp_y") - F.col("nt_y") + F.col("np_y"),
            4,
        ).alias("att"),
    ).orderBy("cohort_week", "calendar_week")


@register(
    "staggered_event_study",
    oracle="WITH att_cells AS (" + _STAG_SQL.strip() + """)
    SELECT event_time,
           CAST(count(*) AS BIGINT) AS n_cohorts,
           CAST(sum(n_treated) AS BIGINT) AS n_treated_total,
           round(sum(att * n_treated) / sum(n_treated), 4)
               AS att_event
    FROM att_cells
    GROUP BY 1 ORDER BY 1
    """,
    doc="Event-study aggregation of the staggered-adoption grid: the "
    "6 ATT(g,t) cells collapse to the dynamic-effect curve "
    "ATT(e) at event time e = t-g, each cell weighted by its cohort "
    "size — the Callaway-Sant'Anna group-time-to-event-study "
    "aggregation, and the staggered-design answer to "
    "event_study_daily_effects' single-cohort curve.  Note the "
    "composition honesty: later event times draw only from earlier "
    "cohorts (e=2 exists only for g=1), so the curve confounds "
    "dynamics with cohort mix exactly as the literature warns — "
    "n_cohorts per row makes that visible.  Scale: identical fact "
    "passes to staggered_adoption_att; the aggregation is 6 -> 3 "
    "rows.",
    tags=("causality", "panel", "experiments", "agg"),
)
def staggered_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = staggered_adoption_att(spark, sf_dir)
    # att is already 4dp-rounded in the cells (identical on both
    # engines), so the weighted average re-rounds identical inputs
    return (
        cells.groupBy("event_time")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cohorts"),
            F.sum("n_treated").cast("bigint").alias("n_treated_total"),
            F.round(
                F.sum(F.col("att") * F.col("n_treated"))
                / F.sum("n_treated"),
                4,
            ).alias("att_event"),
        )
        .orderBy("event_time")
    )


# ---------------------------------------------------------------------------
# bacon_did_decomposition
# ---------------------------------------------------------------------------

_BACON_T = 4  # weeks 0..3 (the partial week 4 is dropped, as in the ATT)


def _bacon_components() -> list[tuple]:
    """The Goodman-Bacon (2021) 2x2 component list for timing cohorts
    {1, 2, 3} + never-treated, weeks 0..3 — single source of truth for
    BOTH the Spark literal table and the oracle's VALUES clause.

    Each row: (comparison, g_treat, g_ctrl, pre_a, pre_b, post_a,
    post_b, dcoef16) where dcoef16 = 16 x the treatment-variance
    coefficient of the raw weight n_t * n_c * coef:
      - treated k vs never:           coef = Dk * (1 - Dk)
      - early k vs late l (pre-wind): coef = (Dk - Dl) * (1 - Dk)
      - late l vs early k (post-win): coef = Dl * (Dk - Dl)
    with Dg = (T - g) / T.  With T = 4 every 16*coef is an exact
    integer, so the weight numerators and their normalizing sum are
    BIGINT — aggregation-order-free on both engines."""
    comps = []
    for k in (1, 2, 3):
        dk = (_BACON_T - k) / _BACON_T
        comps.append(
            ("treat_vs_never", k, -1, 0, k - 1, k, 3,
             int(round(16 * dk * (1 - dk))))
        )
    for k in (1, 2):
        for l in range(k + 1, 4):
            dk = (_BACON_T - k) / _BACON_T
            dl = (_BACON_T - l) / _BACON_T
            comps.append(
                ("early_vs_late_pre", k, l, 0, k - 1, k, l - 1,
                 int(round(16 * (dk - dl) * (1 - dk))))
            )
            comps.append(
                ("late_vs_early_post", l, k, k, l - 1, l, 3,
                 int(round(16 * dl * (dk - dl))))
            )
    return comps


def _bacon_oracle() -> str:
    rows = ",\n           ".join(
        f"('{c}', {gt}, {gc}, {pa}, {pb}, {qa}, {qb}, {d16})"
        for (c, gt, gc, pa, pb, qa, qb, d16) in _bacon_components()
    )

    def wsum(g: str, a: str, b: str) -> str:
        return (
            f"(SELECT coalesce(sum(s), 0) FROM cells "
            f"WHERE gl = comp.{g} AND w BETWEEN comp.{a} AND comp.{b})"
        )

    return f"""
    WITH wk AS (
        SELECT user_id, {_DAYNUM_SQL} // 7 AS w,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicks,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100, 0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS yc
        FROM events GROUP BY 1, 2
    ),
    cohort AS (
        SELECT user_id, min(CASE WHEN clicks >= 6 THEN w END) AS g
        FROM wk GROUP BY 1
    ),
    sizes AS (
        SELECT coalesce(g, -1) AS gl, CAST(count(*) AS BIGINT) AS n
        FROM cohort GROUP BY 1
    ),
    cells AS (
        SELECT coalesce(c.g, -1) AS gl, k.w, CAST(sum(k.yc) AS BIGINT) AS s
        FROM wk k JOIN cohort c ON c.user_id = k.user_id
        WHERE k.w <= 3
        GROUP BY 1, 2
    ),
    comp(comparison, g_treat, g_ctrl, pre_a, pre_b, post_a, post_b,
         dcoef16) AS (
        VALUES {rows}
    ),
    tot AS (
        SELECT CAST(sum(st2.n * sc2.n * c2.dcoef16) AS BIGINT) AS t
        FROM comp c2
        JOIN sizes st2 ON st2.gl = c2.g_treat
        JOIN sizes sc2 ON sc2.gl = c2.g_ctrl
    )
    SELECT comparison, g_treat, g_ctrl,
           CAST(st.n AS BIGINT) AS n_treat,
           CAST(sc.n AS BIGINT) AS n_ctrl,
           round(
               ({wsum("g_treat", "post_a", "post_b")}
                / (st.n * (comp.post_b - comp.post_a + 1) * 100.0)
                - {wsum("g_treat", "pre_a", "pre_b")}
                / (st.n * (comp.pre_b - comp.pre_a + 1) * 100.0))
               - ({wsum("g_ctrl", "post_a", "post_b")}
                  / (sc.n * (comp.post_b - comp.post_a + 1) * 100.0)
                  - {wsum("g_ctrl", "pre_a", "pre_b")}
                    / (sc.n * (comp.pre_b - comp.pre_a + 1) * 100.0)),
               6) AS dd_estimate,
           round(CAST(st.n * sc.n * comp.dcoef16 AS DOUBLE) / tot.t, 6)
               AS weight
    FROM comp
    JOIN sizes st ON st.gl = comp.g_treat
    JOIN sizes sc ON sc.gl = comp.g_ctrl
    CROSS JOIN tot
    ORDER BY comparison, g_treat, g_ctrl
    """


@register(
    "bacon_did_decomposition",
    oracle=_bacon_oracle(),
    doc="Goodman-Bacon (2021) decomposition of the two-way-fixed-"
    "effects DiD estimator under staggered adoption — the diagnostic "
    "that made 'TWFE is a weighted average of all 2x2 DDs' standard "
    "practice: every timing-cohort pair contributes its 2x2 estimate "
    "(treated-vs-never, early-vs-late on the late group's pre-window, "
    "and the FORBIDDEN late-vs-early comparison whose control is "
    "already treated — the negative-weights pathology this "
    "decomposition exposes), with variance weights n_t*n_c*f(D) "
    "normalized to 1.  Same panel as staggered_adoption_att (cohorts "
    "by the deterministic clicks>=6 rule, weeks 0..3, never-treated "
    "pool; g=0 excluded — no pre-period).  The DECOMPOSITION THEOREM "
    "is pytest-pinned: the weight-averaged components equal the "
    "directly-computed TWFE coefficient on the same balanced panel "
    "(numpy double-demeaning replay, tests/test_panel.py).  "
    "Determinism: weekly purchase totals are per-ROW centi-quantized "
    "(the chow rule) so every window mean is a ratio of exact BIGINTs, "
    "and with T=4 all 16x-variance-coefficients are integers, so "
    "weight numerators and their normalizing sum are BIGINT too — no "
    "float moment sum anywhere.  Scale: one user-week fact reduce; "
    "everything after runs on a |cohorts|x|weeks| cell table and a "
    "9-row literal component grid (broadcast joins).",
    tags=("causality", "panel", "experiments", "agg", "join"),
)
def bacon_did_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = (
        ev.groupBy(
            "user_id", F.floor(_daynum() / 7).cast("bigint").alias("w")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicks"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("yc"),
        )
        .transform(ckpt)  # feeds the cohort derivation AND the cells
    )
    cohort = wk.groupBy("user_id").agg(
        F.min(F.when(F.col("clicks") >= 6, F.col("w"))).alias("g")
    )
    gl = F.coalesce(F.col("g"), F.lit(-1))
    sizes = (
        cohort.groupBy(gl.alias("gl"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(ckpt)  # joined for n_treat, n_ctrl, roles, and tot
    )
    cells = (
        wk.filter(F.col("w") <= 3)
        .join(cohort, "user_id")
        .groupBy(gl.alias("gl"), "w")
        .agg(F.sum("yc").cast("bigint").alias("s"))
        .transform(ckpt)  # four window-role joins read it
    )
    comp = local_frame(
        spark,
        _bacon_components(),
        "comparison string, g_treat int, g_ctrl int, pre_a int, "
        "pre_b int, post_a int, post_b int, dcoef16 int",
    )

    # melt the four window roles, join the cell sums, and pivot back:
    # window means are ratios of exact BIGINT sums (order-free)
    role = lambda nm, g, a, b: F.struct(  # noqa: E731
        F.lit(nm).alias("role"),
        F.col(g).cast("bigint").alias("rg"),
        F.col(a).alias("ra"),
        F.col(b).alias("rb"),
    )
    roles = comp.select(
        "comparison",
        "g_treat",
        "g_ctrl",
        F.explode(
            F.array(
                role("t_post", "g_treat", "post_a", "post_b"),
                role("t_pre", "g_treat", "pre_a", "pre_b"),
                role("c_post", "g_ctrl", "post_a", "post_b"),
                role("c_pre", "g_ctrl", "pre_a", "pre_b"),
            )
        ).alias("r"),
    ).select("comparison", "g_treat", "g_ctrl", "r.*")
    wsums = (
        roles.join(
            cells,
            (F.col("gl") == F.col("rg"))
            & F.col("w").between(F.col("ra"), F.col("rb")),
            "left",
        )
        .groupBy("comparison", "g_treat", "g_ctrl", "role", "ra", "rb", "rg")
        .agg(F.coalesce(F.sum("s"), F.lit(0)).cast("bigint").alias("sw"))
        .join(
            F.broadcast(sizes.select(F.col("gl").alias("rg"), "n")), "rg"
        )
        .select(
            "comparison",
            "g_treat",
            "g_ctrl",
            "role",
            (
                F.col("sw").cast("double")
                / (F.col("n") * (F.col("rb") - F.col("ra") + 1) * 100.0)
            ).alias("wmean"),
        )
    )
    pv = lambda nm: F.max(F.when(F.col("role") == nm, F.col("wmean")))  # noqa: E731
    dd = (
        wsums.groupBy("comparison", "g_treat", "g_ctrl")
        .agg(
            pv("t_post").alias("tp"),
            pv("t_pre").alias("tq"),
            pv("c_post").alias("cp"),
            pv("c_pre").alias("cq"),
        )
    )
    wtab = (
        comp.join(
            F.broadcast(
                sizes.select(
                    F.col("gl").alias("g_treat"), F.col("n").alias("n_treat")
                )
            ),
            "g_treat",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("gl").alias("g_ctrl"), F.col("n").alias("n_ctrl")
                )
            ),
            "g_ctrl",
        )
        .select(
            "comparison",
            "g_treat",
            "g_ctrl",
            "n_treat",
            "n_ctrl",
            (F.col("n_treat") * F.col("n_ctrl") * F.col("dcoef16"))
            .cast("bigint")
            .alias("wraw"),
        )
        .transform(ckpt)  # read by the total AND the final projection
    )
    tot = wtab.agg(F.sum("wraw").cast("bigint").alias("t"))
    return (
        wtab.join(dd, ["comparison", "g_treat", "g_ctrl"])
        .crossJoin(F.broadcast(tot))
        .select(
            "comparison",
            "g_treat",
            "g_ctrl",
            F.col("n_treat").cast("bigint").alias("n_treat"),
            F.col("n_ctrl").cast("bigint").alias("n_ctrl"),
            F.round(
                (F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")), 6
            ).alias("dd_estimate"),
            F.round(
                F.col("wraw").cast("double") / F.col("t"), 6
            ).alias("weight"),
        )
        .orderBy("comparison", "g_treat", "g_ctrl")
    )
