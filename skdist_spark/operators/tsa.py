"""Time-series forecasting, experimentation, and survival analytics.

Three operator families a production analytics engine is asked for
daily and none of which needs anything beyond one aggregation shuffle:

- **Holt double-exponential forecast** (`holt_fit`): level+trend
  smoothing over an evenly-indexed KPI series with an h-step-ahead
  forecast — the capacity-planning / revenue-projection primitive.
  The series is first REDUCED to one row per period (exact DECIMAL
  sums), so the sequential fold runs over the tiny aggregate (a
  10-year weekly series is 522 points), never the fact table.  The
  fold itself is a single `aggregate` higher-order expression whose
  state is (level, trend, fitted[]) — no Python, no driver loop, and
  the identical arithmetic is replayed by a recursive CTE in the
  DuckDB oracle, so the smoothing recursion is hash-verified
  bit-for-bit.
- **Welch's unequal-variance t-test** (`welch_t_test`): the A/B
  experiment readout.  Arms are deterministic Knuth-hash buckets of
  the unit id (stable across retries/engines — the same split
  train_test_split_df uses); per-arm moments are EXACT integer sums
  (micro-quantized values), so the only DOUBLE arithmetic is the
  final t statistic and Welch-Satterthwaite dof — one scan, one tiny
  aggregate, map-side combinable.
- **Kaplan-Meier survival** (`km_survival`): time-to-churn with
  right-censoring.  Per-unit durations come from one user_id shuffle
  (first/last activity from the same exchange); the risk table is a
  second aggregation over distinct integer durations; S(t) =
  exp(cumsum(ln(1 - d_i/n_i))) rides one ordered window over the
  tiny risk table.  At 100 TB the only full-data pass is the
  per-user min/max aggregation.

All three queries have value-identical DuckDB oracles (the Holt
recursion via WITH RECURSIVE; smoothing constants are dyadic — 0.5,
0.25 — so the double arithmetic is exactly reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.global_rank import (
    ntile_from_row_number,
    two_phase_row_number,
    two_phase_running_agg,
)
from ..sources.catalog import load_table

_WEEK_EPOCH = "2024-01-01"  # week-index base shared with behavior.py
_KNUTH = 2654435761
_MOD32 = 4294967296
_M31 = 2147483648  # 2^31: (id % 2^31) * _KNUTH < 2^63, no BIGINT wrap


def _arm(col):
    """Deterministic 2-arm Knuth split, wrap-safe for every BIGINT id:
    the id is masked to [0, 2^31) FIRST, so the multiply stays inside
    BIGINT in both Spark and DuckDB (the raw ``id * K % 2^32`` form
    silently wraps in Spark for id > ~3.47e9 while DuckDB promotes —
    divergent arms), and F.pmod keeps negative ids non-negative the
    way the oracle's ``((id % m) + m) % m`` does."""
    masked = F.pmod(col.cast("bigint"), F.lit(_M31))
    return F.pmod((masked * _KNUTH) % _MOD32, F.lit(2))


def _arm_sql(id_expr: str = "user_id") -> str:
    """DuckDB rendering of `_arm` — identical arithmetic, with the
    sign-safe double-mod standing in for pmod."""
    return (
        f"((((({id_expr} % {_M31}) + {_M31}) % {_M31})"
        f" * {_KNUTH}) % {_MOD32}) % 2"
    )

# dyadic smoothing constants: exactly representable doubles, so the
# Spark fold and the DuckDB recursive CTE perform identical FP ops
ALPHA = "0.5"   # level smoothing
BETA = "0.25"   # trend smoothing
HORIZON = 7     # forecast steps emitted past the last observation


# ---- Holt double-exponential smoothing --------------------------------


def holt_fit(
    series: DataFrame,
    t_col: str,
    y_col: str,
    horizon: int = HORIZON,
) -> DataFrame:
    """Fit Holt's linear-trend smoothing to an integer-indexed series
    and emit one-step-ahead fits plus an ``horizon``-step forecast.

    ``series`` must already be the aggregated (t, y) frame — one row
    per period, ``t_col`` integer, evenly spaced.  Initialization is
    the textbook level_1 = y_1, trend_1 = y_2 - y_1; for t >= 2::

        fitted_t = level_{t-1} + trend_{t-1}
        level_t  = a*y_t + (1-a)*fitted_t
        trend_t  = b*(level_t - level_{t-1}) + (1-b)*trend_{t-1}

    Output: (t, kind 'fit'|'forecast', y, yhat), yhat rounded to 4.

    The sequential recursion collapses the aggregated series to ONE
    row (`sort_array(collect_list)`) and folds it with an `aggregate`
    higher-order function — state is (level, trend, fitted array), so
    cost is O(n^2) array copies on the one executor that owns the row;
    n is bounded by the calendar (52 points/year for weekly series),
    never by data volume.  Everything upstream is an ordinary
    map-side-combinable aggregation.
    """
    a, b = ALPHA, BETA
    one = series.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(t_col).alias("t"), F.col(y_col).alias("y")))
        ).alias("s")
    )
    new_level = f"{a}D * y + (1.0D - {a}D) * (st.level + st.trend)"
    st = one.select(
        F.expr("transform(s, x -> x.t)").alias("ts"),
        F.expr("transform(s, x -> CAST(x.y AS DOUBLE))").alias("ys"),
        F.size("s").alias("n"),
    ).select(
        "ts",
        "ys",
        "n",
        F.expr(
            f"""aggregate(
                slice(ys, 2, n - 1),
                named_struct(
                    'level', element_at(ys, 1),
                    'trend', element_at(ys, 2) - element_at(ys, 1),
                    'fits', CAST(array() AS ARRAY<DOUBLE>)),
                (st, y) -> named_struct(
                    'level', {new_level},
                    'trend', {b}D * (({new_level}) - st.level)
                             + (1.0D - {b}D) * st.trend,
                    'fits', concat(st.fits, array(st.level + st.trend)))
            )"""
        ).alias("st"),
    )
    rows = st.select(
        F.explode(
            F.expr(
                f"""concat(
                    transform(sequence(2, n), t -> named_struct(
                        't', element_at(ts, t),
                        'kind', 'fit',
                        'y', round(element_at(ys, t), 4),
                        'yhat', round(element_at(st.fits, t - 1), 4))),
                    transform(sequence(1, {horizon}), h -> named_struct(
                        't', element_at(ts, n) + h,
                        'kind', 'forecast',
                        'y', CAST(NULL AS DOUBLE),
                        'yhat', round(st.level + CAST(h AS DOUBLE) * st.trend, 4)))
                )"""
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.t").alias(t_col),
        F.col("r.kind").alias("kind"),
        F.col("r.y").alias("y"),
        F.col("r.yhat").alias("yhat"),
    ).orderBy(t_col, "kind")


def _weekly_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(week, revenue): order revenue per week since _WEEK_EPOCH, summed
    in DECIMAL before the cast to DOUBLE, so the series fed to a
    forecast recursion is bit-identical across engines."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy(
        F.floor(
            F.datediff(F.to_date("o_orderdate"), F.lit(_WEEK_EPOCH).cast("date")) / 7
        )
        .cast("int")
        .alias("week")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue")
    )


def weekly_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt forecast of weekly order revenue (``_weekly_order_revenue``),
    7 weeks ahead."""
    return holt_fit(_weekly_order_revenue(spark, sf_dir), "week", "revenue")


def _holt_oracle_sql(horizon: int = HORIZON) -> str:
    a, b = ALPHA, BETA
    new_level = f"{a}*d.y + (1.0 - {a})*(r.level + r.trend)"
    return f"""
        WITH RECURSIVE weekly AS (
            SELECT CAST(FLOOR(date_diff('day', DATE '{_WEEK_EPOCH}',
                                        CAST(o_orderdate AS DATE)) / 7) AS INTEGER) AS week,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
            FROM orders GROUP BY 1
        ), idx AS (
            SELECT week, y, ROW_NUMBER() OVER (ORDER BY week) AS i FROM weekly
        ), np AS (SELECT COUNT(*) AS n FROM idx),
        rec(i, level, trend, fitted) AS (
            SELECT 1,
                   (SELECT y FROM idx WHERE i = 1),
                   (SELECT y FROM idx WHERE i = 2) - (SELECT y FROM idx WHERE i = 1),
                   CAST(NULL AS DOUBLE)
            UNION ALL
            SELECT r.i + 1,
                   {new_level},
                   {b}*(({new_level}) - r.level) + (1.0 - {b})*r.trend,
                   r.level + r.trend
            FROM rec r JOIN idx d ON d.i = r.i + 1
        )
        SELECT d.week, 'fit' AS kind, ROUND(d.y, 4) AS y, ROUND(r.fitted, 4) AS yhat
        FROM rec r JOIN idx d ON d.i = r.i WHERE r.i >= 2
        UNION ALL
        SELECT (SELECT MAX(week) FROM idx) + CAST(h.range AS INTEGER), 'forecast',
               CAST(NULL AS DOUBLE),
               ROUND(r.level + CAST(h.range AS DOUBLE) * r.trend, 4)
        FROM rec r, range(1, {horizon + 1}) h
        WHERE r.i = (SELECT n FROM np)
        ORDER BY week, kind
    """


# ---- Welch's t-test (A/B experiment readout) --------------------------


def welch_t_test(
    df: DataFrame,
    unit_col: str,
    metric_micros_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Two-arm Welch unequal-variance t-test per group.

    Arm assignment is the deterministic Knuth split of ``unit_col``
    (arm 0 = 'A', 1 = 'B'); ``metric_micros_col`` must already be the
    BIGINT micro-quantized metric.  Per-(group, arm) n / sum / sum-sq
    are exact (DECIMAL(38,0) sums), so the t statistic and the
    Welch-Satterthwaite dof are single DOUBLE expressions over exact
    integers — bit-reproducible and map-side combinable.
    """
    arm = _arm(F.col(unit_col))
    g = (
        df.withColumn("arm", arm)
        .groupBy(*group_cols)
        .agg(
            F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END")).alias("n_a"),
            F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("n_b"),
            F.sum(
                F.expr(f"CASE WHEN arm = 0 THEN CAST({metric_micros_col} AS DECIMAL(38,0)) ELSE 0 END")
            ).alias("sx_a"),
            F.sum(
                F.expr(f"CASE WHEN arm = 1 THEN CAST({metric_micros_col} AS DECIMAL(38,0)) ELSE 0 END")
            ).alias("sx_b"),
            F.sum(
                F.expr(
                    f"CASE WHEN arm = 0 THEN CAST({metric_micros_col} AS DECIMAL(19,0)) * {metric_micros_col} ELSE 0 END"
                )
            ).alias("sxx_a"),
            F.sum(
                F.expr(
                    f"CASE WHEN arm = 1 THEN CAST({metric_micros_col} AS DECIMAL(19,0)) * {metric_micros_col} ELSE 0 END"
                )
            ).alias("sxx_b"),
        )
    )
    out = g.select(
        *group_cols,
        "n_a",
        "n_b",
        F.expr(f"ROUND({_MEAN('a')} / 1000000.0, 6)").alias("mean_a"),
        F.expr(f"ROUND({_MEAN('b')} / 1000000.0, 6)").alias("mean_b"),
        F.expr(f"ROUND({_T_STAT}, 6)").alias("t_stat"),
        F.expr(f"ROUND({_WELCH_DOF}, 6)").alias("dof"),
    )
    return out.orderBy(*group_cols) if group_cols else out


def _MEAN(s: str) -> str:
    return f"(CAST(sx_{s} AS DOUBLE) / CAST(n_{s} AS DOUBLE))"


def _VAR(s: str) -> str:
    # sample variance in micros^2 from exact moments
    return (
        f"((CAST(sxx_{s} AS DOUBLE) - {_MEAN(s)} * CAST(sx_{s} AS DOUBLE))"
        f" / CAST(n_{s} - 1 AS DOUBLE))"
    )


_SE2 = f"({_VAR('a')} / CAST(n_a AS DOUBLE) + {_VAR('b')} / CAST(n_b AS DOUBLE))"
_T_STAT = f"(({_MEAN('a')} - {_MEAN('b')}) / sqrt({_SE2}))"
_WELCH_DOF = (
    f"({_SE2} * {_SE2} / "
    f"({_VAR('a')} * {_VAR('a')} / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))"
    f" + {_VAR('b')} * {_VAR('b')} / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))))"
)


def purchase_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t-test of per-user total event value between the two Knuth
    user arms, per event type — 'did the B arm spend more, and is it
    noise?'.  The observation is the USER (one row per user x type,
    their value total): the randomization unit is the user, so feeding
    correlated within-user events as independent rows would overstate
    significance."""
    ev = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias(
                "v_micros"
            )
        )
    )
    return welch_t_test(ev, "user_id", "v_micros", ["event_type"])


def _welch_oracle_sql() -> str:
    return f"""
        WITH q AS (
            SELECT event_type,
                   {_arm_sql()} AS arm,
                   CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY event_type, user_id
        ), g AS (
            SELECT event_type,
                   SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                   SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
                   SUM(CASE WHEN arm = 0 THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS sx_a,
                   SUM(CASE WHEN arm = 1 THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS sx_b,
                   SUM(CASE WHEN arm = 0 THEN CAST(v AS DECIMAL(19,0)) * v ELSE 0 END) AS sxx_a,
                   SUM(CASE WHEN arm = 1 THEN CAST(v AS DECIMAL(19,0)) * v ELSE 0 END) AS sxx_b
            FROM q GROUP BY event_type
        )
        SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND({_MEAN('a')} / 1000000.0, 6) AS mean_a,
               ROUND({_MEAN('b')} / 1000000.0, 6) AS mean_b,
               ROUND({_T_STAT}, 6) AS t_stat,
               ROUND({_WELCH_DOF}, 6) AS dof
        FROM g ORDER BY event_type
    """


# ---- Kaplan-Meier survival (time-to-churn) ----------------------------

CHURN_GAP_DAYS = 7  # inactive this long before corpus end => churned


def _risk_table(spans: DataFrame, duration_col: str, event_col: str) -> DataFrame:
    """The risk table of (duration, event) spans at event durations:
    (t, c, d, n_total, n_risk) with c units and d events at duration t
    (d > 0) and n_risk = the units whose duration is >= t.  Censored
    spans leave the risk set without adding events.  One tiny
    aggregate over distinct durations, one running-sum window."""
    per_t = spans.groupBy(F.col(duration_col).alias("t")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(event_col).alias("d"),
    )
    total = per_t.agg(F.sum("c").alias("n_total"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_t.crossJoin(F.broadcast(total))
        .withColumn("n_risk", F.col("n_total") - F.coalesce(F.sum("c").over(w), F.lit(0)))
        .where(F.col("d") > 0)
    )


def km_survival(
    spans: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan-Meier estimator over integer durations with censoring.

    ``spans`` has one row per unit: integer ``duration_col`` and
    ``event_col`` 1 if the terminal event was observed, 0 if censored.
    Emits the risk table at event durations (d > 0): units at risk,
    events, and S(t) = prod_{t_i <= t} (1 - d_i / n_i), computed as
    exp of a running sum of logs over the ordered risk table.

    Aggregation to distinct durations is one tiny shuffle; the
    cumulative product is a window over that aggregate.
    """
    w2 = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return _risk_table(spans, duration_col, event_col).select(
        "t",
        "n_risk",
        "d",
        F.round(
            F.exp(
                F.sum(
                    F.expr("ln(1.0D - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))")
                ).over(w2)
            ),
            6,
        ).alias("survival"),
    ).orderBy("t")


def _churn_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, duration, event): each user's lifetime, last - first
    activity in whole days, with event 1 if the user churned (inactive
    for CHURN_GAP_DAYS before the corpus end) and 0 if censored.  One
    user_id shuffle builds the spans; the corpus end is one broadcast
    row."""
    ev = load_table(spark, "events", sf_dir)
    spans = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    corpus = ev.agg(F.max(F.unix_micros("ts")).alias("end_us"))
    gap_us = CHURN_GAP_DAYS * 86_400_000_000
    return spans.crossJoin(F.broadcast(corpus)).select(
        "user_id",
        F.expr("(last_us - first_us) div 86400000000").alias("duration"),
        F.expr(f"CASE WHEN last_us <= end_us - {gap_us} THEN 1 ELSE 0 END").alias(
            "event"
        ),
    )


def user_churn_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-churn survival curve over the events log: Kaplan-Meier
    over the ``_churn_spans`` lifetimes, where users still active within
    CHURN_GAP_DAYS of the corpus end are censored (their churn day is
    unobserved).  The KM table is an aggregate over <= 30 distinct
    durations.
    """
    return km_survival(_churn_spans(spark, sf_dir))


def _km_oracle_sql() -> str:
    gap_us = CHURN_GAP_DAYS * 86_400_000_000
    return f"""
        WITH spans AS (
            SELECT (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000 AS duration,
                   CASE WHEN MAX(epoch_us(ts)) <=
                        (SELECT MAX(epoch_us(ts)) FROM events) - {gap_us}
                        THEN 1 ELSE 0 END AS event
            FROM events GROUP BY user_id
        ), per_t AS (
            SELECT duration AS t, COUNT(*) AS c, SUM(event) AS d
            FROM spans GROUP BY duration
        ), risk AS (
            SELECT t, d,
                   (SELECT SUM(c) FROM per_t)
                   - COALESCE(SUM(c) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
            FROM per_t
        )
        SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
               ROUND(EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)))
                         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)), 6) AS survival
        FROM risk WHERE d > 0 ORDER BY t
    """


QUERIES = {
    "weekly_revenue_forecast": weekly_revenue_forecast,
    "purchase_ab_welch": purchase_ab_welch,
    "user_churn_survival": user_churn_survival,
}

ORACLE_SQL: dict[str, str] = {
    "weekly_revenue_forecast": _holt_oracle_sql(),
    "purchase_ab_welch": _welch_oracle_sql(),
    "user_churn_survival": _km_oracle_sql(),
}


# ---- CUPED variance-reduced A/B readout -------------------------------

CUPED_SPLIT_DAY = 15  # first 15 days = pre-period covariate window


def cuped_adjust(
    df: DataFrame,
    unit_col: str,
    x_micros_col: str,
    y_micros_col: str,
) -> DataFrame:
    """CUPED-adjusted two-arm experiment readout (Deng et al., WSDM'13).

    ``df`` has one row per unit with BIGINT micro-quantized pre-period
    covariate ``x`` and outcome ``y``.  theta = cov(x,y)/var(x) is
    estimated POOLED across both Knuth arms (the standard, unbiased
    choice); each unit's adjusted outcome is y - theta*(x - xbar), and
    the Welch t statistic is recomputed on the adjusted per-arm
    moments

        var(y_adj) = var(y) - 2*theta*cov(x,y) + theta^2*var(x)

    so no second pass over the data is needed: ONE aggregation emits
    per-arm n / sum / sum-sq / cross moments as exact DECIMALs, and
    every derived quantity (theta, adjusted means and variances, both
    t statistics, the variance-reduction ratio) is a closed-form
    DOUBLE expression over that single row.  Map-side combinable,
    one shuffle of ~14 numbers.
    """
    arm = _arm(F.col(unit_col))
    per_arm = []
    for s, a in (("a", 0), ("b", 1)):
        per_arm += [
            F.sum(F.expr(f"CASE WHEN arm = {a} THEN 1 ELSE 0 END")).alias(f"n_{s}"),
            F.sum(
                F.expr(f"CASE WHEN arm = {a} THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END")
            ).alias(f"sx_{s}"),
            F.sum(
                F.expr(f"CASE WHEN arm = {a} THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END")
            ).alias(f"sy_{s}"),
            F.sum(
                F.expr(f"CASE WHEN arm = {a} THEN CAST(x AS DECIMAL(19,0)) * x ELSE 0 END")
            ).alias(f"sxx_{s}"),
            F.sum(
                F.expr(f"CASE WHEN arm = {a} THEN CAST(y AS DECIMAL(19,0)) * y ELSE 0 END")
            ).alias(f"syy_{s}"),
            F.sum(
                F.expr(f"CASE WHEN arm = {a} THEN CAST(x AS DECIMAL(19,0)) * y ELSE 0 END")
            ).alias(f"sxy_{s}"),
        ]
    g = (
        df.select(
            arm.alias("arm"),
            F.col(x_micros_col).alias("x"),
            F.col(y_micros_col).alias("y"),
        )
        .agg(*per_arm)
    )
    return g.select(
        "n_a",
        "n_b",
        F.expr(f"ROUND({_CU_MEAN_Y('a')} / 1000000.0, 6)").alias("mean_a"),
        F.expr(f"ROUND({_CU_MEAN_Y('b')} / 1000000.0, 6)").alias("mean_b"),
        F.expr(f"ROUND({_CU_THETA}, 6)").alias("theta"),
        F.expr(f"ROUND({_CU_ADJ_MEAN('a')} / 1000000.0, 6)").alias("adj_mean_a"),
        F.expr(f"ROUND({_CU_ADJ_MEAN('b')} / 1000000.0, 6)").alias("adj_mean_b"),
        F.expr(f"ROUND({_CU_T_RAW}, 6)").alias("t_raw"),
        F.expr(f"ROUND({_CU_T_ADJ}, 6)").alias("t_adj"),
        F.expr(f"ROUND({_CU_VAR_REDUCTION}, 6)").alias("var_reduction"),
    )


def _CU_MEAN(m: str, s: str) -> str:
    return f"(CAST(s{m}_{s} AS DOUBLE) / CAST(n_{s} AS DOUBLE))"


def _CU_MEAN_Y(s: str) -> str:
    return _CU_MEAN("y", s)


# pooled moments: exact decimal additions before any double cast
_CU_N = "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
_CU_SX = "(CAST(sx_a + sx_b AS DOUBLE))"
_CU_SY = "(CAST(sy_a + sy_b AS DOUBLE))"
_CU_SXX = "(CAST(sxx_a + sxx_b AS DOUBLE))"
_CU_SXY = "(CAST(sxy_a + sxy_b AS DOUBLE))"
_CU_XBAR = f"({_CU_SX} / {_CU_N})"
# pooled cov(x,y) and var(x) numerators (x n): theta needs only the ratio
_CU_THETA = (
    f"(({_CU_SXY} - {_CU_SX} * {_CU_SY} / {_CU_N})"
    f" / ({_CU_SXX} - {_CU_SX} * {_CU_SX} / {_CU_N}))"
)


def _CU_ADJ_MEAN(s: str) -> str:
    return f"({_CU_MEAN('y', s)} - {_CU_THETA} * ({_CU_MEAN('x', s)} - {_CU_XBAR}))"


def _CU_VAR(m: str, s: str) -> str:
    return (
        f"((CAST(s{m}{m}_{s} AS DOUBLE) - {_CU_MEAN(m, s)} * CAST(s{m}_{s} AS DOUBLE))"
        f" / CAST(n_{s} - 1 AS DOUBLE))"
    )


def _CU_COV(s: str) -> str:
    return (
        f"((CAST(sxy_{s} AS DOUBLE) - {_CU_MEAN('x', s)} * CAST(sy_{s} AS DOUBLE))"
        f" / CAST(n_{s} - 1 AS DOUBLE))"
    )


def _CU_VADJ(s: str) -> str:
    return (
        f"({_CU_VAR('y', s)} - 2.0 * {_CU_THETA} * {_CU_COV(s)}"
        f" + {_CU_THETA} * {_CU_THETA} * {_CU_VAR('x', s)})"
    )


_CU_SE2_RAW = f"({_CU_VAR('y', 'a')} / CAST(n_a AS DOUBLE) + {_CU_VAR('y', 'b')} / CAST(n_b AS DOUBLE))"
_CU_SE2_ADJ = f"({_CU_VADJ('a')} / CAST(n_a AS DOUBLE) + {_CU_VADJ('b')} / CAST(n_b AS DOUBLE))"
_CU_T_RAW = f"(({_CU_MEAN_Y('a')} - {_CU_MEAN_Y('b')}) / sqrt({_CU_SE2_RAW}))"
_CU_T_ADJ = f"(({_CU_ADJ_MEAN('a')} - {_CU_ADJ_MEAN('b')}) / sqrt({_CU_SE2_ADJ}))"
_CU_VAR_REDUCTION = f"(1.0 - {_CU_SE2_ADJ} / {_CU_SE2_RAW})"


def purchase_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout over the events log: outcome = each user's
    purchase spend in the second half of the month, covariate = the
    same user's first-half spend.  One user_id shuffle builds the
    (x, y) unit frame (conditional sums split at the exact integer
    midpoint day); the moment aggregation is a single tiny row."""
    ev = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    split_us = f"(TIMESTAMP '2024-01-{CUPED_SPLIT_DAY + 1:02d} 00:00:00')"
    units = ev.groupBy("user_id").agg(
        F.sum(
            F.expr(
                f"CASE WHEN ts < {split_us} THEN CAST(floor(value * 1000000) AS BIGINT) ELSE 0 END"
            )
        ).alias("x"),
        F.sum(
            F.expr(
                f"CASE WHEN ts >= {split_us} THEN CAST(floor(value * 1000000) AS BIGINT) ELSE 0 END"
            )
        ).alias("y"),
    )
    return cuped_adjust(units, "user_id", "x", "y")


def _cuped_oracle_sql() -> str:
    split_ts = f"TIMESTAMP '2024-01-{CUPED_SPLIT_DAY + 1:02d} 00:00:00'"
    arms = []
    for s, a in (("a", 0), ("b", 1)):
        arms.append(
            f"""SUM(CASE WHEN arm = {a} THEN 1 ELSE 0 END) AS n_{s},
            SUM(CASE WHEN arm = {a} THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END) AS sx_{s},
            SUM(CASE WHEN arm = {a} THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS sy_{s},
            SUM(CASE WHEN arm = {a} THEN CAST(x AS DECIMAL(19,0)) * x ELSE 0 END) AS sxx_{s},
            SUM(CASE WHEN arm = {a} THEN CAST(y AS DECIMAL(19,0)) * y ELSE 0 END) AS syy_{s},
            SUM(CASE WHEN arm = {a} THEN CAST(x AS DECIMAL(19,0)) * y ELSE 0 END) AS sxy_{s}"""
        )
    return f"""
        WITH units AS (
            SELECT user_id,
                   {_arm_sql()} AS arm,
                   SUM(CASE WHEN ts < {split_ts}
                       THEN CAST(floor(value * 1000000) AS BIGINT) ELSE 0 END) AS x,
                   SUM(CASE WHEN ts >= {split_ts}
                       THEN CAST(floor(value * 1000000) AS BIGINT) ELSE 0 END) AS y
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), g AS (
            SELECT {', '.join(arms)} FROM units
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND({_CU_MEAN_Y('a')} / 1000000.0, 6) AS mean_a,
               ROUND({_CU_MEAN_Y('b')} / 1000000.0, 6) AS mean_b,
               ROUND({_CU_THETA}, 6) AS theta,
               ROUND({_CU_ADJ_MEAN('a')} / 1000000.0, 6) AS adj_mean_a,
               ROUND({_CU_ADJ_MEAN('b')} / 1000000.0, 6) AS adj_mean_b,
               ROUND({_CU_T_RAW}, 6) AS t_raw,
               ROUND({_CU_T_ADJ}, 6) AS t_adj,
               ROUND({_CU_VAR_REDUCTION}, 6) AS var_reduction
        FROM g
    """


QUERIES["purchase_ab_cuped"] = purchase_ab_cuped
ORACLE_SQL["purchase_ab_cuped"] = _cuped_oracle_sql()


# ---- Holt-Winters triple (seasonal) smoothing -------------------------

GAMMA = "0.25"  # seasonal smoothing (dyadic, like ALPHA/BETA)
HW_PERIOD = 52  # weekly series, yearly seasonality


def holt_winters_fit(
    series: DataFrame,
    t_col: str,
    y_col: str,
    period: int = HW_PERIOD,
    horizon: int = HORIZON,
) -> DataFrame:
    """Additive Holt-Winters (level + trend + seasonal) over an
    integer-indexed series, with an ``horizon``-step forecast.

    Textbook init over the first two seasons (level = mean of season
    one, trend = season-over-season mean shift / period, seasonals =
    first-season deviations), then for t > period::

        fitted_t = level + trend + season[(t-1) % m]
        level_t  = a*(y_t - season_prev) + (1-a)*(level + trend)
        trend_t  = b*(level_t - level) + (1-b)*trend
        season_t[(t-1) % m] = g*(y_t - level_t) + (1-g)*season_prev

    Same execution shape as ``holt_fit``: the aggregated series
    collapses to one row and a single `aggregate` fold carries
    (level, trend, season[m], fits[]) — cost bounded by the calendar.
    Requires n >= 2*period.  The DuckDB oracle replays the identical
    recursion via a recursive CTE whose row carries the season as a
    DOUBLE[] column; all smoothing constants are dyadic, so the FP
    streams agree bit-for-bit.  Seasonal slots index series POSITION,
    not calendar — gaps shift phase (densify first if that matters).
    """
    a, b, g, m = ALPHA, BETA, GAMMA, period
    one = series.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(t_col).alias("t"), F.col(y_col).alias("y")))
        ).alias("s")
    )
    base = one.select(
        F.expr("transform(s, x -> x.t)").alias("ts"),
        F.expr("transform(s, x -> CAST(x.y AS DOUBLE))").alias("ys"),
        F.size("s").alias("n"),
    ).select(
        "ts",
        "ys",
        "n",
        F.expr(
            f"aggregate(slice(ys, 1, {m}), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y) / {m}.0D"
        ).alias("lvl0"),
        F.expr(
            f"aggregate(slice(ys, {m + 1}, {m}), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y) / {m}.0D"
        ).alias("m2"),
    ).select(
        "ts",
        "ys",
        "n",
        "lvl0",
        F.expr(f"(m2 - lvl0) / {m}.0D").alias("tr0"),
        F.expr(f"transform(slice(ys, 1, {m}), y -> y - lvl0)").alias("season0"),
    )
    idx = f"((t - 1) % {m}) + 1"
    sprev = f"element_at(st.season, {idx})"
    new_level = (
        f"{a}D * (element_at(ys, t) - {sprev}) + (1.0D - {a}D) * (st.level + st.trend)"
    )
    st = base.select(
        "ts",
        "ys",
        "n",
        F.expr(
            f"""aggregate(
                sequence({m + 1}, n),
                named_struct(
                    'level', lvl0, 'trend', tr0, 'season', season0,
                    'fits', CAST(array() AS ARRAY<DOUBLE>)),
                (st, t) -> named_struct(
                    'level', {new_level},
                    'trend', {b}D * (({new_level}) - st.level)
                             + (1.0D - {b}D) * st.trend,
                    'season', concat(
                        slice(st.season, 1, (t - 1) % {m}),
                        array({g}D * (element_at(ys, t) - ({new_level}))
                              + (1.0D - {g}D) * {sprev}),
                        slice(st.season, ((t - 1) % {m}) + 2, {m})),
                    'fits', concat(st.fits,
                                   array(st.level + st.trend + {sprev})))
            )"""
        ).alias("st"),
    )
    rows = st.select(
        F.explode(
            F.expr(
                f"""concat(
                    transform(sequence({m + 1}, n), t -> named_struct(
                        't', element_at(ts, t),
                        'kind', 'fit',
                        'y', round(element_at(ys, t), 4),
                        'yhat', round(element_at(st.fits, t - {m}), 4))),
                    transform(sequence(1, {horizon}), h -> named_struct(
                        't', element_at(ts, n) + h,
                        'kind', 'forecast',
                        'y', CAST(NULL AS DOUBLE),
                        'yhat', round(st.level + CAST(h AS DOUBLE) * st.trend
                                      + element_at(st.season, ((n + h - 1) % {m}) + 1),
                                      4)))
                )"""
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.t").alias(t_col),
        F.col("r.kind").alias("kind"),
        F.col("r.y").alias("y"),
        F.col("r.yhat").alias("yhat"),
    ).orderBy(t_col, "kind")


def weekly_revenue_forecast_hw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters seasonal forecast of weekly order revenue (yearly
    seasonality over the 52-week cycle), 7 weeks ahead."""
    return holt_winters_fit(_weekly_order_revenue(spark, sf_dir), "week", "revenue")


def _hw_oracle_sql(period: int = HW_PERIOD, horizon: int = HORIZON) -> str:
    a, b, g, m = ALPHA, BETA, GAMMA, period
    # current step in the recursive arm is r.t + 1 -> seasonal slot
    idx = f"(r.t % {m}) + 1"
    sprev = f"r.season[{idx}]"
    new_level = (
        f"{a}*(a.ys[r.t + 1] - {sprev}) + (1.0 - {a})*(r.level + r.trend)"
    )
    return f"""
        WITH RECURSIVE weekly AS (
            SELECT CAST(FLOOR(date_diff('day', DATE '{_WEEK_EPOCH}',
                                        CAST(o_orderdate AS DATE)) / 7) AS INTEGER) AS week,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
            FROM orders GROUP BY 1
        ), idx AS (
            SELECT week, y, ROW_NUMBER() OVER (ORDER BY week) AS i FROM weekly
        ), arr AS (
            SELECT list(y ORDER BY week)::DOUBLE[] AS ys, COUNT(*) AS n,
                   MAX(week) AS maxw
            FROM weekly
        ), init AS (
            SELECT list_reduce(ys[1:{m}], (acc, y) -> acc + y) / {m}.0 AS lvl0,
                   (list_reduce(ys[{m + 1}:{2 * m}], (acc, y) -> acc + y) / {m}.0
                    - list_reduce(ys[1:{m}], (acc, y) -> acc + y) / {m}.0) / {m}.0 AS tr0,
                   list_transform(ys[1:{m}],
                       y -> y - list_reduce(ys[1:{m}], (acc, y2) -> acc + y2) / {m}.0
                   )::DOUBLE[] AS season0
            FROM arr
        ),
        rec(t, level, trend, season, fitted) AS (
            SELECT {m}, lvl0, tr0, season0, CAST(NULL AS DOUBLE) FROM init
            UNION ALL
            SELECT r.t + 1,
                   {new_level},
                   {b}*(({new_level}) - r.level) + (1.0 - {b})*r.trend,
                   (r.season[1:(r.t % {m})]
                    || [{g}*(a.ys[r.t + 1] - ({new_level})) + (1.0 - {g})*{sprev}]
                    || r.season[((r.t % {m}) + 2):{m}])::DOUBLE[],
                   r.level + r.trend + {sprev}
            FROM rec r, arr a WHERE r.t < a.n
        )
        SELECT d.week, 'fit' AS kind, ROUND(d.y, 4) AS y, ROUND(r.fitted, 4) AS yhat
        FROM rec r JOIN idx d ON d.i = r.t WHERE r.t > {m}
        UNION ALL
        SELECT a.maxw + CAST(h.range AS INTEGER), 'forecast',
               CAST(NULL AS DOUBLE),
               ROUND(r.level + CAST(h.range AS DOUBLE) * r.trend
                     + r.season[((a.n + h.range - 1) % {m}) + 1], 4)
        FROM rec r, arr a, range(1, {horizon + 1}) h
        WHERE r.t = a.n
        ORDER BY week, kind
    """


QUERIES["weekly_revenue_forecast_hw"] = weekly_revenue_forecast_hw
ORACLE_SQL["weekly_revenue_forecast_hw"] = _hw_oracle_sql()


# ---- Mann-Whitney U (rank-sum) test -----------------------------------


def mann_whitney_u(
    df: DataFrame,
    unit_col: str,
    metric_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Two-arm Mann-Whitney U test per group — the nonparametric
    companion to ``welch_t_test`` (rank-based, so heavy-tailed revenue
    distributions can't distort it).

    Ranks are midranks over the pooled arms, kept EXACT by working in
    doubled units: a tie group occupying ranks [lo, hi] has doubled
    midrank lo + hi (an integer), computed from a running count over
    the per-(group, value) aggregate — so rank sums, tie corrections
    (sum of t^3 - t), U, and its null mean/variance are all integer /
    DECIMAL exact; the z statistic is the single DOUBLE step.  Two
    tiny shuffles: the (group, value) aggregate, then the ordered
    window over distinct values per group.
    """
    arm = _arm(F.col(unit_col))
    per_v = (
        df.select(*group_cols, arm.alias("arm"), F.col(metric_col).alias("v"))
        .groupBy(*group_cols, "v")
        .agg(
            F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END")).alias("c_a"),
            F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("c_b"),
        )
        .withColumn("t", F.col("c_a") + F.col("c_b"))
    )
    w = Window.partitionBy(*group_cols).orderBy("v")
    ranked = per_v.withColumn(
        "cum_prev",
        F.coalesce(
            F.sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ),
    ).withColumn("r2", 2 * F.col("cum_prev") + F.col("t") + 1)  # doubled midrank
    g = ranked.groupBy(*group_cols).agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.sum(F.expr("CAST(c_a AS DECIMAL(38,0)) * r2")).alias("r2_a"),
        F.sum(F.expr("CAST(t AS DECIMAL(19,0)) * t * t - t")).alias("ties"),
    )
    out = g.select(
        *group_cols,
        "n_a",
        "n_b",
        F.expr(_MW_U).alias("u_a"),
        F.expr(f"ROUND({_MW_Z}, 6)").alias("z"),
    )
    return out.orderBy(*group_cols) if group_cols else out


# doubled U: U2 = R2_a - n_a*(n_a+1); reported U = U2/2 (exact .5 units)
_MW_U2 = "(CAST(r2_a AS DECIMAL(38,0)) - CAST(n_a AS DECIMAL(19,0)) * (n_a + 1))"
_MW_U = f"(CAST({_MW_U2} AS DOUBLE) / 2.0)"
_MW_N = "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
# var(U) = n_a*n_b/12 * ((N+1) - sum(t^3-t) / (N*(N-1)))
_MW_VAR = (
    f"(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0"
    f" * (({_MW_N} + 1.0) - CAST(ties AS DOUBLE) / ({_MW_N} * ({_MW_N} - 1.0))))"
)
_MW_Z = (
    f"(({_MW_U} - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)"
    f" / sqrt({_MW_VAR}))"
)


def purchase_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank test of per-user total event value between
    the Knuth arms, per event type (micro-quantized values so ties are
    well-defined).  One observation per user x type — same per-unit
    readout rationale as purchase_ab_welch."""
    ev = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias(
                "v_micros"
            )
        )
    )
    return mann_whitney_u(ev, "user_id", "v_micros", ["event_type"])


def _mw_oracle_sql() -> str:
    return f"""
        WITH q AS (
            SELECT event_type,
                   {_arm_sql()} AS arm,
                   CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY event_type, user_id
        ), per_v AS (
            SELECT event_type, v,
                   SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c_a,
                   SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c_b,
                   COUNT(*) AS t
            FROM q GROUP BY event_type, v
        ), ranked AS (
            SELECT *,
                   2 * COALESCE(SUM(t) OVER (PARTITION BY event_type ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1 AS r2
            FROM per_v
        ), g AS (
            SELECT event_type,
                   SUM(c_a) AS n_a, SUM(c_b) AS n_b,
                   SUM(CAST(c_a AS DECIMAL(38,0)) * r2) AS r2_a,
                   SUM(CAST(t AS DECIMAL(19,0)) * t * t - t) AS ties
            FROM ranked GROUP BY event_type
        )
        SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               {_MW_U} AS u_a,
               ROUND({_MW_Z}, 6) AS z
        FROM g ORDER BY event_type
    """


QUERIES["purchase_ab_mannwhitney"] = purchase_ab_mannwhitney
ORACLE_SQL["purchase_ab_mannwhitney"] = _mw_oracle_sql()


# ---- conversion-rate z-test + sample-ratio-mismatch guard -------------


def proportion_z_test(
    units: DataFrame,
    unit_col: str,
    converted_col: str,
) -> DataFrame:
    """Two-arm conversion readout: pooled two-proportion z test plus
    the sample-ratio-mismatch (SRM) chi-square every experiment
    platform runs before trusting its arms.

    ``units`` has one row per unit with 0/1 ``converted_col``.  All
    counts are exact integers from one aggregation; p_a, p_b, z and
    the 1-dof SRM chi2 against the expected 50/50 Knuth split are the
    only DOUBLE expressions.  An SRM chi2 above ~3.84 (p < .05) means
    the assignment itself is broken and the z test is meaningless —
    the guard belongs in the same row as the readout.
    """
    arm = _arm(F.col(unit_col))
    g = units.select(arm.alias("arm"), F.col(converted_col).alias("c")).agg(
        F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END")).alias("n_a"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("n_b"),
        F.sum(F.expr("CASE WHEN arm = 0 THEN c ELSE 0 END")).alias("x_a"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN c ELSE 0 END")).alias("x_b"),
    )
    return g.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        F.expr(f"ROUND({_PZ_P('a')}, 6)").alias("p_a"),
        F.expr(f"ROUND({_PZ_P('b')}, 6)").alias("p_b"),
        F.expr(f"ROUND({_PZ_Z}, 6)").alias("z"),
        F.expr(f"ROUND({_PZ_SRM}, 6)").alias("srm_chi2"),
    )


def _PZ_P(s: str) -> str:
    return f"(CAST(x_{s} AS DOUBLE) / CAST(n_{s} AS DOUBLE))"


_PZ_POOL = "(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
_PZ_SE = (
    f"sqrt({_PZ_POOL} * (1.0 - {_PZ_POOL})"
    f" * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
)
# NULL (not a throw) when every unit converted or none did — the test
# is undefined there and ANSI double division by literal 0.0 raises
_PZ_Z = (
    f"(CASE WHEN {_PZ_SE} > 0.0"
    f" THEN ({_PZ_P('a')} - {_PZ_P('b')}) / {_PZ_SE} END)"
)
_PZ_SRM = (
    "((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)"
    " * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)"
    " / (CAST(n_a + n_b AS DOUBLE) / 2.0)"
    " + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)"
    " * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)"
    " / (CAST(n_a + n_b AS DOUBLE) / 2.0))"
)


def purchase_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-the-user-purchase conversion test between the Knuth arms,
    with the SRM assignment guard; denominators are all active users."""
    ev = load_table(spark, "events", sf_dir)
    units = ev.groupBy("user_id").agg(
        F.max(
            F.expr(
                "CASE WHEN event_type = 'purchase' AND value >= 100 THEN 1 ELSE 0 END"
            )
        ).alias("converted")
    )
    return proportion_z_test(units, "user_id", "converted")


def _conversion_oracle_sql() -> str:
    return f"""
        WITH units AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'purchase' AND value >= 100
                       THEN 1 ELSE 0 END) AS c
            FROM events GROUP BY user_id
        ), g AS (
            SELECT SUM(CASE WHEN {_arm_sql()} = 0 THEN 1 ELSE 0 END) AS n_a,
                   SUM(CASE WHEN {_arm_sql()} = 1 THEN 1 ELSE 0 END) AS n_b,
                   SUM(CASE WHEN {_arm_sql()} = 0 THEN c ELSE 0 END) AS x_a,
                   SUM(CASE WHEN {_arm_sql()} = 1 THEN c ELSE 0 END) AS x_b
            FROM units
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(x_a AS BIGINT) AS x_a, CAST(x_b AS BIGINT) AS x_b,
               ROUND({_PZ_P('a')}, 6) AS p_a,
               ROUND({_PZ_P('b')}, 6) AS p_b,
               ROUND({_PZ_Z}, 6) AS z,
               ROUND({_PZ_SRM}, 6) AS srm_chi2
        FROM g
    """


QUERIES["purchase_ab_conversion"] = purchase_ab_conversion
ORACLE_SQL["purchase_ab_conversion"] = _conversion_oracle_sql()


# ---- autocorrelation function (ACF) -----------------------------------

ACF_MAX_LAG = 14


def acf(
    series: DataFrame,
    t_col: str,
    y_col: str,
    max_lag: int = ACF_MAX_LAG,
) -> DataFrame:
    """Autocorrelation of an integer-valued series at lags 1..max_lag
    — the seasonality detector that tells you WHICH period to hand
    Holt-Winters.

    r_k = sum((x_t - xbar)(x_{t-k} - xbar)) / sum((x_t - xbar)^2),
    computed without ever forming the fractional mean: with S = sum x
    and n the length, each centered term is the INTEGER n*x_t - S, so
    the lag products accumulate in exact DECIMAL(38,0) and r_k is one
    DOUBLE division — bit-identical across engines.  The lag columns
    are max_lag LAG() reads on ONE ordered window over the aggregated
    series (tiny); everything below is the usual one-shuffle rollup.
    """
    totals = series.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(y_col).cast("decimal(38,0)")).alias("s"),
    )
    w = Window.orderBy(t_col)
    lagged = series.crossJoin(F.broadcast(totals)).select(
        F.expr(f"CAST(n AS DECIMAL(19,0)) * {y_col} - s").alias("c0"),
        *[
            (
                F.expr(f"CAST(n AS DECIMAL(19,0)) * lag({y_col}, {k}) OVER"
                       f" (ORDER BY {t_col}) - s")
            ).alias(f"c{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    aggs = [F.sum(F.expr("c0 * c0")).alias("v0")] + [
        F.sum(F.expr(f"c0 * c{k}")).alias(f"v{k}") for k in range(1, max_lag + 1)
    ]
    g = lagged.agg(*aggs)
    stacked = ", ".join(
        f"{k}, ROUND(CAST(v{k} AS DOUBLE) / CAST(v0 AS DOUBLE), 6)"
        for k in range(1, max_lag + 1)
    )
    return g.select(
        F.expr(f"stack({max_lag}, {stacked}) AS (lag, acf)")
    ).orderBy("lag")


def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of daily order revenue at lags 1..14 (the weekly cycle
    shows up as a lag-7 peak)."""
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").alias(
            "cents"
        )
    )
    return acf(daily, "day", "cents")


def _acf_oracle_sql(max_lag: int = ACF_MAX_LAG) -> str:
    lag_cols = ",\n                   ".join(
        f"CAST(n AS DECIMAL(19,0)) * lag(cents, {k}) OVER (ORDER BY day) - s AS c{k}"
        for k in range(1, max_lag + 1)
    )
    v_cols = ", ".join(
        f"SUM(c0 * c{k}) AS v{k}" for k in range(1, max_lag + 1)
    )
    rows = "\n        UNION ALL\n".join(
        f"        SELECT {k} AS lag, ROUND(CAST(v{k} AS DOUBLE) / CAST(v0 AS DOUBLE), 6) AS acf FROM g"
        for k in range(1, max_lag + 1)
    )
    return f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT COUNT(*) AS n, SUM(CAST(cents AS DECIMAL(38,0))) AS s FROM daily
        ), c AS (
            SELECT CAST(n AS DECIMAL(19,0)) * cents - s AS c0,
                   {lag_cols}
            FROM daily, tot
        ), g AS (
            SELECT SUM(c0 * c0) AS v0, {v_cols} FROM c
        )
{rows}
        ORDER BY lag
    """


QUERIES["daily_revenue_acf"] = daily_revenue_acf
ORACLE_SQL["daily_revenue_acf"] = _acf_oracle_sql()


# ---- cross-correlation function (CCF) ----------------------------------

CCF_MAX_LAG = 7


def ccf(
    series: DataFrame,
    t_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = CCF_MAX_LAG,
) -> DataFrame:
    """Cross-correlation of two aligned integer series at lags
    -max_lag..max_lag: r_k correlates x_t with y_{t-k}, so POSITIVE
    lags mean y LEADS x by k periods (and negative the reverse) — the
    does-marketing-precede-revenue detector.

    Same exactness discipline as ``acf``: with Sx/Sy the integer sums
    and n the length, centered terms are the integers n*x - Sx and
    n*y - Sy, every lag product accumulates in exact DECIMAL(38,0),
    and each r_k is one DOUBLE division by the fixed denominator
    sqrt(Sxx~ * Syy~).  One ordered window over the aggregated series.
    """
    totals = series.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x_col).cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col(y_col).cast("decimal(38,0)")).alias("sy"),
    )
    ow = f"OVER (ORDER BY {t_col})"
    cols = [
        F.expr(f"CAST(n AS DECIMAL(19,0)) * {x_col} - sx").alias("cx0"),
        F.expr(f"CAST(n AS DECIMAL(19,0)) * {y_col} - sy").alias("cy0"),
    ]
    for k in range(1, max_lag + 1):
        cols.append(
            F.expr(f"CAST(n AS DECIMAL(19,0)) * lag({y_col}, {k}) {ow} - sy").alias(f"cy{k}")
        )
        cols.append(
            F.expr(f"CAST(n AS DECIMAL(19,0)) * lag({x_col}, {k}) {ow} - sx").alias(f"cx{k}")
        )
    lagged = series.crossJoin(F.broadcast(totals)).select(*cols)
    aggs = [
        F.sum(F.expr("cx0 * cx0")).alias("vx"),
        F.sum(F.expr("cy0 * cy0")).alias("vy"),
        F.sum(F.expr("cx0 * cy0")).alias("c0"),
    ]
    for k in range(1, max_lag + 1):
        aggs.append(F.sum(F.expr(f"cx0 * cy{k}")).alias(f"cp{k}"))   # y leads
        aggs.append(F.sum(F.expr(f"cy0 * cx{k}")).alias(f"cm{k}"))   # x leads
    g = lagged.agg(*aggs)
    den = "sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))"
    entries = [f"0, ROUND(CAST(c0 AS DOUBLE) / {den}, 6)"]
    for k in range(1, max_lag + 1):
        entries.append(f"{k}, ROUND(CAST(cp{k} AS DOUBLE) / {den}, 6)")
        entries.append(f"-{k}, ROUND(CAST(cm{k} AS DOUBLE) / {den}, 6)")
    return g.select(
        F.expr(f"stack({2 * max_lag + 1}, {', '.join(entries)}) AS (lag, ccf)")
    ).orderBy("lag")


def click_purchase_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily click count vs purchase count cross-correlation at lags
    -7..7 (positive lag = purchases lead clicks by that many days)."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).alias("x"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")).alias("y"),
    )
    return ccf(daily, "day", "x", "y")


def _ccf_oracle_sql(max_lag: int = CCF_MAX_LAG) -> str:
    lag_cols = [
        "CAST(n AS DECIMAL(19,0)) * x - sx AS cx0",
        "CAST(n AS DECIMAL(19,0)) * y - sy AS cy0",
    ]
    for k in range(1, max_lag + 1):
        lag_cols.append(
            f"CAST(n AS DECIMAL(19,0)) * lag(y, {k}) OVER (ORDER BY day) - sy AS cy{k}"
        )
        lag_cols.append(
            f"CAST(n AS DECIMAL(19,0)) * lag(x, {k}) OVER (ORDER BY day) - sx AS cx{k}"
        )
    v_cols = ["SUM(cx0 * cx0) AS vx", "SUM(cy0 * cy0) AS vy", "SUM(cx0 * cy0) AS c0"]
    for k in range(1, max_lag + 1):
        v_cols.append(f"SUM(cx0 * cy{k}) AS cp{k}")
        v_cols.append(f"SUM(cy0 * cx{k}) AS cm{k}")
    den = "sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))"
    rows = [f"        SELECT 0 AS lag, ROUND(CAST(c0 AS DOUBLE) / {den}, 6) AS ccf FROM g"]
    for k in range(1, max_lag + 1):
        rows.append(f"        SELECT {k}, ROUND(CAST(cp{k} AS DOUBLE) / {den}, 6) FROM g")
        rows.append(f"        SELECT -{k}, ROUND(CAST(cm{k} AS DOUBLE) / {den}, 6) FROM g")
    nl = ",\n                   "
    body = "\n        UNION ALL\n".join(rows)
    return f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
            FROM events GROUP BY 1
        ), tot AS (
            SELECT COUNT(*) AS n,
                   SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(y AS DECIMAL(38,0))) AS sy
            FROM daily
        ), c AS (
            SELECT {nl.join(lag_cols)}
            FROM daily, tot
        ), g AS (
            SELECT {", ".join(v_cols)} FROM c
        )
{body}
        ORDER BY lag
    """


QUERIES["click_purchase_ccf"] = click_purchase_ccf
ORACLE_SQL["click_purchase_ccf"] = _ccf_oracle_sql()


# ---- distributed time-series similarity search ------------------------
#
# The data-series search shape (Odyssey VLDB'23 / REPOSE ICDE'21,
# public): candidate GENERATION through a lower-bounding summary (PAA —
# piecewise aggregate approximation), then exact VERIFICATION only of
# series the bound cannot prune.  All arithmetic is exact integers
# (cent-quantized daily sums), so distances are engine-reproducible and
# pruning is provably lossless:
#
#   dist(a, b)    = sum_d (a_d - b_d)^2           over n_days buckets
#   lb_paa(a, b)  = w * sum_s (A_s - B_s)^2 / w^2 ... using SUM-PAA:
#
# with A_s = sum of a over segment s (w days), Cauchy-Schwarz gives
# sum_{d in s} (a_d - b_d)^2 >= (A_s - B_s)^2 / w, so
# LB = ceil(sum_s (A_s - B_s)^2 / w) <= dist — an integer lower bound.

SERIES_DAYS = 28          # aligned 4-week window from the epoch
SERIES_SEGMENTS = 7       # PAA segments (4 days each)
SERIES_TOP_K = 10


def _daily_series(
    df: DataFrame,
    id_col: str,
    t_col: str,
    v_col: str,
    n_days: int,
) -> DataFrame:
    """(id, s: array<bigint>) — cent-quantized per-day sums aligned to
    days [0, n_days) from the epoch, zero-filled.  One shuffle on the
    id; the dense array comes from a map lookup over the day sequence
    (no pivot, no per-day columns)."""
    daily = (
        df.select(
            F.col(id_col).alias("sid"),
            F.datediff(F.to_date(t_col), F.lit(_WEEK_EPOCH).cast("date")).alias("d"),
            F.expr(f"CAST(floor({v_col} * 100) AS BIGINT)").alias("cents"),
        )
        .where((F.col("d") >= 0) & (F.col("d") < n_days))
        .groupBy("sid", "d")
        .agg(F.sum("cents").alias("c"))
    )
    return (
        daily.groupBy("sid")
        .agg(F.map_from_entries(F.collect_list(F.struct("d", "c"))).alias("m"))
        .select(
            "sid",
            F.expr(
                f"transform(sequence(0, {n_days - 1}),"
                " d -> coalesce(element_at(m, d), CAST(0 AS BIGINT)))"
            ).alias("s"),
        )
    )


def series_topk_similarity(
    df: DataFrame,
    id_col: str,
    t_col: str,
    v_col: str,
    query_id: int,
    k: int = SERIES_TOP_K,
    n_days: int = SERIES_DAYS,
    n_segments: int = SERIES_SEGMENTS,
    refine_m: int = 64,
) -> DataFrame:
    """Top-k most-similar series to ``query_id``'s, LOSSLESS two-stage:

    1. broadcast the query series; compute every candidate's integer
       PAA lower bound (cheap: n_segments adds per row);
    2. refine the ``refine_m`` smallest bounds exactly -> threshold
       sigma = k-th smallest exact distance seen;
    3. refine every remaining candidate whose bound is <= sigma (the
       bound is a true lower bound, so anything pruned cannot beat the
       k-th result — exactness holds for any refine_m >= k).

    At 100 TB stage 1 touches each series once with no shuffle (query
    broadcast); stages 2+3 refine a bound-limited candidate set.
    Returns (id, dist) = exact integer squared cent distance, ascending
    (ties by id).
    """
    w = n_days // n_segments
    series = _daily_series(df, id_col, t_col, v_col, n_days).localCheckpoint()
    qrow = F.broadcast(
        series.where(F.col("sid") == query_id).select(F.col("s").alias("qs"))
    )
    paa = (
        f"transform(sequence(0, {n_segments - 1}),"
        f" g -> aggregate(slice({{0}}, g * {w} + 1, {w}),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x))"
    )
    lb_expr = (
        f"CAST(ceil(aggregate(zip_with({paa.format('s')}, {paa.format('qs')},"
        " (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT),"
        f" (acc, x) -> acc + x) / {w}.0) AS BIGINT)"
    )
    dist_expr = (
        "aggregate(zip_with(s, qs, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    cand = (
        series.where(F.col("sid") != query_id)
        .crossJoin(qrow)
        .select("sid", "s", "qs", F.expr(lb_expr).alias("lb"))
        .localCheckpoint()  # bounds reused by both refine passes
    )
    seed = (
        cand.orderBy(F.asc("lb"), F.asc("sid"))
        .limit(refine_m)
        .select("sid", F.expr(dist_expr).alias("dist"))
        .orderBy(F.asc("dist"), F.asc("sid"))
        .limit(k)
    )
    sigma_df = F.broadcast(seed.agg(F.max("dist").alias("sigma")))
    survivors = (
        cand.crossJoin(sigma_df)
        .where(F.col("lb") <= F.col("sigma"))
        .select("sid", F.expr(dist_expr).alias("dist"))
    )
    return (
        survivors.orderBy(F.asc("dist"), F.asc("sid"))
        .limit(k)
        .select(F.col("sid").alias(id_col), "dist")
    )


def user_series_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the 10 users whose 4-week daily purchase-revenue
    shape is closest to user 0's (exact integer squared cent
    distance)."""
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type") == "purchase"
    )
    return series_topk_similarity(ev, "user_id", "ts", "value", query_id=0)


def _series_topk_oracle_sql() -> str:
    """Independent exact algorithm: brute-force distance over the same
    aligned series — no PAA, no pruning — so the oracle also PROVES the
    two-stage bound is lossless at sf0.01."""
    n, k = SERIES_DAYS, SERIES_TOP_K
    return f"""
        WITH daily AS (
            SELECT user_id AS sid,
                   date_diff('day', DATE '{_WEEK_EPOCH}', CAST(ts AS DATE)) AS d,
                   SUM(CAST(floor(value * 100) AS BIGINT)) AS c
            FROM events
            WHERE event_type = 'purchase'
              AND date_diff('day', DATE '{_WEEK_EPOCH}', CAST(ts AS DATE)) >= 0
              AND date_diff('day', DATE '{_WEEK_EPOCH}', CAST(ts AS DATE)) < {n}
            GROUP BY 1, 2
        ), m AS (
            SELECT sid, map_from_entries(list(row(d, c))) AS mp FROM daily GROUP BY sid
        ), series AS (
            SELECT sid,
                   list_transform(range(0, {n}),
                       d -> coalesce(map_extract(mp, d)[1], CAST(0 AS BIGINT))) AS s
            FROM m
        ), q AS (
            SELECT s AS qs FROM series WHERE sid = 0
        )
        SELECT c.sid AS user_id,
               CAST(list_sum(list_transform(range(1, {n} + 1),
                    i -> (c.s[i] - q.qs[i]) * (c.s[i] - q.qs[i]))) AS BIGINT) AS dist
        FROM series c, q
        WHERE c.sid != 0
        ORDER BY dist ASC, user_id ASC
        LIMIT {k}
    """


QUERIES["user_series_topk"] = user_series_topk
ORACLE_SQL["user_series_topk"] = _series_topk_oracle_sql()


# ---- conformal forecast intervals ------------------------------------

CONF_LEVEL_PCT = 90  # nominal interval coverage


def conformal_intervals(
    fitdf: DataFrame,
    t_col: str,
    level_pct: int = CONF_LEVEL_PCT,
) -> DataFrame:
    """Split-conformal prediction intervals around a point forecast:
    the calibration set is the model's own one-step-ahead fit
    residuals, the interval half-width q is the ceil((n+1)*level/100)
    -th smallest |residual| (the finite-sample-valid conformal rank —
    no distributional assumption, works for ANY point forecaster),
    and every forecast row gets [yhat - q, yhat + q].

    Deterministic by construction: the rank is integer arithmetic and
    the residuals come from the already-rounded (y, yhat) columns, so
    the whole table is value-identical across engines.  The residual
    sort collapses to one calendar-bounded row (same contract as the
    Holt fold itself).  Also emits the achieved calibration coverage
    in ppm — by conformal validity it is >= the nominal level.
    """
    fits = fitdf.where(F.col("kind") == "fit").select(
        F.abs(F.col("y") - F.col("yhat")).alias("r")
    )
    cal = fits.agg(
        F.sort_array(F.collect_list("r")).alias("rs"),
        F.count(F.lit(1)).alias("n_cal"),
    ).select(
        "n_cal",
        F.expr(
            f"element_at(rs, CAST(least(n_cal,"
            f" ((n_cal + 1) * {level_pct} + 99) div 100) AS INT))"
        ).alias("q"),
        F.expr(
            f"""(aggregate(rs, 0L, (acc, x) -> acc + CASE WHEN x <= element_at(
                rs, CAST(least(n_cal, ((n_cal + 1) * {level_pct} + 99) div 100) AS INT))
                THEN 1L ELSE 0L END) * 1000000) div n_cal"""
        ).alias("cov_ppm"),
    )
    fc = fitdf.where(F.col("kind") == "forecast")
    return (
        fc.crossJoin(F.broadcast(cal))
        .select(
            t_col,
            "yhat",
            F.round(F.col("yhat") - F.col("q"), 4).alias("lo"),
            F.round(F.col("yhat") + F.col("q"), 4).alias("hi"),
            F.round("q", 4).alias("q"),
            "n_cal",
            "cov_ppm",
        )
    )


def weekly_forecast_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: 90% split-conformal intervals around the Holt
    weekly revenue forecast."""
    fit = weekly_revenue_forecast(spark, sf_dir)
    return conformal_intervals(fit, "week").orderBy("week")


def _conformal_oracle_sql(horizon: int = HORIZON, level_pct: int = CONF_LEVEL_PCT) -> str:
    a, b = ALPHA, BETA
    new_level = f"{a}*d.y + (1.0 - {a})*(r.level + r.trend)"
    return f"""
        WITH RECURSIVE weekly AS (
            SELECT CAST(FLOOR(date_diff('day', DATE '{_WEEK_EPOCH}',
                                        CAST(o_orderdate AS DATE)) / 7) AS INTEGER) AS week,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
            FROM orders GROUP BY 1
        ), idx AS (
            SELECT week, y, ROW_NUMBER() OVER (ORDER BY week) AS i FROM weekly
        ), np AS (SELECT COUNT(*) AS n FROM idx),
        rec(i, level, trend, fitted) AS (
            SELECT 1,
                   (SELECT y FROM idx WHERE i = 1),
                   (SELECT y FROM idx WHERE i = 2) - (SELECT y FROM idx WHERE i = 1),
                   CAST(NULL AS DOUBLE)
            UNION ALL
            SELECT r.i + 1,
                   {new_level},
                   {b}*(({new_level}) - r.level) + (1.0 - {b})*r.trend,
                   r.level + r.trend
            FROM rec r JOIN idx d ON d.i = r.i + 1
        ), resid AS (
            SELECT ABS(ROUND(d.y, 4) - ROUND(r.fitted, 4)) AS res
            FROM rec r JOIN idx d ON d.i = r.i WHERE r.i >= 2
        ), cal AS (
            SELECT COUNT(*) AS n_cal FROM resid
        ), ranked AS (
            SELECT res, ROW_NUMBER() OVER (ORDER BY res) AS rk FROM resid
        ), qv AS (
            SELECT res AS q FROM ranked, cal
            WHERE rk = LEAST(n_cal, ((n_cal + 1) * {level_pct} + 99) // 100)
        ), cov AS (
            SELECT CAST((SUM(CASE WHEN res <= (SELECT q FROM qv) THEN 1 ELSE 0 END)
                   * 1000000) // (SELECT n_cal FROM cal) AS BIGINT) AS cov_ppm
            FROM resid
        )
        SELECT (SELECT MAX(week) FROM idx) + CAST(h.range AS INTEGER) AS week,
               ROUND(r.level + CAST(h.range AS DOUBLE) * r.trend, 4) AS yhat,
               ROUND(ROUND(r.level + CAST(h.range AS DOUBLE) * r.trend, 4)
                     - (SELECT q FROM qv), 4) AS lo,
               ROUND(ROUND(r.level + CAST(h.range AS DOUBLE) * r.trend, 4)
                     + (SELECT q FROM qv), 4) AS hi,
               ROUND((SELECT q FROM qv), 4) AS q,
               (SELECT CAST(n_cal AS BIGINT) FROM cal) AS n_cal,
               (SELECT cov_ppm FROM cov) AS cov_ppm
        FROM rec r, range(1, {horizon + 1}) h
        WHERE r.i = (SELECT n FROM np)
        ORDER BY week
    """


QUERIES["weekly_forecast_conformal"] = weekly_forecast_conformal
ORACLE_SQL["weekly_forecast_conformal"] = _conformal_oracle_sql()


# ---- group-sequential A/B monitoring ---------------------------------

OBF_C = 2.04  # O'Brien-Fleming constant (published tables: K=5, alpha=0.05)


def purchase_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential conversion monitoring between the Knuth arms:
    one analysis per WEEK on the cumulative counts, each z compared to
    the O'Brien-Fleming boundary  C / sqrt(k / K)  — wide early, ~C at
    the final look — so the experiment can stop early for a real
    effect without inflating false positives the way repeated
    fixed-horizon peeking does.

    A user enters the denominator at their FIRST event week and the
    numerator at their first qualifying purchase week; cumulative
    per-week counts are exact integers from one aggregation + a
    running window, and z reuses the pooled two-proportion formula of
    the fixed-horizon face.  K is the observed number of weekly looks
    (fixed by the experiment calendar, not by data volume).
    """
    ev = load_table(spark, "events", sf_dir)
    week = (
        F.floor(
            F.datediff(F.to_date("ts"), F.lit(_WEEK_EPOCH).cast("date")) / 7
        ).cast("int")
    )
    units = ev.groupBy("user_id").agg(
        F.min(week).alias("enter_week"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 100), week
            )
        ).alias("conv_week"),
    ).withColumn("arm", _arm(F.col("user_id")))
    weeks = ev.select(week.alias("k")).distinct()
    enters = units.groupBy("enter_week", "arm").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    convs = (
        units.where(F.col("conv_week").isNotNull())
        .groupBy("conv_week", "arm")
        .agg(F.count(F.lit(1)).alias("x_new"))
    )
    w = Window.partitionBy().orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        weeks.join(
            enters.groupBy("enter_week").pivot("arm", [0, 1]).sum("n_new")
            .select(F.col("enter_week").alias("k"),
                    F.coalesce("0", F.lit(0)).alias("en_a"),
                    F.coalesce("1", F.lit(0)).alias("en_b")),
            "k", "left")
        .join(
            convs.groupBy("conv_week").pivot("arm", [0, 1]).sum("x_new")
            .select(F.col("conv_week").alias("k"),
                    F.coalesce("0", F.lit(0)).alias("cv_a"),
                    F.coalesce("1", F.lit(0)).alias("cv_b")),
            "k", "left")
        .na.fill(0)
        .withColumn("n_a", F.sum("en_a").over(w))
        .withColumn("n_b", F.sum("en_b").over(w))
        .withColumn("x_a", F.sum("cv_a").over(w))
        .withColumn("x_b", F.sum("cv_b").over(w))
        .withColumn("look", F.row_number().over(Window.orderBy("k")))
    )
    total = cum.agg(F.count(F.lit(1)).alias("n_looks"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "k",
            F.col("look").cast("int").alias("look"),
            "n_a", "n_b", "x_a", "x_b",
            F.round(F.expr(_PZ_Z), 6).alias("z"),
            F.round(
                F.expr(f"{OBF_C} / sqrt(CAST(look AS DOUBLE) / CAST(n_looks AS DOUBLE))"),
                6,
            ).alias("bound"),
            (F.abs(F.round(F.expr(_PZ_Z), 6))
             > F.round(
                 F.expr(f"{OBF_C} / sqrt(CAST(look AS DOUBLE) / CAST(n_looks AS DOUBLE))"),
                 6,
             )).alias("crossed"),
        )
        .orderBy("k")
    )


def _sequential_oracle_sql() -> str:
    return f"""
        WITH week_of AS (
            SELECT user_id, event_type, value,
                   CAST(FLOOR(date_diff('day', DATE '{_WEEK_EPOCH}',
                        CAST(ts AS DATE)) / 7) AS INTEGER) AS wk
            FROM events
        ), units AS (
            SELECT user_id, MIN(wk) AS enter_week,
                   MIN(CASE WHEN event_type = 'purchase' AND value >= 100
                       THEN wk END) AS conv_week,
                   {_arm_sql()} AS arm
            FROM week_of GROUP BY user_id
        ), weeks AS (
            SELECT DISTINCT wk AS k FROM week_of
        ), cum AS (
            SELECT k,
                   ROW_NUMBER() OVER (ORDER BY k) AS look,
                   (SELECT COUNT(*) FROM units u WHERE u.enter_week <= k AND u.arm = 0) AS n_a,
                   (SELECT COUNT(*) FROM units u WHERE u.enter_week <= k AND u.arm = 1) AS n_b,
                   (SELECT COUNT(*) FROM units u WHERE u.conv_week <= k AND u.arm = 0) AS x_a,
                   (SELECT COUNT(*) FROM units u WHERE u.conv_week <= k AND u.arm = 1) AS x_b
            FROM weeks
        ), tot AS (SELECT COUNT(*) AS n_looks FROM cum)
        SELECT k, CAST(look AS INTEGER) AS look,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(x_a AS BIGINT) AS x_a, CAST(x_b AS BIGINT) AS x_b,
               ROUND({_PZ_Z}, 6) AS z,
               ROUND({OBF_C} / sqrt(CAST(look AS DOUBLE) / CAST(n_looks AS DOUBLE)), 6) AS bound,
               ABS(ROUND({_PZ_Z}, 6))
                 > ROUND({OBF_C} / sqrt(CAST(look AS DOUBLE) / CAST(n_looks AS DOUBLE)), 6) AS crossed
        FROM cum, tot
        ORDER BY k
    """


QUERIES["purchase_ab_sequential"] = purchase_ab_sequential
ORACLE_SQL["purchase_ab_sequential"] = _sequential_oracle_sql()


def nelson_aalen(
    spans: DataFrame, t_col: str = "duration", event_col: str = "event"
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over (duration, event)
    spans: H(t) = sum_{t_i <= t} d_i / n_i — the additive companion of
    Kaplan-Meier (H estimates total accumulated risk; its slope reads
    the hazard RATE per period, where S(t) reads survival
    probability).  Exact integer (d, n_risk) per distinct duration,
    one running-sum window over calendar-bounded rows; the ratio sums
    are double but order-fixed (ordered window), so value-identical
    across engines.  The (d, n_risk) rows are ``_risk_table``'s, the
    one risk table km_survival reads too.
    """
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        _risk_table(spans, t_col, event_col)
        .select(
            "t",
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("d"),
            F.round(
                F.sum(
                    F.col("d").cast("double") / F.col("n_risk").cast("double")
                ).over(wc),
                6,
            ).alias("cum_hazard"),
        )
        .orderBy("t")
    )


def user_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: Nelson-Aalen cumulative churn hazard over the
    ``_churn_spans`` censored lifetimes, the KM face's input."""
    return nelson_aalen(_churn_spans(spark, sf_dir))


def _na_oracle_sql() -> str:
    gap_us = CHURN_GAP_DAYS * 86_400_000_000
    return f"""
        WITH spans AS (
            SELECT (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000 AS duration,
                   CASE WHEN MAX(epoch_us(ts)) <=
                        (SELECT MAX(epoch_us(ts)) FROM events) - {gap_us}
                        THEN 1 ELSE 0 END AS event
            FROM events GROUP BY user_id
        ), per_t AS (
            SELECT duration AS t, COUNT(*) AS c, SUM(event) AS d
            FROM spans GROUP BY duration
        ), risk AS (
            SELECT t, d,
                   (SELECT SUM(c) FROM per_t)
                   - COALESCE(SUM(c) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
            FROM per_t
        )
        SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
               ROUND(SUM(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW), 6) AS cum_hazard
        FROM risk WHERE d > 0 ORDER BY t
    """


QUERIES["user_churn_hazard"] = user_churn_hazard
ORACLE_SQL["user_churn_hazard"] = _na_oracle_sql()


def churn_ab_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of the churn survival curves between the Knuth
    arms — the canonical censored-data A/B readout (a mean or
    conversion rate throws censored lifetimes away; log-rank compares
    the entire hazard history).  At each event time t with d events
    out of n at risk: O_a += d_a, E_a += n_a*d/n, V += hypergeometric
    variance n_a*n_b*d*(n-d)/(n^2*(n-1)); chi2 = (O_a-E_a)^2/V with
    1 df.  Risk sets are exact integers from running windows over the
    calendar-bounded risk table; the O/E/V sums are order-independent
    (plain SUM of per-t doubles), one row out.
    """
    spans = (
        _churn_spans(spark, sf_dir)
        .withColumnRenamed("duration", "t")
        .withColumn("arm", _arm(F.col("user_id")))
    )
    per_t = spans.groupBy("t").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("event").alias("d"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("event")).otherwise(0)).alias("d_a"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    totals = per_t.agg(
        F.sum("c").alias("n_all"), F.sum("c_a").alias("n_all_a")
    )
    risk = (
        per_t.crossJoin(F.broadcast(totals))
        .withColumn("n", F.col("n_all") - F.coalesce(F.sum("c").over(w), F.lit(0)))
        .withColumn(
            "n_a", F.col("n_all_a") - F.coalesce(F.sum("c_a").over(w), F.lit(0))
        )
        .where((F.col("d") > 0) & (F.col("n") > 1))
    )
    stats = risk.agg(
        F.sum("d_a").cast("bigint").alias("o_a"),
        F.sum(
            F.col("n_a").cast("double") * F.col("d") / F.col("n")
        ).alias("e_a"),
        F.sum(
            F.col("n_a").cast("double")
            * (F.col("n") - F.col("n_a"))
            * F.col("d")
            * (F.col("n") - F.col("d"))
            / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
        ).alias("v"),
    )
    return stats.select(
        "o_a",
        F.round("e_a", 6).alias("e_a"),
        F.round("v", 6).alias("v"),
        F.round(
            F.expr(
                "CASE WHEN v > 0.0D THEN (CAST(o_a AS DOUBLE) - e_a)"
                " * (CAST(o_a AS DOUBLE) - e_a) / v END"
            ),
            6,
        ).alias("chi2"),
    )


def _logrank_oracle_sql() -> str:
    gap_us = CHURN_GAP_DAYS * 86_400_000_000
    return f"""
        WITH spans AS (
            SELECT user_id,
                   (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000 AS t,
                   CASE WHEN MAX(epoch_us(ts)) <=
                        (SELECT MAX(epoch_us(ts)) FROM events) - {gap_us}
                        THEN 1 ELSE 0 END AS event,
                   {_arm_sql()} AS arm
            FROM events GROUP BY user_id
        ), per_t AS (
            SELECT t, COUNT(*) AS c, SUM(event) AS d,
                   SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c_a,
                   SUM(CASE WHEN arm = 0 THEN event ELSE 0 END) AS d_a
            FROM spans GROUP BY t
        ), risk AS (
            SELECT t, d, d_a,
                   (SELECT SUM(c) FROM per_t)
                   - COALESCE(SUM(c) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
                   (SELECT SUM(c_a) FROM per_t)
                   - COALESCE(SUM(c_a) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_a
            FROM per_t
        ), f AS (
            SELECT * FROM risk WHERE d > 0 AND n > 1
        ), s AS (
            SELECT CAST(SUM(d_a) AS BIGINT) AS o_a,
                   SUM(CAST(n_a AS DOUBLE) * d / n) AS e_a,
                   SUM(CAST(n_a AS DOUBLE) * (n - n_a) * d * (n - d)
                       / (CAST(n AS DOUBLE) * n * (n - 1))) AS v
            FROM f
        )
        SELECT o_a, ROUND(e_a, 6) AS e_a, ROUND(v, 6) AS v,
               ROUND(CASE WHEN v > 0.0 THEN (CAST(o_a AS DOUBLE) - e_a)
                     * (CAST(o_a AS DOUBLE) - e_a) / v END, 6) AS chi2
        FROM s
    """


QUERIES["churn_ab_logrank"] = churn_ab_logrank
ORACLE_SQL["churn_ab_logrank"] = _logrank_oracle_sql()


# ---- classical seasonal decomposition ---------------------------------


def seasonal_decompose(
    daily: DataFrame,
    x_col: str = "x",
    cents_col: str = "cents",
    period_cols: list[str] | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    STL ancestor): trend = centered 7-day RANGE moving average over the
    calendar index (gaps shrink to edge rows, which are dropped — only
    FULL windows emit), seasonal = per-period mean of the detrended
    series, residual = detrended - seasonal.  Complements Holt-Winters
    (forecasting) with the decomposition READOUT analysts chart.

    Exactness: input is exact integer cents on a day index; the
    detrended series is kept as the exact integer 7*cents - sum7
    (cents x7, no division), so the seasonal means are one double
    division of exact integer sums and every output column is one
    rounded double expression — engine-portable.

    Scale: the daily frame is calendar-bounded (a decade is ~3.7k
    rows), so the unpartitioned RANGE window is a bounded single
    partition by contract, same as the percentile-band and rolling
    windows.  For per-key decomposition, partition the window by the
    key columns via ``period_cols``-style composition upstream.
    """
    w = Window.orderBy(x_col).rangeBetween(-3, 3)
    t = (
        daily.withColumn("sum7", F.sum(cents_col).over(w))
        .withColumn("n7", F.count(F.lit(1)).over(w))
        .where(F.col("n7") == 7)
        .withColumn("dt7", 7 * F.col(cents_col) - F.col("sum7"))
    )
    keys = period_cols or ["dow"]
    seas = t.groupBy(*keys).agg(
        F.round(
            F.sum("dt7").cast("double") / (F.count(F.lit(1)) * 700.0), 6
        ).alias("seasonal")
    )
    return t.join(seas, keys).select(
        *daily.columns,
        F.round(F.col(cents_col).cast("double") / 100.0, 2).alias("revenue"),
        F.round(F.col("sum7").cast("double") / 700.0, 6).alias("trend"),
        "seasonal",
        F.round(
            F.col("dt7").cast("double") / 700.0 - F.col("seasonal"), 6
        ).alias("residual"),
    )


def daily_revenue_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: trend/seasonal/residual decomposition of daily
    order revenue (day-of-week period)."""
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("x"),
        F.dayofweek("o_orderdate").alias("dow"),
    ).agg(
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").alias(
            "cents"
        )
    )
    out = seasonal_decompose(daily)
    return out.select(
        "day", "dow", "revenue", "trend", "seasonal", "residual"
    ).orderBy("day")


def _decompose_oracle_sql() -> str:
    return """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
                   dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
            FROM orders GROUP BY 1, 2, 3
        ), t AS (
            SELECT *,
                   CAST(SUM(cents) OVER w AS BIGINT) AS sum7,
                   COUNT(*) OVER w AS n7
            FROM daily
            WINDOW w AS (ORDER BY x RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), full_t AS (
            SELECT *, 7 * cents - sum7 AS dt7 FROM t WHERE n7 = 7
        ), seas AS (
            SELECT dow,
                   ROUND(CAST(CAST(SUM(dt7) AS BIGINT) AS DOUBLE)
                         / (COUNT(*) * 700.0), 6) AS seasonal
            FROM full_t GROUP BY 1
        )
        SELECT f.day, f.dow,
               ROUND(CAST(f.cents AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND(CAST(f.sum7 AS DOUBLE) / 700.0, 6) AS trend,
               s.seasonal,
               ROUND(CAST(f.dt7 AS DOUBLE) / 700.0 - s.seasonal, 6) AS residual
        FROM full_t f JOIN seas s USING (dow)
        ORDER BY f.day
    """


QUERIES["daily_revenue_decompose"] = daily_revenue_decompose
ORACLE_SQL["daily_revenue_decompose"] = _decompose_oracle_sql()


# ---- difference-in-differences ----------------------------------------

DID_CUT = "2024-01-16"  # pre/post boundary (events span 2024-01)


def diff_in_diff(
    df: DataFrame,
    unit_col: str,
    ts_col: str,
    value_col: str,
    cut: str = DID_CUT,
) -> DataFrame:
    """Difference-in-differences with Welch inference: each unit's
    exact micro-quantized (post - pre) value change is the observation,
    arms come from the deterministic Knuth split, and the DiD estimate
    is mean_diff(B) - mean_diff(A) with the unequal-variance t-test on
    the per-unit diffs — the unit-level aggregation washes out every
    time-invariant unit effect, which is the whole DiD identification
    argument.  One scan, one groupBy on the unit, then the audited
    ``welch_t_test`` moment machinery (exact DECIMAL sums, single
    double expressions).
    """
    micro = f"CAST(floor({value_col} * 1000000) AS BIGINT)"
    per_unit = df.groupBy(unit_col).agg(
        F.sum(
            F.expr(f"CASE WHEN {ts_col} < TIMESTAMP '{cut}' THEN {micro} ELSE 0 END")
        ).alias("pre"),
        F.sum(
            F.expr(f"CASE WHEN {ts_col} >= TIMESTAMP '{cut}' THEN {micro} ELSE 0 END")
        ).alias("post"),
    )
    diffs = per_unit.select(
        unit_col, (F.col("post") - F.col("pre")).alias("d")
    )
    w = welch_t_test(diffs, unit_col, "d", [])
    return w.select(
        "n_a",
        "n_b",
        F.col("mean_a").alias("mean_diff_a"),
        F.col("mean_b").alias("mean_diff_b"),
        F.round(F.col("mean_b") - F.col("mean_a"), 6).alias("did"),
        "t_stat",
        "dof",
    )


def purchase_ab_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: DiD of per-user total event value across the
    mid-month cut between the two Knuth arms (a null test on synthetic
    data: the estimate should sit within noise of zero)."""
    ev = load_table(spark, "events", sf_dir)
    return diff_in_diff(ev, "user_id", "ts", "value")


def _did_oracle_sql() -> str:
    micro = "CAST(floor(value * 1000000) AS BIGINT)"
    return f"""
        WITH per_unit AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{DID_CUT}'
                            THEN {micro} ELSE 0 END) AS BIGINT) AS pre,
                   CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '{DID_CUT}'
                            THEN {micro} ELSE 0 END) AS BIGINT) AS post
            FROM events GROUP BY 1
        ), diffs AS (
            SELECT user_id, {_arm_sql()} AS arm, post - pre AS d
            FROM per_unit
        ), g AS (
            SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                   SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
                   SUM(CASE WHEN arm = 0 THEN CAST(d AS DECIMAL(38,0)) ELSE 0 END) AS sx_a,
                   SUM(CASE WHEN arm = 1 THEN CAST(d AS DECIMAL(38,0)) ELSE 0 END) AS sx_b,
                   SUM(CASE WHEN arm = 0 THEN CAST(d AS DECIMAL(19,0)) * d ELSE 0 END) AS sxx_a,
                   SUM(CASE WHEN arm = 1 THEN CAST(d AS DECIMAL(19,0)) * d ELSE 0 END) AS sxx_b
            FROM diffs
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND({_MEAN('a')} / 1000000.0, 6) AS mean_diff_a,
               ROUND({_MEAN('b')} / 1000000.0, 6) AS mean_diff_b,
               ROUND(ROUND({_MEAN('b')} / 1000000.0, 6)
                     - ROUND({_MEAN('a')} / 1000000.0, 6), 6) AS did,
               ROUND({_T_STAT}, 6) AS t_stat,
               ROUND({_WELCH_DOF}, 6) AS dof
        FROM g
    """


QUERIES["purchase_ab_did"] = purchase_ab_did
ORACLE_SQL["purchase_ab_did"] = _did_oracle_sql()


# ---- Mann-Kendall trend test ------------------------------------------


def mann_kendall(
    df: DataFrame, key_cols: list[str], x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Per-group Mann-Kendall nonparametric trend test — the
    significance companion to ``theil_sen_trend``'s slope: S = sum of
    sign(y_j - y_i) over ordered pairs, Var(S) with the tie
    correction, z with the +/-1 continuity shift.  All pair counts and
    tie terms are exact integers (the y inputs are micro-quantized by
    contract); z is one double expression.  Same O(d^2)-per-group
    pair-join shape as Theil-Sen: for PRE-AGGREGATED calendar series.
    """
    pts = df.select(*key_cols, x_col, y_col)
    a, b = pts.alias("a"), pts.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    cond.append(F.col(f"a.{x_col}") < F.col(f"b.{x_col}"))
    s = (
        a.join(b, cond)
        .groupBy(*[F.col(f"a.{k}").alias(k) for k in key_cols])
        .agg(
            F.sum(
                F.signum(
                    (F.col(f"b.{y_col}") - F.col(f"a.{y_col}")).cast("double")
                ).cast("long")
            ).alias("s"),
        )
    )
    ties = (
        pts.groupBy(*key_cols, y_col)
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy(*key_cols)
        .agg(
            F.sum("t").alias("n"),
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).alias("tie_term"),
        )
    )
    var = "(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)"
    z = (
        f"CASE WHEN s > 0 THEN (s - 1) / sqrt({var}) "
        f"WHEN s < 0 THEN (s + 1) / sqrt({var}) ELSE CAST(0.0 AS DOUBLE) END"
    )
    return s.join(ties, key_cols).select(
        *key_cols,
        "n",
        "s",
        F.round(F.expr(var), 6).alias("var_s"),
        F.round(F.expr(z), 6).alias("z"),
        (F.abs(F.expr(z)) > 1.959964).alias("trend_05"),
    )


def daily_revenue_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: is there a monotone trend in daily order revenue?
    One-group MK over the exact-cents calendar series."""
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("x")
    ).agg(
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").alias(
            "y"
        )
    ).withColumn("series", F.lit("daily_revenue"))
    return mann_kendall(daily, ["series"]).orderBy("series")


def _mannkendall_oracle_sql() -> str:
    var = "(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)"
    z = (
        f"CASE WHEN s > 0 THEN (s - 1) / sqrt({var}) "
        f"WHEN s < 0 THEN (s + 1) / sqrt({var}) ELSE 0.0 END"
    )
    return f"""
        WITH daily AS (
            SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
            FROM orders GROUP BY 1
        ), sgn AS (
            SELECT CAST(SUM(CAST(sign(CAST(b.y - a.y AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
            FROM daily a JOIN daily b ON a.x < b.x
        ), ties AS (
            SELECT CAST(SUM(t) AS BIGINT) AS n,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
            FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)
        )
        SELECT 'daily_revenue' AS series, n, s,
               ROUND({var}, 6) AS var_s,
               ROUND({z}, 6) AS z,
               abs({z}) > 1.959964 AS trend_05
        FROM sgn CROSS JOIN ties
    """


QUERIES["daily_revenue_mannkendall"] = daily_revenue_mannkendall
ORACLE_SQL["daily_revenue_mannkendall"] = _mannkendall_oracle_sql()


# ---- uplift / Qini curve ----------------------------------------------

QINI_BINS = 10


def qini_curve(
    units: DataFrame,
    score_col: str,
    arm_col: str,
    outcome_col: str,
    n_bins: int = QINI_BINS,
) -> DataFrame:
    """Qini curve over a targeting score: units ranked by score
    (descending, id tie-break), cut into rank bins, and per cumulative
    bin the incremental conversions
    qini = Y_t - Y_c * N_t / N_c — the uplift-eval readout that says
    whether targeting the top-k% by this score beats random targeting
    (a useless score tracks the diagonal).

    All cumulative counts are exact integers; qini and cumulative
    uplift are single double expressions.  The rank over the UNIT
    frame (one row per unit) is the two-phase distributed rank
    (functions.two_phase_row_number — no single-partition exchange
    over units), the unit count is a broadcast one-row aggregate, and
    bin ids come from exact integer arithmetic FLOOR((rn-1)*bins/n),
    not percent_rank floats.
    """
    ranked = two_phase_row_number(
        units,
        [F.desc(score_col), F.asc("unit_id")],
        -F.col(score_col),
        "rn",
        total_col="n_units",
        # DESC ranks NULL scores last: route them to the last shard
        nulls_last=True,
        # model scores are coarse: split their tie mass across shards
        tie_key=F.col("unit_id"),
    ).withColumn(
        "bin",
        F.expr(f"CAST((rn - 1) * {n_bins} DIV n_units AS INT)"),
    )
    per_bin = ranked.groupBy("bin").agg(
        F.sum(F.when(F.col(arm_col) == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col(arm_col) == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(
            F.when(F.col(arm_col) == 1, F.col(outcome_col)).otherwise(0)
        ).alias("y_t"),
        F.sum(
            F.when(F.col(arm_col) == 0, F.col(outcome_col)).otherwise(0)
        ).alias("y_c"),
    )
    cum_w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_bin.select(
        "bin",
        F.sum("n_t").over(cum_w).alias("cn_t"),
        F.sum("n_c").over(cum_w).alias("cn_c"),
        F.sum("y_t").over(cum_w).alias("cy_t"),
        F.sum("y_c").over(cum_w).alias("cy_c"),
    )
    qini = (
        "CASE WHEN cn_c > 0 THEN CAST(cy_t AS DOUBLE)"
        " - CAST(cy_c AS DOUBLE) * cn_t / cn_c END"
    )
    uplift = (
        "CASE WHEN cn_c > 0 AND cn_t > 0 THEN CAST(cy_t AS DOUBLE) / cn_t"
        " - CAST(cy_c AS DOUBLE) / cn_c END"
    )
    return cum.select(
        "bin",
        "cn_t",
        "cn_c",
        "cy_t",
        "cy_c",
        F.round(F.expr(qini), 6).alias("qini"),
        F.round(F.expr(uplift), 6).alias("cum_uplift"),
    ).orderBy("bin")


def purchase_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: Qini curve of the pre-period-value targeting score
    against post-period purchase conversion between the Knuth arms (a
    null experiment: the curve should hug the random diagonal)."""
    ev = load_table(spark, "events", sf_dir)
    micro = "CAST(floor(value * 1000000) AS BIGINT)"
    units = ev.groupBy("user_id").agg(
        F.sum(
            F.expr(
                f"CASE WHEN ts < TIMESTAMP '{DID_CUT}' THEN {micro} ELSE 0 END"
            )
        ).alias("score"),
        F.max(
            F.expr(
                f"CASE WHEN ts >= TIMESTAMP '{DID_CUT}'"
                " AND event_type = 'purchase' THEN 1 ELSE 0 END"
            )
        ).alias("converted"),
    ).select(
        F.col("user_id").alias("unit_id"),
        "score",
        _arm(F.col("user_id")).alias("arm"),
        "converted",
    )
    return qini_curve(units, "score", "arm", "converted")


def _qini_oracle_sql() -> str:
    micro = "CAST(floor(value * 1000000) AS BIGINT)"
    qini = (
        "CASE WHEN cn_c > 0 THEN CAST(cy_t AS DOUBLE)"
        " - CAST(cy_c AS DOUBLE) * cn_t / cn_c END"
    )
    uplift = (
        "CASE WHEN cn_c > 0 AND cn_t > 0 THEN CAST(cy_t AS DOUBLE) / cn_t"
        " - CAST(cy_c AS DOUBLE) / cn_c END"
    )
    return f"""
        WITH units AS (
            SELECT user_id AS unit_id,
                   CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{DID_CUT}'
                            THEN {micro} ELSE 0 END) AS BIGINT) AS score,
                   {_arm_sql("user_id")} AS arm,
                   MAX(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '{DID_CUT}'
                            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY 1
        ), ranked AS (
            SELECT *,
                   COUNT(*) OVER () AS n_units,
                   ROW_NUMBER() OVER (ORDER BY score DESC, unit_id ASC) AS rn
            FROM units
        ), per_bin AS (
            SELECT CAST((rn - 1) * {QINI_BINS} // n_units AS INTEGER) AS bin,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                   CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS y_t,
                   CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS y_c
            FROM ranked GROUP BY 1
        ), cum AS (
            SELECT bin,
                   CAST(SUM(n_t) OVER w AS BIGINT) AS cn_t,
                   CAST(SUM(n_c) OVER w AS BIGINT) AS cn_c,
                   CAST(SUM(y_t) OVER w AS BIGINT) AS cy_t,
                   CAST(SUM(y_c) OVER w AS BIGINT) AS cy_c
            FROM per_bin
            WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT bin, cn_t, cn_c, cy_t, cy_c,
               ROUND({qini}, 6) AS qini,
               ROUND({uplift}, 6) AS cum_uplift
        FROM cum ORDER BY bin
    """


QUERIES["purchase_uplift_qini"] = purchase_uplift_qini
ORACLE_SQL["purchase_uplift_qini"] = _qini_oracle_sql()


# ---- A/B power / minimum-detectable-effect planner ----------------------

_Z_ALPHA_05 = 1.959964  # two-sided 5%
_Z_POWER_80 = 0.841621  # 80% power

# exact integer/decimal moments -> one DOUBLE composition, textually
# identical on both engines so the IEEE result is bit-equal
_P_VAR = (
    "((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
)
_P_MDE = (
    f"(({_Z_ALPHA_05} + {_Z_POWER_80})"
    f" * sqrt(2.0 * {_P_VAR} / CAST(n DIV 2 AS DOUBLE)))"
)


def ab_power_mde(
    units: DataFrame, metric_col: str, group_cols: list[str]
) -> DataFrame:
    """Experiment-design planner: for each group, the minimum
    detectable effect of a 50/50 two-arm test on the per-unit metric at
    alpha=5% (two-sided) and 80% power — MDE = (z_a + z_b) *
    sqrt(2 * var / n_arm).  The answer every A/B test should read
    BEFORE launch ('can this experiment even see a 2% lift?').

    One aggregation pass collects exact integer/decimal moments
    (n, sum, sum-of-squares); the MDE composition is a single DOUBLE
    expression over them, so two engines agree bitwise.
    """
    g = units.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(metric_col).cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col(metric_col).cast("decimal(19,0)") * F.col(metric_col)
        ).alias("sxx"),
    )
    mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    return g.select(
        *group_cols,
        F.col("n").cast("long").alias("n_units"),
        F.expr("CAST(n DIV 2 AS BIGINT)").alias("n_per_arm"),
        F.expr(f"ROUND({mean} / 1000000.0, 6)").alias("mean"),
        F.expr(f"ROUND(sqrt({_P_VAR}) / 1000000.0, 6)").alias("sd"),
        F.expr(f"ROUND({_P_MDE} / 1000000.0, 6)").alias("mde_abs"),
        F.expr(f"ROUND(100.0 * {_P_MDE} / {mean}, 6)").alias("mde_rel_pct"),
    ).orderBy(*group_cols)


def ab_power_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: per-event-type MDE of a 50/50 user-split test on
    per-user total value (micros) — the pre-launch power readout."""
    ev = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias(
                "v_micros"
            )
        )
    )
    return ab_power_mde(ev, "v_micros", ["event_type"])


def _power_oracle_sql() -> str:
    mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    var = _P_VAR.replace("n DIV 2", "n // 2")
    mde = _P_MDE.replace("n DIV 2", "n // 2")
    return f"""
        WITH q AS (
            SELECT event_type, user_id,
                   CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY event_type, user_id
        ), g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(v AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(v AS DECIMAL(19,0)) * v) AS sxx
            FROM q GROUP BY event_type
        )
        SELECT event_type,
               n AS n_units,
               CAST(n // 2 AS BIGINT) AS n_per_arm,
               ROUND({mean} / 1000000.0, 6) AS mean,
               ROUND(sqrt({var}) / 1000000.0, 6) AS sd,
               ROUND({mde} / 1000000.0, 6) AS mde_abs,
               ROUND(100.0 * {mde} / {mean}, 6) AS mde_rel_pct
        FROM g ORDER BY event_type
    """


QUERIES["ab_power_planner"] = ab_power_planner
ORACLE_SQL["ab_power_planner"] = _power_oracle_sql()


# ---- quantile treatment effects -------------------------------------------

QTE_PCTS = (25, 50, 75, 90)


def quantile_treatment_effects(
    units: DataFrame,
    unit_col: str,
    metric_col: str,
    pcts: tuple = QTE_PCTS,
) -> DataFrame:
    """Quantile treatment effects between the two Knuth arms: the B-A
    difference of exact NEAREST-RANK percentiles of the per-unit
    metric — where in the distribution the treatment moved value (a
    mean shift at the p90 with a flat median reads completely
    differently from a uniform lift).

    Nearest-rank on integers is engine-free: value at row_number ==
    ceil(p * n / 100) in metric order — one window per arm over the
    per-unit frame, a 2x|pcts| pivot at the end.  No interpolation, no
    float percentiles.
    """
    armed = units.select(
        _arm(F.col(unit_col)).alias("arm"), F.col(metric_col).alias("v")
    )
    w = Window.partitionBy("arm").orderBy("v")
    ranked = armed.select(
        "arm",
        "v",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("arm")).alias("n"),
    )
    hits = ranked.select(
        "arm",
        "v",
        "n",
        F.explode(F.array(*[F.lit(p) for p in pcts])).alias("pct"),
        F.col("rk").alias("rk2"),
    ).where(
        F.expr("rk2 = CAST(ceil(pct * n / 100.0) AS BIGINT)")
    )
    a = hits.where(F.col("arm") == 0).select(
        "pct", F.col("v").alias("q_a"), F.col("n").alias("n_a")
    )
    b = hits.where(F.col("arm") == 1).select(
        "pct", F.col("v").alias("q_b"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, "pct")
        .select(
            F.col("pct").cast("int").alias("pct"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("ROUND(CAST(q_a AS DOUBLE) / 1000000.0, 6)").alias("q_a"),
            F.expr("ROUND(CAST(q_b AS DOUBLE) / 1000000.0, 6)").alias("q_b"),
            F.expr("ROUND(CAST(q_b - q_a AS DOUBLE) / 1000000.0, 6)").alias(
                "qte"
            ),
        )
        .orderBy("pct")
    )


def purchase_ab_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: QTE of per-user total purchase value (micros)
    between the Knuth arms at the 25/50/75/90th percentiles."""
    ev = (
        load_table(spark, "events", sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias(
                "v_micros"
            )
        )
    )
    return quantile_treatment_effects(ev, "user_id", "v_micros")


def _qte_oracle_sql(pcts: tuple = QTE_PCTS) -> str:
    ps = ", ".join(str(p) for p in pcts)
    return f"""
        WITH units AS (
            SELECT {_arm_sql()} AS arm,
                   CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), ranked AS (
            SELECT arm, v,
                   ROW_NUMBER() OVER (PARTITION BY arm ORDER BY v) AS rk,
                   COUNT(*) OVER (PARTITION BY arm) AS n
            FROM units
        ), hits AS (
            SELECT arm, v, n, pct
            FROM ranked CROSS JOIN (SELECT UNNEST([{ps}]) AS pct) p
            WHERE rk = CAST(ceil(pct * n / 100.0) AS BIGINT)
        )
        SELECT CAST(a.pct AS INTEGER) AS pct,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               ROUND(CAST(a.v AS DOUBLE) / 1000000.0, 6) AS q_a,
               ROUND(CAST(b.v AS DOUBLE) / 1000000.0, 6) AS q_b,
               ROUND(CAST(b.v - a.v AS DOUBLE) / 1000000.0, 6) AS qte
        FROM (SELECT * FROM hits WHERE arm = 0) a
        JOIN (SELECT * FROM hits WHERE arm = 1) b USING (pct)
        ORDER BY pct
    """


QUERIES["purchase_ab_qte"] = purchase_ab_qte
ORACLE_SQL["purchase_ab_qte"] = _qte_oracle_sql()


# ---- restricted mean survival time ------------------------------------------

RMST_HORIZON_DAYS = 30


def user_churn_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at a 30-day horizon: the area
    under the KM churn curve — 'expected active days per user within
    the first month', the single-number lifetime summary a retention
    team budgets with (medians hide the tail; means don't exist under
    censoring; RMST is the estimand that always does).

    Consumes the km_survival table's ROUNDED survival values, so the
    area fold starts from numbers both engines already agree on
    bit-for-bit; segment widths are exact integers clamped at the
    horizon; the area itself is one sorted left fold.
    """
    H = RMST_HORIZON_DAYS
    km = user_churn_survival(spark, sf_dir)
    w = Window.orderBy("t")
    terms = km.select(
        "t",
        F.coalesce(F.lag("survival").over(w), F.lit(1.0)).alias("s_prev"),
        F.coalesce(F.lag("t").over(w), F.lit(0)).alias("t_prev"),
        "survival",
    ).select(
        "t",
        "survival",
        F.expr(
            f"s_prev * (least(CAST(t AS BIGINT), {H})"
            f" - least(CAST(t_prev AS BIGINT), {H}))"
        ).alias("term"),
    )
    folded = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
        F.expr("sort_array(collect_list(struct(t, term)))").alias("ts"),
        F.expr("max_by(survival, t)").alias("s_last"),
        F.expr(f"least(CAST(max(t) AS BIGINT), {H})").alias("t_last_c"),
    )
    area = (
        "aggregate(ts, 0D, (acc, x) -> acc + x.term)"
        f" + s_last * ({H} - t_last_c)"
    )
    return folded.select(
        F.lit(RMST_HORIZON_DAYS).cast("int").alias("horizon_days"),
        "n_event_times",
        F.expr(f"ROUND({area}, 6)").alias("rmst_days"),
    )


def _rmst_oracle_sql() -> str:
    H = RMST_HORIZON_DAYS
    km = _km_oracle_sql().strip()
    fold = "list_reduce(list_prepend(0.0, list_transform(ts, x -> x.term)), (acc, t) -> acc + t)"
    return f"""
        WITH km AS ({km}),
        terms AS (
            SELECT t, survival,
                   COALESCE(LAG(survival) OVER (ORDER BY t), 1.0)
                   * (LEAST(CAST(t AS BIGINT), {H})
                      - LEAST(CAST(COALESCE(LAG(t) OVER (ORDER BY t), 0) AS BIGINT), {H}))
                       AS term
            FROM km
        ), folded AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
                   list(struct_pack(t := t, term := term) ORDER BY t) AS ts,
                   arg_max(survival, t) AS s_last,
                   LEAST(CAST(MAX(t) AS BIGINT), {H}) AS t_last_c
            FROM terms
        )
        SELECT CAST({H} AS INTEGER) AS horizon_days, n_event_times,
               ROUND({fold} + s_last * ({H} - t_last_c), 6) AS rmst_days
        FROM folded
    """


QUERIES["user_churn_rmst"] = user_churn_rmst
ORACLE_SQL["user_churn_rmst"] = _rmst_oracle_sql()
