"""Statistical monitoring operators: per-group trend regression,
distribution-drift scoring, pointwise mutual information, and key-skew
diagnostics.

These are the observability layer a 100 TB pipeline runs continuously:
"is this user's spend trending up", "did the value distribution shift
between deploy windows", "which event types co-occur with high-value
sessions", and "is this join key skewed enough to need salting".

Scale posture:
- Every operator is ONE scan + one (or zero) shuffle of pre-aggregated
  integer moments.  Group-wise OLS follows the feature_corr pattern
  (operators/similarity.py): micro-quantize doubles to BIGINT, sum
  exact DECIMAL(38,0) moments (map-side combinable), and do the final
  slope/intercept/r2 arithmetic in DOUBLE with an expression shape
  duplicated verbatim in the DuckDB oracle — so the hashes match
  bit-for-bit without any tolerance.
- PSI drift needs a dense (group x bin) grid for smoothing; the grid is
  |event_types| x 10 rows built from the aggregated counts themselves
  (no second scan of the fact table).
- The skew report is the pre-flight check for salted_join/salted_agg
  (operators/joins.py, operators/aggregates.py): integer-exact ppm
  shares of the top keys, computed with a two-stage count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.global_rank import ntile_from_row_number, two_phase_row_number
from ..sources.catalog import load_table

# epoch seconds of 2024-01-01T00:00:00Z — keeps x small enough that
# x*x products stay inside DECIMAL(19,0) terms (x <= ~2.6e6 for the
# one-month events window; a year of data is x <= 3.2e7, x*x <= 1e15).
_TREND_BASE_S = 1704067200

# shared DOUBLE expression fragments, duplicated verbatim in the oracle
_VARX = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_VARY = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
_COV = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"


def group_trend(
    df: DataFrame,
    key_cols: list[str],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group OLS regression of integer ``y_col`` on integer
    ``x_col`` from exact moments.

    Input columns must already be BIGINT (quantize doubles first —
    see user_value_trend).  Emits one row per group with n, the five
    exact DECIMAL(38,0) moments, and DOUBLE slope / intercept / r2
    (slope in y-units per x-unit).  Groups with zero x- or y-variance
    are dropped (no trend is defined).

    One shuffle of six numeric moments per group; everything above it
    is map-side combinable.
    """
    m = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x_col).cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col(y_col).cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr(f"CAST({x_col} AS DECIMAL(19,0)) * {x_col}").cast("decimal(38,0)")).alias("sxx"),
        F.sum(F.expr(f"CAST({x_col} AS DECIMAL(19,0)) * {y_col}").cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.expr(f"CAST({y_col} AS DECIMAL(19,0)) * {y_col}").cast("decimal(38,0)")).alias("syy"),
    )
    return (
        m.where(F.expr(f"n >= 2 AND {_VARX} > 0.0D AND {_VARY} > 0.0D"))
        .select(
            *key_cols,
            "n",
            F.expr(f"{_COV} / {_VARX}").alias("slope"),
            F.expr(
                f"(CAST(sy AS DOUBLE) - ({_COV} / {_VARX}) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
            ).alias("intercept"),
            F.expr(f"({_COV} * {_COV}) / ({_VARX} * {_VARY})").alias("r2"),
        )
    )


def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time.

    x = event time in whole seconds since 2024-01-01 (exact integer),
    y = value in exact micro-units.  slope_per_day converts back to
    value-units/day; intercept_value is the fitted value at the base
    instant.  All three outputs rounded to 6 decimals (the moments
    feeding them are bit-identical across engines).
    """
    ev = load_table(spark, "events", sf_dir)
    q = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) div 1000000 - {_TREND_BASE_S}").alias("x"),
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("y"),
    )
    t = group_trend(q, ["user_id"])
    return t.select(
        "user_id",
        "n",
        F.expr("ROUND(slope * 86400.0D / 1000000.0D, 6)").alias("slope_per_day"),
        F.expr("ROUND(intercept / 1000000.0D, 6)").alias("intercept_value"),
        F.expr("ROUND(r2, 6)").alias("r2"),
    ).orderBy("user_id")


def _trend_oracle_sql() -> str:
    return f"""
        WITH q AS (
            SELECT user_id,
                   epoch_us(ts) // 1000000 - {_TREND_BASE_S} AS x,
                   CAST(floor(value * 1000000) AS BIGINT) AS y
            FROM events
        ), m AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy
            FROM q GROUP BY user_id
        )
        SELECT user_id, n,
               ROUND({_COV} / {_VARX} * 86400.0 / 1000000.0, 6) AS slope_per_day,
               ROUND((CAST(sy AS DOUBLE) - ({_COV} / {_VARX}) * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept_value,
               ROUND(({_COV} * {_COV}) / ({_VARX} * {_VARY}), 6) AS r2
        FROM m
        WHERE n >= 2 AND {_VARX} > 0.0 AND {_VARY} > 0.0
        ORDER BY user_id
    """


# ---- PSI distribution drift ------------------------------------------

PSI_BINS = 10
PSI_BIN_WIDTH = 50.0  # value buckets [0,50), [50,100), ... clamp at 9
PSI_SMOOTH = 0.5  # add-k smoothing so empty bins stay finite


def psi_drift(
    df: DataFrame,
    group_col: str,
    bin_col: str,
    half_col: str,
) -> DataFrame:
    """Population-stability-index drift per group between two halves.

    Input: one row per observation with an integer bin id in
    [0, PSI_BINS) and ``half_col`` in ('early', 'late').  Counts are
    aggregated per (group, bin) with conditional sums — ONE shuffle —
    then densified to the full bin grid from the aggregate itself (a
    group's missing bins contribute the smoothing mass only).
    PSI = sum_b (p_b - q_b) * ln(p_b / q_b) with add-k smoothed
    p (early) and q (late).  Industry thresholds: <0.1 stable,
    0.1-0.25 drifting, >0.25 shifted.
    """
    # EAGER checkpoint: counts (groups x bins rows) feeds the grid
    # distinct AND the dense join — without it each reference re-ran
    # the caller's fact scan + aggregation (snapshot: 8 FileScans for
    # event_value_drift).
    counts = (
        df.groupBy(group_col, bin_col)
        .agg(
            F.sum(
                F.expr(f"CASE WHEN {half_col} = 'early' THEN 1 ELSE 0 END")
            ).alias("early_c"),
            F.sum(
                F.expr(f"CASE WHEN {half_col} = 'late' THEN 1 ELSE 0 END")
            ).alias("late_c"),
        )
        .localCheckpoint(eager=True)
    )
    # dense grid: every group x every bin 0..PSI_BINS-1, built from the
    # aggregated frame (tiny), not the fact table
    grid = (
        counts.select(group_col).distinct()
        .crossJoin(
            F.broadcast(
                counts.sparkSession.range(PSI_BINS).select(F.col("id").alias(bin_col))
            )
        )
    )
    dense = (
        grid.join(counts, [group_col, bin_col], "left")
        .select(
            group_col,
            bin_col,
            F.coalesce("early_c", F.lit(0)).alias("early_c"),
            F.coalesce("late_c", F.lit(0)).alias("late_c"),
        )
    )
    tot = dense.groupBy(group_col).agg(
        F.sum("early_c").alias("n_early"), F.sum("late_c").alias("n_late")
    )
    k, nb = PSI_SMOOTH, PSI_BINS
    p = f"((CAST(early_c AS DOUBLE) + {k}) / (CAST(n_early AS DOUBLE) + {k * nb}))"
    q = f"((CAST(late_c AS DOUBLE) + {k}) / (CAST(n_late AS DOUBLE) + {k * nb}))"
    term = f"(({p} - {q}) * ln({p} / {q}))"
    return (
        dense.join(tot, group_col)
        .groupBy(group_col, "n_early", "n_late")
        .agg(F.round(F.sum(F.expr(term)), 6).alias("psi"))
        .select(group_col, "n_early", "n_late", "psi")
        .orderBy(group_col)
    )


def event_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the value distribution per event_type, early vs late half
    of the stream's time range (the deploy-window drift monitor).

    The split point is the exact integer midpoint of [min, max] event
    micros — a one-row aggregate broadcast back, never a driver
    collect.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr(
            f"least({PSI_BINS - 1}, greatest(0, CAST(floor(value / {PSI_BIN_WIDTH}D) AS INT)))"
        ).alias("bin"),
    )
    bounds = F.broadcast(
        ev.agg(
            F.min("us").alias("mn"), F.max("us").alias("mx")
        ).select(F.expr("(mn + mx) div 2").alias("mid"))
    )
    halves = ev.crossJoin(bounds).select(
        "event_type",
        "bin",
        F.expr("CASE WHEN us <= mid THEN 'early' ELSE 'late' END").alias("half"),
    )
    return psi_drift(halves, "event_type", "bin", "half")


def _drift_oracle_sql() -> str:
    k, nb = PSI_SMOOTH, PSI_BINS
    p = f"((CAST(early_c AS DOUBLE) + {k}) / (CAST(n_early AS DOUBLE) + {k * nb}))"
    q = f"((CAST(late_c AS DOUBLE) + {k}) / (CAST(n_late AS DOUBLE) + {k * nb}))"
    term = f"(({p} - {q}) * ln({p} / {q}))"
    return f"""
        WITH ev AS (
            SELECT event_type, epoch_us(ts) AS us,
                   LEAST({PSI_BINS - 1}, GREATEST(0, CAST(floor(value / {PSI_BIN_WIDTH}) AS INT))) AS bin
            FROM events
        ), bounds AS (
            SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev
        ), counts AS (
            SELECT event_type, bin,
                   SUM(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS early_c,
                   SUM(CASE WHEN us > mid THEN 1 ELSE 0 END) AS late_c
            FROM ev CROSS JOIN bounds
            GROUP BY event_type, bin
        ), grid AS (
            SELECT t.event_type, b.bin
            FROM (SELECT DISTINCT event_type FROM counts) t
            CROSS JOIN (SELECT UNNEST(range(0, {PSI_BINS})) AS bin) b
        ), dense AS (
            SELECT g.event_type, g.bin,
                   COALESCE(c.early_c, 0) AS early_c,
                   COALESCE(c.late_c, 0) AS late_c
            FROM grid g LEFT JOIN counts c
              ON g.event_type = c.event_type AND g.bin = c.bin
        ), tot AS (
            SELECT event_type, SUM(early_c) AS n_early, SUM(late_c) AS n_late
            FROM dense GROUP BY event_type
        )
        SELECT d.event_type,
               CAST(t.n_early AS BIGINT) AS n_early,
               CAST(t.n_late AS BIGINT) AS n_late,
               ROUND(SUM({term}), 6) AS psi
        FROM dense d JOIN tot t ON d.event_type = t.event_type
        GROUP BY d.event_type, t.n_early, t.n_late
        ORDER BY d.event_type
    """


# ---- Pointwise mutual information ------------------------------------

PMI_VALUE_THRESHOLD = 100.0  # "high value" event flag


def pmi_table(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Pointwise mutual information between two categorical columns.

    One groupBy on (a, b) scans the data; the marginals and the grand
    total are re-aggregations OVER the joint counts broadcast back
    (never a second scan, never an unpartitioned window — at scale the
    joint frame is |A| x |B| rows but each marginal is a map-side
    combinable sum).  pmi = ln(c_ab * N / (c_a * c_b));
    contribution = (c_ab/N) * pmi is the cell's share of full MI.
    All ratios are formed from exact BIGINT counts; only the final
    ln/division is DOUBLE (rounded 6).
    """
    joint = df.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("c_ab"))
    ca = joint.groupBy(a_col).agg(F.sum("c_ab").alias("c_a"))
    cb = joint.groupBy(b_col).agg(F.sum("c_ab").alias("c_b"))
    n = joint.agg(F.sum("c_ab").alias("n"))
    with_m = (
        joint.join(F.broadcast(ca), a_col)
        .join(F.broadcast(cb), b_col)
        .crossJoin(F.broadcast(n))
    )
    ratio = "(CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)) / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))"
    return with_m.select(
        a_col,
        b_col,
        "c_ab",
        "c_a",
        "c_b",
        "n",
        F.expr(f"ROUND(ln({ratio}), 6)").alias("pmi"),
        F.expr(f"ROUND((CAST(c_ab AS DOUBLE) / CAST(n AS DOUBLE)) * ln({ratio}), 6)").alias(
            "mi_contribution"
        ),
    ).orderBy(a_col, b_col)


def event_value_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI between event_type and the high-value flag (value >= 100):
    which event types are informative about high-value activity."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr(f"CASE WHEN value >= {PMI_VALUE_THRESHOLD}D THEN 1 ELSE 0 END").alias(
            "high_value"
        ),
    )
    return pmi_table(ev, "event_type", "high_value")


def _pmi_oracle_sql() -> str:
    ratio = "(CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)) / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))"
    return f"""
        WITH ev AS (
            SELECT event_type,
                   CASE WHEN value >= {PMI_VALUE_THRESHOLD} THEN 1 ELSE 0 END AS high_value
            FROM events
        ), joint AS (
            SELECT event_type, high_value, CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM ev GROUP BY event_type, high_value
        ), with_m AS (
            SELECT event_type, high_value, c_ab,
                   SUM(c_ab) OVER (PARTITION BY event_type) AS c_a,
                   SUM(c_ab) OVER (PARTITION BY high_value) AS c_b,
                   SUM(c_ab) OVER () AS n
            FROM joint
        )
        SELECT event_type, high_value, c_ab,
               CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
               CAST(n AS BIGINT) AS n,
               ROUND(ln({ratio}), 6) AS pmi,
               ROUND((CAST(c_ab AS DOUBLE) / CAST(n AS DOUBLE)) * ln({ratio}), 6) AS mi_contribution
        FROM with_m
        ORDER BY event_type, high_value
    """


# ---- Key-skew diagnostics --------------------------------------------

SKEW_TOP_K = 20


def key_skew(df: DataFrame, key_cols: list[str], k: int = SKEW_TOP_K) -> DataFrame:
    """Top-k hottest keys with integer-exact ppm share of all rows —
    the pre-flight check that decides whether a join/agg on these keys
    needs salting (operators/joins.salted_join, aggregates.salted_agg).

    Two-stage: per-key counts (one shuffle, map-side combined), then a
    one-row total broadcast back.  Top-k is orderBy+limit — compiled to
    TakeOrderedAndProject, so each partition keeps only its local
    top-k and no Exchange SinglePartition of the full key set ever
    happens; the rank window then runs over the <= k surviving rows.
    """
    from pyspark.sql import Window

    order = [F.desc("key_rows"), *[F.asc(c) for c in key_cols]]
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("key_rows"))
    total = F.broadcast(counts.agg(F.sum("key_rows").alias("total_rows")))
    top = counts.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # bounded: at most k rows reach this window
    return (
        top.crossJoin(total)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            *key_cols,
            "key_rows",
            "total_rows",
            F.expr("CAST(key_rows * 1000000 div total_rows AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("rank")
    )


def user_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hottest 20 user_ids in the events stream with exact ppm shares."""
    return key_skew(load_table(spark, "events", sf_dir), ["user_id"])


def _skew_oracle_sql() -> str:
    return f"""
        WITH counts AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS key_rows
            FROM events GROUP BY user_id
        ), tot AS (
            SELECT CAST(SUM(key_rows) AS BIGINT) AS total_rows FROM counts
        ), ranked AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY key_rows DESC, user_id ASC) AS INTEGER) AS rank,
                   user_id, key_rows, total_rows,
                   CAST(key_rows * 1000000 // total_rows AS BIGINT) AS share_ppm
            FROM counts CROSS JOIN tot
        )
        SELECT rank, user_id, key_rows, total_rows, share_ppm
        FROM ranked WHERE rank <= {SKEW_TOP_K}
        ORDER BY rank
    """


# ---- Seasonal anomaly detection --------------------------------------

ANOMALY_Z = 2.0  # |z| flag threshold


def daily_revenue_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly detection over daily order revenue:
    each day is scored against the mean/stddev of ITS OWN day-of-week
    (weekly seasonality is the dominant cycle in commerce data, so a
    quiet Sunday isn't an anomaly but a quiet Tuesday is).

    Daily revenue sums in exact cents (DECIMAL -> BIGINT); per-dow
    mean/std come from exact integer moments over the (at most 7-row
    x days) aggregated frame, broadcast back; z and the flag are the
    only doubles (rounded 6).  Days in dow groups with zero variance
    or fewer than 2 observations are reported with NULL z.
    Engine alignment: Spark dayofweek is 1=Sunday..7; the oracle adds
    1 to DuckDB's 0-based dayofweek.
    """
    orders = load_table(spark, "orders", sf_dir)
    daily = (
        orders.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("decimal(38,2)")
            .alias("rev"),
        )
        .select(
            "day",
            F.dayofweek("day").alias("dow"),
            F.expr("CAST(rev * 100 AS BIGINT)").alias("cents"),
        )
    )
    m = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(19,0)) * cents").cast("decimal(38,0)")).alias("ss"),
    )
    var = "(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    mean = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    z = f"(CAST(cents AS DOUBLE) - {mean}) / sqrt({var})"
    return (
        daily.join(F.broadcast(m), "dow")
        .select(
            "day",
            "dow",
            F.expr("ROUND(CAST(cents AS DOUBLE) / 100.0, 2)").alias("revenue"),
            F.expr(f"ROUND({mean} / 100.0, 6)").alias("dow_mean"),
            F.expr(
                f"CASE WHEN n >= 2 AND {var} > 0.0D THEN ROUND({z}, 6) END"
            ).alias("z"),
            F.expr(
                f"CASE WHEN n >= 2 AND {var} > 0.0D THEN abs({z}) > {ANOMALY_Z}D END"
            ).alias("is_anomaly"),
        )
        .orderBy("day")
    )


def _anomaly_oracle_sql() -> str:
    var = "(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    mean = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    z = f"(CAST(cents AS DOUBLE) - {mean}) / sqrt({var})"
    return f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS cents
            FROM orders GROUP BY o_orderdate
        ), m AS (
            SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
                   CAST(SUM(CAST(cents AS DECIMAL(19,0)) * cents) AS DECIMAL(38,0)) AS ss
            FROM daily GROUP BY dow
        )
        SELECT day, dow,
               ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND({mean} / 100.0, 6) AS dow_mean,
               CASE WHEN n >= 2 AND {var} > 0.0 THEN ROUND({z}, 6) END AS z,
               CASE WHEN n >= 2 AND {var} > 0.0 THEN abs({z}) > {ANOMALY_Z} END AS is_anomaly
        FROM daily JOIN m USING (dow)
        ORDER BY day
    """


# ---- CUSUM change-point detection ------------------------------------

CUSUM_H_SIGMA = 4.0  # alarm threshold in global-sigma units


def revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM chart over daily revenue: S_t = sum_{i<=t}(x_i - mean),
    alarming when |S_t| exceeds CUSUM_H_SIGMA global sigmas — the
    classic change-point detector (a sustained small shift accumulates
    where per-day z-scores stay quiet).

    Cross-engine float discipline: a windowed DOUBLE running sum can
    differ between engines (segment-tree vs incremental accumulation),
    so the running part stays INTEGER — S_t = cum_cents - t * mean
    with cum_cents an exact integer window sum and t the row number;
    only the final two-term expression is DOUBLE (rounded 6).
    """
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    daily = (
        orders.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) * 100 AS BIGINT)"
            ).alias("cents")
        )
    )
    m = F.broadcast(
        daily.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
            F.sum(
                F.expr("CAST(cents AS DECIMAL(19,0)) * cents").cast("decimal(38,0)")
            ).alias("ss"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_rn = Window.orderBy("day")
    mean = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    sigma = (
        "sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    )
    s_t = f"(CAST(cum_cents AS DOUBLE) - CAST(t AS DOUBLE) * {mean})"
    return (
        daily.withColumn("cum_cents", F.sum("cents").over(w))
        .withColumn("t", F.row_number().over(w_rn).cast("bigint"))
        .crossJoin(m)
        .select(
            "day",
            F.expr("CAST(cents AS DOUBLE) / 100.0").alias("revenue"),
            F.expr(f"ROUND({s_t} / 100.0, 6)").alias("cusum_value"),
            F.expr(f"abs({s_t}) > {CUSUM_H_SIGMA}D * {sigma}").alias("is_alarm"),
        )
        .orderBy("day")
    )


def _cusum_oracle_sql() -> str:
    mean = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    sigma = (
        "sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    )
    s_t = f"(CAST(cum_cents AS DOUBLE) - CAST(t AS DOUBLE) * {mean})"
    return f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS cents
            FROM orders GROUP BY o_orderdate
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
                   CAST(SUM(CAST(cents AS DECIMAL(19,0)) * cents) AS DECIMAL(38,0)) AS ss
            FROM daily
        ), run AS (
            SELECT day, cents,
                   CAST(SUM(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
            FROM daily
        )
        SELECT day,
               CAST(cents AS DOUBLE) / 100.0 AS revenue,
               ROUND({s_t} / 100.0, 6) AS cusum_value,
               abs({s_t}) > {CUSUM_H_SIGMA} * {sigma} AS is_alarm
        FROM run CROSS JOIN m
        ORDER BY day
    """


# ---- Benford first-digit audit ---------------------------------------

# log10(1 + 1/d), pre-computed so both engines consume identical
# literals instead of each evaluating log10
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the event value column —
    the forensic data-quality check: organically generated magnitudes
    follow log10(1+1/d); fabricated or clipped data doesn't.

    The first significant digit comes from the exact integer cents via
    STRING truncation (integer-to-string renders identically in every
    engine, unlike float log10 whose ulp could flip a boundary digit).
    Emits per-digit counts, observed vs expected ppm, and the chi2
    contribution (rounded 6).
    """
    ev = load_table(spark, "events", sf_dir).select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c")
    ).where(F.col("c") > 0)
    digits = ev.select(
        F.expr("CAST(substring(CAST(c AS STRING), 1, 1) AS INT)").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    total = F.broadcast(counts.agg(F.sum("n_obs").alias("n_total")))
    exp_ppm = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
    ) + " END"
    exp_n = f"(CAST(n_total AS DOUBLE) * {exp_ppm} / 1000000.0)"
    chi2 = f"((CAST(n_obs AS DOUBLE) - {exp_n}) * (CAST(n_obs AS DOUBLE) - {exp_n})) / {exp_n}"
    return (
        counts.crossJoin(total)
        .select(
            "digit",
            "n_obs",
            F.expr("CAST(n_obs * 1000000 div n_total AS BIGINT)").alias("observed_ppm"),
            F.expr(f"CAST({exp_ppm} AS BIGINT)").alias("benford_ppm"),
            F.expr(f"ROUND({chi2}, 6)").alias("chi2_term"),
        )
        .orderBy("digit")
    )


def _benford_oracle_sql() -> str:
    exp_ppm = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
    ) + " END"
    exp_n = f"(CAST(n_total AS DOUBLE) * {exp_ppm} / 1000000.0)"
    chi2 = f"((CAST(n_obs AS DOUBLE) - {exp_n}) * (CAST(n_obs AS DOUBLE) - {exp_n})) / {exp_n}"
    return f"""
        WITH c AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
            WHERE CAST(round(value * 100) AS BIGINT) > 0
        ), digits AS (
            SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM c
        ), counts AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
        ), tot AS (
            SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM counts
        )
        SELECT digit, n_obs,
               CAST(n_obs * 1000000 // n_total AS BIGINT) AS observed_ppm,
               CAST({exp_ppm} AS BIGINT) AS benford_ppm,
               ROUND({chi2}, 6) AS chi2_term
        FROM counts CROSS JOIN tot
        ORDER BY digit
    """


# ---- Chi-square independence test ------------------------------------


def chi2_independence(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: one row with (chi2, dof, n).  Same one-scan shape as
    pmi_table — joint counts, broadcast marginals, expected = row*col/n
    — with all counts exact integers and only the final statistic in
    DOUBLE (rounded 6)."""
    joint = df.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("o"))
    ca = joint.groupBy(a_col).agg(F.sum("o").alias("c_a"))
    cb = joint.groupBy(b_col).agg(F.sum("o").alias("c_b"))
    n = joint.agg(F.sum("o").alias("n"))
    e = "(CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE) / CAST(n AS DOUBLE))"
    term = f"((CAST(o AS DOUBLE) - {e}) * (CAST(o AS DOUBLE) - {e})) / {e}"
    cells = (
        joint.join(F.broadcast(ca), a_col)
        .join(F.broadcast(cb), b_col)
        .crossJoin(F.broadcast(n))
    )
    counts = cells.agg(
        F.round(F.sum(F.expr(term)), 6).alias("chi2"),
        F.count_distinct(a_col).alias("_ka"),
        F.count_distinct(b_col).alias("_kb"),
        F.first("n").alias("n"),
    )
    return counts.select(
        "chi2",
        F.expr("CAST((_ka - 1) * (_kb - 1) AS BIGINT)").alias("dof"),
        F.col("n").cast("long").alias("n"),
    )


def event_value_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of (event_type, high-value flag) — the
    hypothesis-test companion to event_value_pmi."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr(f"CASE WHEN value >= {PMI_VALUE_THRESHOLD}D THEN 1 ELSE 0 END").alias(
            "high_value"
        ),
    )
    return chi2_independence(ev, "event_type", "high_value")


def _chi2_oracle_sql() -> str:
    e = "(CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE) / CAST(n AS DOUBLE))"
    term = f"((CAST(o AS DOUBLE) - {e}) * (CAST(o AS DOUBLE) - {e})) / {e}"
    return f"""
        WITH ev AS (
            SELECT event_type,
                   CASE WHEN value >= {PMI_VALUE_THRESHOLD} THEN 1 ELSE 0 END AS high_value
            FROM events
        ), joint AS (
            SELECT event_type, high_value, CAST(COUNT(*) AS BIGINT) AS o
            FROM ev GROUP BY 1, 2
        ), ca AS (
            SELECT event_type, SUM(o) AS c_a FROM joint GROUP BY 1
        ), cb AS (
            SELECT high_value, SUM(o) AS c_b FROM joint GROUP BY 1
        ), tot AS (
            SELECT SUM(o) AS n FROM joint
        )
        SELECT ROUND(SUM({term}), 6) AS chi2,
               CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT high_value) - 1) AS BIGINT) AS dof,
               CAST(ANY_VALUE(n) AS BIGINT) AS n
        FROM joint JOIN ca USING (event_type) JOIN cb USING (high_value) CROSS JOIN tot
    """


QUERIES = {
    "user_value_trend": user_value_trend,
    "daily_revenue_anomaly": daily_revenue_anomaly,
    "value_benford": value_benford,
    "event_value_chi2": event_value_chi2,
    "revenue_cusum": revenue_cusum,
    "event_value_drift": event_value_drift,
    "event_value_pmi": event_value_pmi,
    "user_skew_report": user_skew_report,
}

ORACLE_SQL: dict[str, str] = {
    "user_value_trend": _trend_oracle_sql(),
    "daily_revenue_anomaly": _anomaly_oracle_sql(),
    "value_benford": _benford_oracle_sql(),
    "event_value_chi2": _chi2_oracle_sql(),
    "revenue_cusum": _cusum_oracle_sql(),
    "event_value_drift": _drift_oracle_sql(),
    "event_value_pmi": _pmi_oracle_sql(),
    "user_skew_report": _skew_oracle_sql(),
}


# ---- inequality / weighted-quantile analytics -------------------------


def _gini_select(n: str = "n", sx: str = "sx", six: str = "six") -> str:
    return (
        f"ROUND(2.0 * CAST({six} AS DOUBLE) / (CAST({n} AS DOUBLE) * CAST({sx} AS DOUBLE))"
        f" - (CAST({n} AS DOUBLE) + 1.0) / CAST({n} AS DOUBLE), 6)"
    )


def user_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: Gini coefficient and top-decile
    revenue share over per-user purchase revenue.

    Two aggregations: the per-user cents rollup (one user_id shuffle),
    then moments over the ranked user dimension.  The top-decile share
    is pure integer arithmetic (ppm via BIGINT cross-multiplication).
    """
    ev = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("cents")
    )
    # EAGER checkpoint: ranked feeds the moments aggregate AND the
    # top-decile branch, and each reference re-derived the events scan
    # + per-user rollup + the two-phase rank (snapshot: 12 FileScans).
    # One slim (cents, i) row per user.
    ranked = (
        two_phase_row_number(
            per_user,
            [F.col("cents").asc(), F.col("user_id").asc()],
            F.col("cents"),
            "i",
            tie_key=F.col("user_id"),
        )
        .select("cents", "i")
        .localCheckpoint(eager=True)
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(i AS DECIMAL(19,0)) * cents")).alias("six"),
        F.max("i").alias("_maxi"),
    ).drop("_maxi")
    top = (
        ranked.crossJoin(F.broadcast(m.select("n")))
        .where(F.expr("i > n - ((n + 9) div 10)"))
        .agg(F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("top_cents"))
    )
    return (
        m.crossJoin(F.broadcast(top))
        .select(
            "n",
            F.expr("CAST(sx AS DOUBLE) / 100.0").alias("total_revenue"),
            F.expr(_gini_select()).alias("gini"),
            F.expr(
                "CAST((top_cents * 1000000) div sx AS BIGINT)"
            ).alias("top10_share_ppm"),
        )
    )


def _gini_oracle_sql() -> str:
    return f"""
        WITH per_user AS (
            SELECT user_id, SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), ranked AS (
            SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, user_id) AS i
            FROM per_user
        ), m AS (
            SELECT COUNT(*) AS n,
                   SUM(CAST(cents AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(i AS DECIMAL(19,0)) * cents) AS six
            FROM ranked
        ), top AS (
            SELECT SUM(CAST(cents AS DECIMAL(38,0))) AS top_cents
            FROM ranked, m WHERE i > n - ((n + 9) // 10)
        )
        SELECT n, CAST(sx AS DOUBLE) / 100.0 AS total_revenue,
               {_gini_select()} AS gini,
               -- BIGINT // BIGINT: DuckDB's // on DECIMAL operands routes
               -- through float division (same quirk as supplier_concentration)
               CAST(top_cents * 1000000 AS BIGINT) // CAST(sx AS BIGINT) AS top10_share_ppm
        FROM m, top
    """


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str],
    q_ppms: list[int],
) -> DataFrame:
    """Weighted lower-bound percentiles per group, fully integer-exact.

    The q-th weighted percentile is the smallest value whose running
    weight reaches q of the total: ``min value : cumw * 1e6 >= q_ppm *
    totw`` — BIGINT cross-multiplication, no division, no float, so
    ties and boundaries cannot differ between engines.  Values are
    first aggregated per (group, value) — the window runs over
    distinct values per group, not raw rows.  Emits one column per
    requested q (``p{q/1e4:g}``).
    """
    per_v = df.groupBy(*group_cols, value_col).agg(
        F.sum(F.col(weight_col).cast("bigint")).alias("w")
    )
    win = Window.partitionBy(*group_cols).orderBy(value_col)
    cum = per_v.withColumn(
        "cumw", F.sum("w").over(win.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("totw", F.sum("w").over(Window.partitionBy(*group_cols)))
    aggs = [
        F.min(
            F.expr(f"CASE WHEN cumw * 1000000 >= {q} * totw THEN {value_col} END")
        ).alias(f"p{q // 10000}")
        for q in q_ppms
    ]
    return cum.groupBy(*group_cols).agg(*aggs).orderBy(*group_cols)


def weighted_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted p50/p90 of line-item unit price cents per
    return flag — 'what price does the median shipped UNIT carry'
    (row-weighted percentiles over-represent small orders)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("price_cents"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
    )
    return weighted_percentiles(
        li, "price_cents", "qty", ["l_returnflag"], [500000, 900000]
    )


def _weighted_pct_oracle_sql() -> str:
    return """
        WITH per_v AS (
            SELECT l_returnflag,
                   CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents,
                   SUM(CAST(l_quantity AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2
        ), cum AS (
            SELECT l_returnflag, price_cents,
                   SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_cents
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
                   SUM(w) OVER (PARTITION BY l_returnflag) AS totw
            FROM per_v
        )
        SELECT l_returnflag,
               MIN(CASE WHEN cumw * 1000000 >= 500000 * totw THEN price_cents END) AS p50,
               MIN(CASE WHEN cumw * 1000000 >= 900000 * totw THEN price_cents END) AS p90
        FROM cum GROUP BY l_returnflag ORDER BY l_returnflag
    """


QUERIES["user_revenue_gini"] = user_revenue_gini
QUERIES["weighted_price_percentiles"] = weighted_price_percentiles
ORACLE_SQL["user_revenue_gini"] = _gini_oracle_sql()
ORACLE_SQL["weighted_price_percentiles"] = _weighted_pct_oracle_sql()


# ---- robust (trimmed) means -------------------------------------------

TRIM_PPM = 100_000  # drop the bottom and top 10% before averaging


def _group_ranks(
    df: DataFrame, group_cols: list[str], value_col: str, order_tiebreak: str
) -> DataFrame:
    """(*group_cols, v, rk, n): each row's value ``v``, its 1-based rank
    ``rk`` within its group by (value, tiebreak) ascending and the group
    size ``n`` — the one group-key window the order-statistic faces
    read."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(value_col).asc(), F.col(order_tiebreak).asc()
    )
    return df.select(
        *group_cols,
        F.col(value_col).alias("v"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy(*group_cols)).alias("n"),
    )


def trimmed_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    order_tiebreak: str,
    trim_ppm: int = TRIM_PPM,
) -> DataFrame:
    """Per-group trimmed mean over integer values: drop the lowest and
    highest ``trim_ppm`` fraction of ROWS (k = n * trim_ppm / 1e6,
    floored — integer-exact, no percentile interpolation) and average
    the rest in exact DECIMAL — the robust center that one fat-finger
    value can't move, reported next to the raw mean so the gap itself
    is the outlier signal.

    One shuffle on the group key; ranks ride a window over it with a
    deterministic tiebreak column.
    """
    ranked = _group_ranks(df, group_cols, value_col, order_tiebreak).withColumn(
        "k", F.expr(f"(n * {trim_ppm}) div 1000000")
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.max("n").alias("n"),
            F.max("k").alias("n_trimmed_each_side"),
            F.expr("ROUND(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE)"
                   " / COUNT(*) / 1000000.0, 6)").alias("raw_mean"),
            F.expr(
                "ROUND(CAST(SUM(CASE WHEN rk > k AND rk <= n - k"
                " THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)"
                " / SUM(CASE WHEN rk > k AND rk <= n - k THEN 1 ELSE 0 END)"
                " / 1000000.0, 6)"
            ).alias("trimmed_mean"),
        )
        .orderBy(*group_cols)
    )


def _event_value_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, event_id, v_micros): each event's value floored to
    integer micros, so the order-statistic faces rank exact integers."""
    return load_table(spark, "events", sf_dir).select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v_micros"),
    )


def event_value_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed vs raw mean of event value per event type."""
    return trimmed_mean(
        _event_value_micros(spark, sf_dir), ["event_type"], "v_micros", "event_id"
    )


def _trimmed_oracle_sql(trim_ppm: int = TRIM_PPM) -> str:
    return f"""
        WITH ranked AS (
            SELECT event_type,
                   CAST(floor(value * 1000000) AS BIGINT) AS v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY CAST(floor(value * 1000000) AS BIGINT), event_id) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ), kd AS (
            SELECT *, CAST(n * {trim_ppm} AS BIGINT) // 1000000 AS k FROM ranked
        )
        SELECT event_type, MAX(n) AS n, MAX(k) AS n_trimmed_each_side,
               ROUND(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE)
                     / COUNT(*) / 1000000.0, 6) AS raw_mean,
               ROUND(CAST(SUM(CASE WHEN rk > k AND rk <= n - k
                     THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)
                     / SUM(CASE WHEN rk > k AND rk <= n - k THEN 1 ELSE 0 END)
                     / 1000000.0, 6) AS trimmed_mean
        FROM kd GROUP BY event_type ORDER BY event_type
    """


QUERIES["event_value_trimmed"] = event_value_trimmed
ORACLE_SQL["event_value_trimmed"] = _trimmed_oracle_sql()


# ---- demand elasticity + revenue Pareto ---------------------------------


def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log demand regression per part type: elasticity =
    d ln(quantity) / d ln(unit price) across that type's line items —
    the pricing-power read (near 0 = inelastic, strongly negative =
    price-sensitive).

    Unit price = extendedprice/quantity in exact cents before the log;
    both logs micro-quantized to BIGINT so the OLS moments are the
    exact-integer group_trend shape; one broadcast dim join + one
    moment shuffle.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("ext_cents"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
    )
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    pts = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_type",
        F.expr(
            "CAST(floor(ln(CAST(ext_cents AS DOUBLE) / CAST(qty AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("x"),
        F.expr("CAST(floor(ln(CAST(qty AS DOUBLE)) * 1000000) AS BIGINT)").alias("y"),
    )
    t = group_trend(pts, ["p_type"])
    return t.select(
        "p_type",
        "n",
        F.expr("ROUND(slope, 6)").alias("elasticity"),
        F.expr("ROUND(r2, 6)").alias("r2"),
    ).orderBy("p_type")


def _elasticity_oracle_sql() -> str:
    return f"""
        WITH pts AS (
            SELECT p.p_type,
                   CAST(floor(ln(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
                                 / CAST(CAST(l_quantity AS BIGINT) AS DOUBLE)) * 1000000)
                        AS BIGINT) AS x,
                   CAST(floor(ln(CAST(CAST(l_quantity AS BIGINT) AS DOUBLE)) * 1000000)
                        AS BIGINT) AS y
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), m AS (
            SELECT p_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy
            FROM pts GROUP BY p_type
        )
        SELECT p_type, n,
               ROUND({_COV} / {_VARX}, 6) AS elasticity,
               ROUND(({_COV} * {_COV}) / ({_VARX} * {_VARY}), 6) AS r2
        FROM m
        WHERE n >= 2 AND {_VARX} > 0.0 AND {_VARY} > 0.0
        ORDER BY p_type
    """


def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles of user purchase revenue: users NTILE'd by
    spend ascending, each decile's exact revenue share and the
    cumulative share in ppm — the 80/20 readout next to
    user_revenue_gini's scalar.

    The decile is the standard NTILE split recomposed from the
    two-phase distributed rank plus the one-row user count (broadcast)
    — same values as ``NTILE(10) OVER (ORDER BY ...)``, no
    single-partition exchange over the user frame.
    """
    ev = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.expr("SUM(CAST(floor(value * 100) AS BIGINT))").alias("cents")
    )
    ranked = two_phase_row_number(
        per_user,
        [F.col("cents").asc(), F.col("user_id").asc()],
        F.col("cents"),
        "rn",
        total_col="n_total",
        tie_key=F.col("user_id"),
    )
    deciled = ranked.select(
        "cents",
        F.expr(ntile_from_row_number("rn", "n_total", 10)).alias("decile"),
    )
    # EAGER checkpoint: per_dec (<= 10 rows) feeds both the total and
    # the cumulative window — each reference re-derived the whole
    # ranked subtree (snapshot: 8 FileScans) for a 10-row frame.
    per_dec = (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("dec_cents"),
        )
        .localCheckpoint(eager=True)
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = per_dec.agg(F.sum("dec_cents").alias("tot_cents"))
    return (
        per_dec.withColumn("cum_cents", F.sum("dec_cents").over(wd))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            F.expr("CAST(dec_cents AS DOUBLE) / 100.0").alias("revenue"),
            F.expr("CAST(dec_cents * 1000000 AS DECIMAL(38,0)) div tot_cents").alias(
                "share_ppm"
            ),
            F.expr("CAST(cum_cents * 1000000 AS DECIMAL(38,0)) div tot_cents").alias(
                "cum_share_ppm"
            ),
        )
        .orderBy("decile")
    )


def _pareto_oracle_sql() -> str:
    return """
        WITH per_user AS (
            SELECT user_id, SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), deciled AS (
            SELECT cents, NTILE(10) OVER (ORDER BY cents, user_id) AS decile
            FROM per_user
        ), per_dec AS (
            SELECT decile, COUNT(*) AS n_users,
                   SUM(CAST(cents AS DECIMAL(38,0))) AS dec_cents
            FROM deciled GROUP BY decile
        ), cum AS (
            SELECT *, SUM(dec_cents) OVER (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
                   (SELECT SUM(dec_cents) FROM per_dec) AS tot_cents
            FROM per_dec
        )
        SELECT decile, n_users,
               CAST(dec_cents AS DOUBLE) / 100.0 AS revenue,
               CAST(dec_cents * 1000000 AS BIGINT) // CAST(tot_cents AS BIGINT) AS share_ppm,
               CAST(cum_cents * 1000000 AS BIGINT) // CAST(tot_cents AS BIGINT) AS cum_share_ppm
        FROM cum ORDER BY decile
    """


QUERIES["price_elasticity"] = price_elasticity
QUERIES["revenue_pareto"] = revenue_pareto
ORACLE_SQL["price_elasticity"] = _elasticity_oracle_sql()
ORACLE_SQL["revenue_pareto"] = _pareto_oracle_sql()


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test — completes the nonparametric
# family next to PSI (binned drift), Mann-Whitney (rank shift), and
# chi-square (categorical independence).  D is computed from INTEGER
# cumulative counts (|cca*nb - ccb*na| cross-multiplication) with one
# final double division, so Spark and DuckDB agree bit-for-bit.
# ---------------------------------------------------------------------------

# 0.05-level asymptotic threshold: reject iff D > 1.358*sqrt((na+nb)/(na*nb)).
# Compared in squared form (D^2 * (na*nb)^2 > c^2 * (na+nb) * na*nb) to keep
# both engines on the same single-rounding double expression.
_KS_C2_05 = 1.844164  # 1.358**2


def ks_two_sample(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """All-pairs two-sample KS over the distinct values of ``group_col``.

    Output: one row per unordered group pair with exact sample sizes,
    the KS statistic D, and the asymptotic 0.05-level reject flag.

    Scale shape: pairs come from a broadcast self-join of the DISTINCT
    group list (g groups -> g*(g-1)/2 pairs; each data row fans out to
    the g-1 pairs containing its group), then ONE shuffle partitioned
    by pair with a per-pair sort — the window pattern Spark already
    optimizes.  Intended for small g (sources, languages, arms); for
    large g or heavy values, pre-bin with the PSI face and run KS on
    the binned ECDF instead.
    """
    docs = df.select(F.col(group_col).alias("g"), F.col(value_col).alias("x"))
    groups = docs.select("g").distinct()
    pairs = (
        groups.alias("a")
        .join(groups.alias("b"), F.col("a.g") < F.col("b.g"))
        .select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
    )
    fanned = docs.join(
        F.broadcast(pairs),
        (F.col("g") == F.col("ga")) | (F.col("g") == F.col("gb")),
    )
    per_val = fanned.groupBy("ga", "gb", "x").agg(
        F.sum(F.when(F.col("g") == F.col("ga"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == F.col("gb"), 1).otherwise(0)).alias("cb"),
    )
    w_cum = (
        Window.partitionBy("ga", "gb")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("ga", "gb")
    cum = per_val.select(
        "ga",
        "gb",
        F.sum("ca").over(w_cum).alias("cca"),
        F.sum("cb").over(w_cum).alias("ccb"),
        F.sum("ca").over(w_tot).alias("na"),
        F.sum("cb").over(w_tot).alias("nb"),
    )
    d = cum.groupBy("ga", "gb", "na", "nb").agg(
        F.max(
            F.abs(F.col("cca") * F.col("nb") - F.col("ccb") * F.col("na"))
        ).alias("dnum")
    )
    return d.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (F.col("dnum").cast("double") / (F.col("na") * F.col("nb"))).alias(
            "ks_d"
        ),
        (
            F.col("dnum").cast("double") * F.col("dnum")
            > F.lit(_KS_C2_05)
            * (F.col("na") + F.col("nb"))
            * F.col("na")
            * F.col("nb")
        ).alias("reject_05"),
    ).orderBy("group_a", "group_b")


def source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: pairwise KS test of the document-length
    distribution across sources — the corpus-drift readout ("does
    source X ship systematically longer documents than source Y?")."""
    docs = load_table(spark, "documents", sf_dir)
    out = ks_two_sample(docs, "source", "n_chars")
    return out.select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        "n_a",
        "n_b",
        "ks_d",
        "reject_05",
    )


def _source_ks_oracle_sql() -> str:
    return f"""
        WITH g AS (SELECT DISTINCT source FROM documents),
        p AS (SELECT a.source AS sa, b.source AS sb
              FROM g a JOIN g b ON a.source < b.source),
        j AS (SELECT p.sa, p.sb, d.n_chars AS x,
                     CASE WHEN d.source = p.sa THEN 1 ELSE 0 END AS ia,
                     CASE WHEN d.source = p.sb THEN 1 ELSE 0 END AS ib
              FROM p JOIN documents d ON d.source IN (p.sa, p.sb)),
        v AS (SELECT sa, sb, x,
                     CAST(SUM(ia) AS BIGINT) AS ca,
                     CAST(SUM(ib) AS BIGINT) AS cb
              FROM j GROUP BY sa, sb, x),
        c AS (SELECT sa, sb,
                     CAST(SUM(ca) OVER (PARTITION BY sa, sb ORDER BY x) AS BIGINT) AS cca,
                     CAST(SUM(cb) OVER (PARTITION BY sa, sb ORDER BY x) AS BIGINT) AS ccb,
                     CAST(SUM(ca) OVER (PARTITION BY sa, sb) AS BIGINT) AS na,
                     CAST(SUM(cb) OVER (PARTITION BY sa, sb) AS BIGINT) AS nb
              FROM v),
        d AS (SELECT sa, sb, na, nb,
                     CAST(MAX(ABS(cca * nb - ccb * na)) AS BIGINT) AS dnum
              FROM c GROUP BY sa, sb, na, nb)
        SELECT sa AS source_a, sb AS source_b,
               na AS n_a, nb AS n_b,
               CAST(dnum AS DOUBLE) / (na * nb) AS ks_d,
               CAST(dnum AS DOUBLE) * dnum
                   > {_KS_C2_05} * (na + nb) * na * nb AS reject_05
        FROM d ORDER BY source_a, source_b
    """


QUERIES["source_length_ks"] = source_length_ks
ORACLE_SQL["source_length_ks"] = _source_ks_oracle_sql()


# ---- Theil-Sen robust trend ------------------------------------------


def theil_sen_trend(
    df: DataFrame,
    key_cols: list[str],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group Theil-Sen estimator: the MEDIAN of all pairwise slopes
    (y_j - y_i) / (x_j - x_i), x_i < x_j — the robust companion to
    ``group_trend``'s OLS (one wild outlier day moves an OLS slope
    arbitrarily; Theil-Sen tolerates ~29% contamination).

    Inputs must be exact integers (quantize doubles first, same
    contract as group_trend); each slope is then ONE double division
    of exact integers and the median is exact interpolation — both
    bit-reproducible across engines.

    Cost is O(d^2) per group, d = distinct x per group — the operator
    is for PRE-AGGREGATED series (daily/hourly rollups), where d is
    calendar-bounded (a year of daily points = 66k pairs/group), not
    raw event streams.  The pair join shuffles once on the group key;
    groups are independent.  Returns (keys, n_points, n_pairs,
    theil_slope) — slope in y-units per x-unit, rounded to 6.
    """
    pts = df.select(*key_cols, x_col, y_col)
    a = pts.alias("a")
    b = pts.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    cond.append(F.col(f"a.{x_col}") < F.col(f"b.{x_col}"))
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{k}").alias(k) for k in key_cols],
        (
            (F.col(f"b.{y_col}") - F.col(f"a.{y_col}")).cast("double")
            / (F.col(f"b.{x_col}") - F.col(f"a.{x_col}")).cast("double")
        ).alias("slope"),
    )
    counts = pts.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_points"))
    med = pairs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("percentile(slope, 0.5D)").alias("_med"),
    )
    return counts.join(med, key_cols).select(
        *key_cols, "n_points", "n_pairs", F.round("_med", 6).alias("theil_slope")
    )


def user_value_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil-Sen slope of DAILY event value (micro-unit exact
    daily totals; slope back in value-units/day) — the outlier-robust
    reading of ``user_value_trend``."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "user_id", F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x")
    ).agg(
        F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias("y")
    )
    t = theil_sen_trend(daily, ["user_id"])
    return t.where(F.col("n_points") >= 2).select(
        "user_id",
        "n_points",
        "n_pairs",
        F.round(F.col("theil_slope") / 1000000.0, 6).alias("slope_per_day"),
    ).orderBy("user_id")


def _theilsen_oracle_sql() -> str:
    return """
        WITH daily AS (
            SELECT user_id,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
                   SUM(CAST(floor(value * 1000000) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT a.user_id,
                   CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
            FROM daily a JOIN daily b
              ON a.user_id = b.user_id AND a.x < b.x
        ), counts AS (
            SELECT user_id, COUNT(*) AS n_points FROM daily GROUP BY 1
        ), med AS (
            SELECT user_id, COUNT(*) AS n_pairs,
                   quantile_cont(slope, 0.5) AS _med
            FROM pairs GROUP BY 1
        )
        SELECT user_id, CAST(n_points AS BIGINT) AS n_points,
               CAST(n_pairs AS BIGINT) AS n_pairs,
               ROUND(ROUND(_med, 6) / 1000000.0, 6) AS slope_per_day
        FROM counts JOIN med USING (user_id)
        WHERE n_points >= 2
        ORDER BY user_id
    """


QUERIES["user_value_theilsen"] = user_value_theilsen
ORACLE_SQL["user_value_theilsen"] = _theilsen_oracle_sql()


# ---- supervised categorical encodings --------------------------------

TE_SMOOTHING = 20  # pseudo-count pulled toward the global prior


def target_encode(
    df: DataFrame,
    key_cols: list[str],
    target_col: str,
    smoothing: int = TE_SMOOTHING,
) -> DataFrame:
    """Smoothed target (mean) encoding table: for each key, the
    shrunk mean  (sum_y + m * prior) / (n + m)  with prior the global
    target mean — the high-cardinality categorical encoder tree models
    want, computed distributed (one groupBy + a one-row prior
    broadcast; the key table is what ships to training, NOT a per-row
    rewrite).

    Rare keys shrink toward the prior (m pseudo-observations), so an
    unseen-at-train key can be scored with the prior itself.  Sums run
    in DECIMAL so the table is value-exact across engines and
    partitionings; the encoded value is one final double division
    rounded to 6.
    """
    dec = F.sum(F.col(target_col).cast("decimal(18,6)"))
    keyed = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"), dec.alias("sum_y")
    )
    totals = df.agg(
        F.count(F.lit(1)).alias("n_all"), dec.alias("sum_all")
    )
    return (
        keyed.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "n",
            F.round(
                (
                    F.col("sum_y").cast("double")
                    + smoothing * (F.col("sum_all").cast("double") / F.col("n_all"))
                )
                / (F.col("n") + smoothing),
                6,
            ).alias("encoded"),
        )
    )


def target_encode_loo(
    df: DataFrame,
    key_cols: list[str],
    target_col: str,
    smoothing: int = TE_SMOOTHING,
) -> DataFrame:
    """Per-ROW leave-one-out target encoding: each row's own target is
    excluded from its key's mean before shrinking —
    (sum_y - y_i + m * prior) / (n - 1 + m) — the leakage-free variant
    for encoding the TRAINING frame itself (the plain table leaks each
    row's label into its own feature; LOO is what keeps tree models
    from memorizing the target through the encoding).

    One groupBy to the key table, one equi-join back — no window, no
    per-row state.  Returns the input plus ``encoded_loo``.
    """
    dec = F.sum(F.col(target_col).cast("decimal(18,6)"))
    keyed = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("__n"), dec.alias("__sum_y")
    )
    totals = df.agg(F.count(F.lit(1)).alias("__n_all"), dec.alias("__sum_all"))
    return (
        df.join(keyed, key_cols)
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "encoded_loo",
            F.round(
                (
                    F.col("__sum_y").cast("double")
                    - F.col(target_col)
                    + smoothing
                    * (F.col("__sum_all").cast("double") / F.col("__n_all"))
                )
                / (F.col("__n") - 1 + smoothing),
                6,
            ),
        )
        .drop("__n", "__sum_y", "__n_all", "__sum_all")
    )


def woe_encode(
    df: DataFrame,
    key_cols: list[str],
    flag_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence table for a BINARY target:
    ln( (pos_k + a)/(POS + 2a) / ((neg_k + a)/(NEG + 2a)) ) per key —
    the credit-scoring / feature-screening encoder, with add-a
    smoothing so empty cells stay finite.  Also emits each key's IV
    contribution (information value term), whose sum screens the
    feature.  One groupBy + a one-row (POS, NEG) broadcast; exact
    integer counts, one final log in double, rounded to 6.
    """
    flag = F.col(flag_col).cast("int")
    keyed = df.groupBy(*key_cols).agg(
        F.sum(flag).alias("pos"),
        F.sum(1 - flag).alias("neg"),
    )
    totals = df.agg(
        F.sum(flag).alias("pos_all"), F.sum(1 - flag).alias("neg_all")
    )
    p = (F.col("pos") + alpha) / (F.col("pos_all") + 2 * alpha)
    q = (F.col("neg") + alpha) / (F.col("neg_all") + 2 * alpha)
    return (
        keyed.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "pos",
            "neg",
            F.round(F.log(p / q), 6).alias("woe"),
            F.round((p - q) * F.log(p / q), 6).alias("iv_term"),
        )
    )


def event_type_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: smoothed mean-value encoding of event_type plus
    weight-of-evidence of day-of-week for predicting a purchase."""
    ev = load_table(spark, "events", sf_dir)
    te = target_encode(ev, ["event_type"], "value")
    woe = woe_encode(
        ev.withColumn("dow", F.dayofweek("ts")).withColumn(
            "is_purchase", (F.col("event_type") == "purchase").cast("int")
        ),
        ["dow"],
        "is_purchase",
    ).select(
        F.concat(F.lit("dow_"), F.col("dow")).alias("event_type"),
        F.lit(None).cast("bigint").alias("n"),
        F.col("woe").alias("encoded"),
    )
    base = te.select("event_type", "n", "encoded")
    return base.unionByName(woe).orderBy("event_type")


def _target_encoding_sql() -> str:
    return f"""
        WITH te AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_y
            FROM events GROUP BY 1
        ), tot AS (
            SELECT COUNT(*) AS n_all,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_all
            FROM events
        ), base AS (
            SELECT event_type, n,
                   ROUND((sum_y + {TE_SMOOTHING} * (sum_all / n_all))
                         / (n + {TE_SMOOTHING}), 6) AS encoded
            FROM te CROSS JOIN tot
        ), flags AS (
            SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS f
            FROM events
        ), keyed AS (
            SELECT dow, CAST(SUM(f) AS BIGINT) AS pos,
                   CAST(SUM(1 - f) AS BIGINT) AS neg
            FROM flags GROUP BY 1
        ), wtot AS (
            SELECT CAST(SUM(f) AS BIGINT) AS P, CAST(SUM(1 - f) AS BIGINT) AS N
            FROM flags
        ), woe AS (
            SELECT 'dow_' || dow AS event_type,
                   CAST(NULL AS BIGINT) AS n,
                   ROUND(ln(((pos + 0.5) / (P + 1.0)) / ((neg + 0.5) / (N + 1.0))), 6) AS encoded
            FROM keyed CROSS JOIN wtot
        )
        SELECT * FROM base
        UNION ALL
        SELECT * FROM woe
        ORDER BY event_type
    """


QUERIES["event_type_target_encoding"] = event_type_target_encoding
ORACLE_SQL["event_type_target_encoding"] = _target_encoding_sql()


# ---- Poisson-bootstrap confidence intervals ---------------------------

BOOT_REPS = 40       # bootstrap replicates (columns of the weight matrix)
BOOT_ALPHA_PPM = 25_000  # 2.5% per tail -> 95% percentile interval
# Poisson(1) CDF in exact ppm: P(K<=k) for k=0..4; u >= the last
# threshold draws weight 5 (P cut off at ~3.7e-3, negligible mass).
_POIS_CDF_PPM = (367879, 735759, 919699, 981012, 996340)
_BOOT_M31 = 2_147_483_647
_BOOT_KNUTH = 2_654_435_761
_BOOT_SALT = 40_503
_BOOT_MOD32 = 4_294_967_296


def _boot_weight_sql(unit: str, rep: str, salt: str) -> str:
    """Deterministic Poisson(1) bootstrap weight as portable SQL: a
    Knuth multiplicative hash of (unit, replicate, salt) folded to a
    uniform ppm draw, then inverted through the exact integer Poisson
    CDF. All-BIGINT arithmetic on non-negative operands (max product
    ~5.7e18 < 2^63), so Spark and DuckDB agree bit-for-bit."""
    u = (
        f"(({unit} % {_BOOT_M31}) * {_BOOT_KNUTH}"
        f" + ({rep} * 31 + {salt}) * {_BOOT_SALT}) % {_BOOT_MOD32} % 1000000"
    )
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF_PPM)
    )
    return f"(CASE {cases} ELSE 5 END)"


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    key_cols: list[str],
    unit_col: str,
    value_col: str,
    n_reps: int = BOOT_REPS,
    alpha_ppm: int = BOOT_ALPHA_PPM,
) -> DataFrame:
    """Per-group bootstrap percentile CI for the mean of per-UNIT value
    totals, in ONE distributed pass (Poisson bootstrap): instead of
    materializing R resampled datasets, every unit row draws R
    independent Poisson(1) weights — the large-n limit of multinomial
    resampling — and each weighted mean is one bootstrap replicate.

    Exactness/determinism contract: unit totals are exact micro-unit
    BIGINTs; weights come from a Knuth-hash uniform inverted through
    the integer Poisson CDF (no RNG state, reproducible across engines,
    retries and partitionings); each replicate mean is ONE double
    division of exact integer sums rounded to 6 (the ``group_trend`` /
    ``theil_sen_trend`` contract).  The interval is exact order
    statistics of the R replicate means: ranks floor(alpha*R)+1 and
    R - floor(alpha*R) ascending (2 and 39 for R=40, alpha=2.5%).

    Scale: the explode multiplies the UNIT frame (already one row per
    unit, far smaller than the event frame) by R before a map-side
    partial aggregation compresses it to |keys| x R rows; the final
    per-key state is one sorted R-element array.  No per-unit shuffle,
    no driver collection, R tunes cost linearly.  The randomization
    unit is whatever ``unit_col`` names (cluster bootstrap comes free
    by choosing the unit).
    """
    y = F.expr(f"CAST(floor({value_col} * 1000000) AS BIGINT)")
    units = df.groupBy(*key_cols, unit_col).agg(F.sum(y).alias("y"))
    return bootstrap_ci_from_units(units, key_cols, unit_col, n_reps, alpha_ppm)


def bootstrap_ci_from_units(
    units: DataFrame,
    key_cols: list[str],
    unit_col: str,
    n_reps: int = BOOT_REPS,
    alpha_ppm: int = BOOT_ALPHA_PPM,
) -> DataFrame:
    """CI stage of the Poisson bootstrap over an ALREADY-AGGREGATED
    unit frame (one row per key x unit with exact micro total ``y``) —
    exposed separately so an incrementally-maintained unit state (the
    streaming face) reuses the identical weight/order-statistic
    arithmetic and stays bit-equal to the batch operator."""
    salt = f"ascii(substr(CAST({key_cols[0]} AS STRING), 1, 1))"
    w = _boot_weight_sql(f"CAST({unit_col} AS BIGINT)", "r", salt)
    reps = units.select(
        *key_cols,
        unit_col,
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("r"),
    ).select(*key_cols, "y", "r", F.expr(w).alias("w"))
    rep_means = (
        reps.groupBy(*key_cols, "r")
        .agg(F.sum(F.col("w") * F.col("y")).alias("swy"), F.sum("w").alias("sw"))
        .where(F.col("sw") > 0)
        .select(
            *key_cols,
            F.round(
                F.col("swy").cast("double")
                / (F.col("sw").cast("double") * 1000000.0),
                6,
            ).alias("mr"),
        )
    )
    lo_rank = f"CAST(floor(size(arr) * {alpha_ppm} / 1000000) + 1 AS INT)"
    hi_rank = f"CAST(size(arr) - floor(size(arr) * {alpha_ppm} / 1000000) AS INT)"
    ci = (
        rep_means.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("mr")).alias("arr"))
        .select(
            *key_cols,
            F.expr(f"element_at(arr, {lo_rank})").alias("boot_lo"),
            F.expr(f"element_at(arr, {hi_rank})").alias("boot_hi"),
        )
    )
    point = units.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_units"),
        F.round(
            F.sum("y").cast("double") / (F.count(F.lit(1)) * 1000000.0), 6
        ).alias("mean_value"),
    )
    return point.join(ci, key_cols).select(
        *key_cols, "n_units", "mean_value", "boot_lo", "boot_hi"
    )


def event_value_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: 95% Poisson-bootstrap CI for the mean per-USER
    value total of each event type (the uncertainty readout every
    KPI mean should ship with; the user is the resampling unit, so
    within-user correlation is respected)."""
    ev = load_table(spark, "events", sf_dir)
    out = poisson_bootstrap_mean_ci(ev, ["event_type"], "user_id", "value")
    return out.orderBy("event_type")


def _bootstrap_oracle_sql() -> str:
    w = _boot_weight_sql(
        "CAST(user_id AS BIGINT)", "r", "ascii(substr(event_type, 1, 1))"
    )
    a = BOOT_ALPHA_PPM
    return f"""
        WITH units AS (
            SELECT event_type, user_id,
                   CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), reps AS (
            SELECT u.event_type, t.r, u.y, {w} AS w
            FROM units u
            CROSS JOIN (SELECT CAST(range AS BIGINT) AS r FROM range({BOOT_REPS})) t
        ), rep_means AS (
            SELECT event_type,
                   ROUND(CAST(CAST(SUM(w * y) AS BIGINT) AS DOUBLE)
                         / (CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) * 1000000.0),
                         6) AS mr
            FROM reps GROUP BY event_type, r
            HAVING CAST(SUM(w) AS BIGINT) > 0
        ), ci AS (
            SELECT event_type, list_sort(list(mr)) AS arr
            FROM rep_means GROUP BY 1
        ), point AS (
            SELECT event_type, COUNT(*) AS n_units,
                   ROUND(CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE)
                         / (COUNT(*) * 1000000.0), 6) AS mean_value
            FROM units GROUP BY 1
        )
        SELECT p.event_type, p.n_units, p.mean_value,
               arr[CAST(floor(len(arr) * {a} / 1000000) + 1 AS INT)] AS boot_lo,
               arr[CAST(len(arr) - floor(len(arr) * {a} / 1000000) AS INT)] AS boot_hi
        FROM point p JOIN ci USING (event_type)
        ORDER BY event_type
    """


QUERIES["event_value_bootstrap"] = event_value_bootstrap
ORACLE_SQL["event_value_bootstrap"] = _bootstrap_oracle_sql()


# ---- empirical-Bayes rate shrinkage -----------------------------------

EB_TOP = 50


def eb_shrunk_rates(
    df: DataFrame,
    key_cols: list[str],
    flag_col: str,
    top: int = EB_TOP,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-key event rates: a Beta prior
    is moment-matched from the population of per-key rates, then every
    key's rate is shrunk to (k + alpha) / (n + alpha + beta) — the
    standard fix for 'this item has a 100% rate... over 2 trials'
    before ranking small-sample rates.  Differs from the fixed-m
    smoothing in ``target_encode``: the prior STRENGTH is learned from
    the data's own dispersion.

    Exactness: per-key (n, k) are exact; each key's rate is quantized
    to integer ppm BEFORE the population moments, so the prior's
    mean/variance come from exact BIGINT sums (no float summation
    order), and alpha/beta plus each shrunk rate are single double
    expressions.  Two aggregation passes plus a one-row prior
    broadcast; top-k bound on the output.
    """
    keyed = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.expr(flag_col), 1).otherwise(0)).alias("k"),
    )
    keyed = keyed.withColumn("r_ppm", F.expr("CAST(k * 1000000 DIV n AS BIGINT)"))
    moments = keyed.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("r_ppm").alias("sr"),
        F.sum(F.expr("r_ppm * r_ppm")).alias("srr"),
    )
    mean = "(CAST(sr AS DOUBLE) / CAST(n_keys AS DOUBLE) / 1000000.0)"
    var = (
        f"((CAST(srr AS DOUBLE) / CAST(n_keys AS DOUBLE) / 1.0e12)"
        f" - {mean} * {mean})"
    )
    strength = f"(CASE WHEN {var} > 0.0 THEN greatest({mean} * (1.0 - {mean}) / {var} - 1.0, 1.0) ELSE 1.0 END)"
    alpha = f"({strength} * {mean})"
    beta = f"({strength} * (1.0 - {mean}))"
    return (
        keyed.crossJoin(F.broadcast(moments))
        .select(
            *key_cols,
            "n",
            "k",
            "r_ppm",
            F.round(F.expr(alpha), 6).alias("prior_alpha"),
            F.round(F.expr(beta), 6).alias("prior_beta"),
            F.round(
                F.expr(f"(k + {alpha}) / (n + {strength})"), 6
            ).alias("shrunk_rate"),
        )
        .orderBy(F.desc("shrunk_rate"), *key_cols)
        .limit(top)
    )


def part_return_rate_eb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: top-50 parts by EB-shrunk return rate — the
    ranking that doesn't crown a 2-shipment part with one return."""
    li = load_table(spark, "lineitem", sf_dir)
    return eb_shrunk_rates(li, ["l_partkey"], "l_returnflag = 'R'")


def _eb_oracle_sql() -> str:
    mean = "(CAST(sr AS DOUBLE) / CAST(n_keys AS DOUBLE) / 1000000.0)"
    var = (
        f"((CAST(srr AS DOUBLE) / CAST(n_keys AS DOUBLE) / 1.0e12)"
        f" - {mean} * {mean})"
    )
    strength = f"(CASE WHEN {var} > 0.0 THEN greatest({mean} * (1.0 - {mean}) / {var} - 1.0, 1.0) ELSE 1.0 END)"
    alpha = f"({strength} * {mean})"
    beta = f"({strength} * (1.0 - {mean}))"
    return f"""
        WITH keyed AS (
            SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM lineitem GROUP BY 1
        ), q AS (
            SELECT *, CAST(k * 1000000 // n AS BIGINT) AS r_ppm FROM keyed
        ), moments AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(r_ppm) AS BIGINT) AS sr,
                   CAST(SUM(r_ppm * r_ppm) AS BIGINT) AS srr
            FROM q
        )
        SELECT l_partkey, n, k, r_ppm,
               ROUND({alpha}, 6) AS prior_alpha,
               ROUND({beta}, 6) AS prior_beta,
               ROUND((k + {alpha}) / (n + {strength}), 6) AS shrunk_rate
        FROM q CROSS JOIN moments
        ORDER BY shrunk_rate DESC, l_partkey
        LIMIT {EB_TOP}
    """


QUERIES["part_return_rate_eb"] = part_return_rate_eb
ORACLE_SQL["part_return_rate_eb"] = _eb_oracle_sql()


# ---- quantile-quantile comparison -------------------------------------

QQ_DECILES = tuple(range(10, 100, 10))


def qq_table(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Q-Q comparison table between two groups' value distributions:
    nearest-rank deciles (rank = ceil(p*n/100), an exact order
    statistic — no interpolation, engine-identical) side by side with
    their differences.  The distribution-shift readout that says WHERE
    two slices diverge, where KS only says IF.  One window per group
    over the filtered frame; nine rows out.
    """
    ranked = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .select(group_col, F.col(value_col).alias("v"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(group_col).orderBy("v")
            ),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy(group_col))
        )
    )
    ps = F.explode(F.array(*[F.lit(p) for p in QQ_DECILES])).alias("p")
    picked = (
        ranked.select(group_col, "v", "rn", "n")
        .select(group_col, "v", "rn", "n", ps)
        .where(F.col("rn") == F.expr("CAST(ceil(p * n / 100.0) AS BIGINT)"))
        .groupBy("p")
        .pivot(group_col, [group_a, group_b])
        .agg(F.first("v"))
    )
    return picked.select(
        F.col("p").alias("percentile"),
        F.col(group_a).alias("q_a"),
        F.col(group_b).alias("q_b"),
        (F.col(group_b) - F.col(group_a)).alias("diff"),
    ).orderBy("percentile")


def source_length_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: where do src0 and src1 document-length
    distributions diverge? Nearest-rank decile Q-Q."""
    docs = load_table(spark, "documents", sf_dir)
    return qq_table(docs, "source", "n_chars", "src0", "src1")


def _qq_oracle_sql() -> str:
    ps = ", ".join(str(p) for p in QQ_DECILES)
    return f"""
        WITH ranked AS (
            SELECT source, n_chars AS v,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM documents WHERE source IN ('src0', 'src1')
        ), picked AS (
            SELECT p, source, v
            FROM ranked CROSS JOIN (SELECT UNNEST([{ps}]) AS p) t
            WHERE rn = CAST(ceil(p * n / 100.0) AS BIGINT)
        )
        SELECT CAST(p AS INTEGER) AS percentile,
               MAX(CASE WHEN source = 'src0' THEN v END) AS q_a,
               MAX(CASE WHEN source = 'src1' THEN v END) AS q_b,
               MAX(CASE WHEN source = 'src1' THEN v END)
                   - MAX(CASE WHEN source = 'src0' THEN v END) AS diff
        FROM picked GROUP BY p ORDER BY percentile
    """


QUERIES["source_length_qq"] = source_length_qq
ORACLE_SQL["source_length_qq"] = _qq_oracle_sql()


# ---- jackknife CI for ratio metrics -----------------------------------

JK_BUCKETS = 32


def jackknife_ratio_ci(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    n_buckets: int = JK_BUCKETS,
) -> DataFrame:
    """Delete-one-bucket jackknife CI for a RATIO metric
    (sum(value) / count(rows)) — the standard inference for ratio
    metrics, where per-row bootstrap/CLT math is wrong because both
    numerator and denominator are random: units are hashed into
    ``n_buckets`` buckets, each pseudo-value is
    B*R - (B-1)*R_without_bucket, and the CI is the t-style interval
    over the B pseudo-values.

    Exactness: bucket sums are exact BIGINT micros/counts; every
    downstream expression runs over the SORTED B-element struct array
    with left-fold ``aggregate`` sums, so there is no row-order float
    summation anywhere and DuckDB's ``list_reduce`` replays the same
    fold bit-for-bit.  One aggregation shuffle to B rows, then a
    single-row finish.
    """
    b = F.pmod(
        (F.pmod(F.col(unit_col).cast("bigint"), F.lit(2_147_483_648)) * 2_654_435_761)
        % 4_294_967_296,
        F.lit(n_buckets),
    )
    micro = F.expr(f"CAST(floor({value_col} * 1000000) AS BIGINT)")
    buckets = (
        df.select(b.alias("b"), micro.alias("y"))
        .groupBy("b")
        .agg(F.sum("y").alias("y_b"), F.count(F.lit(1)).alias("n_b"))
    )
    arr = buckets.agg(
        F.sort_array(F.collect_list(F.struct("b", "y_b", "n_b"))).alias("arr")
    )
    B = "size(arr)"
    Y = "aggregate(arr, 0L, (acc, s) -> acc + s.y_b)"
    N = "aggregate(arr, 0L, (acc, s) -> acc + s.n_b)"
    ratio = f"(CAST({Y} AS DOUBLE) / CAST({N} AS DOUBLE))"
    pv = (
        f"transform(arr, s -> CAST({B} AS DOUBLE) * {ratio}"
        f" - CAST({B} - 1 AS DOUBLE)"
        f" * (CAST({Y} - s.y_b AS DOUBLE) / CAST({N} - s.n_b AS DOUBLE)))"
    )
    mean = f"(aggregate({pv}, 0D, (acc, x) -> acc + x) / CAST({B} AS DOUBLE))"
    var = (
        f"(aggregate({pv}, 0D, (acc, x) -> acc + (x - {mean}) * (x - {mean}))"
        f" / (CAST({B} AS DOUBLE) * CAST({B} - 1 AS DOUBLE)))"
    )
    return arr.select(
        F.expr(f"CAST({B} AS INT)").alias("n_buckets"),
        F.expr(f"ROUND({ratio} / 1000000.0, 6)").alias("ratio"),
        F.expr(f"ROUND({mean} / 1000000.0, 6)").alias("jk_mean"),
        F.expr(f"ROUND(sqrt({var}) / 1000000.0, 6)").alias("se"),
        F.expr(
            f"ROUND(({mean} - 1.959964 * sqrt({var})) / 1000000.0, 6)"
        ).alias("ci_lo"),
        F.expr(
            f"ROUND(({mean} + 1.959964 * sqrt({var})) / 1000000.0, 6)"
        ).alias("ci_hi"),
    )


def value_per_event_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: mean value per EVENT with a user-bucketed
    jackknife CI (the ratio's denominator is a count, so per-user
    bootstrap-of-means would answer a different question)."""
    ev = load_table(spark, "events", sf_dir)
    return jackknife_ratio_ci(ev, "user_id", "value")


def _jackknife_oracle_sql() -> str:
    B = "len(arr)"
    Y = "list_reduce(list_transform(arr, s -> s.y_b), (acc, x) -> acc + x)"
    N = "list_reduce(list_transform(arr, s -> s.n_b), (acc, x) -> acc + x)"
    ratio = f"(CAST({Y} AS DOUBLE) / CAST({N} AS DOUBLE))"
    pv = (
        f"list_transform(arr, s -> CAST({B} AS DOUBLE) * {ratio}"
        f" - CAST({B} - 1 AS DOUBLE)"
        f" * (CAST({Y} - s.y_b AS DOUBLE) / CAST({N} - s.n_b AS DOUBLE)))"
    )
    # DuckDB list_reduce has no init element: seed the fold with an
    # explicit leading 0.0 so the fold order matches Spark's aggregate
    mean = (
        f"(list_reduce(list_prepend(0.0, {pv}), (acc, x) -> acc + x)"
        f" / CAST({B} AS DOUBLE))"
    )
    var = (
        f"(list_reduce(list_prepend(0.0, list_transform({pv},"
        f" x -> (x - {mean}) * (x - {mean}))), (acc, x) -> acc + x)"
        f" / (CAST({B} AS DOUBLE) * CAST({B} - 1 AS DOUBLE)))"
    )
    return f"""
        WITH buckets AS (
            SELECT ((user_id % 2147483648) * 2654435761) % 4294967296 % {JK_BUCKETS} AS b,
                   CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS y_b,
                   CAST(COUNT(*) AS BIGINT) AS n_b
            FROM events GROUP BY 1
        ), arr_t AS (
            SELECT list_sort(list(struct_pack(b := b, y_b := y_b, n_b := n_b))) AS arr
            FROM buckets
        )
        SELECT CAST({B} AS INTEGER) AS n_buckets,
               ROUND({ratio} / 1000000.0, 6) AS ratio,
               ROUND({mean} / 1000000.0, 6) AS jk_mean,
               ROUND(sqrt({var}) / 1000000.0, 6) AS se,
               ROUND(({mean} - 1.959964 * sqrt({var})) / 1000000.0, 6) AS ci_lo,
               ROUND(({mean} + 1.959964 * sqrt({var})) / 1000000.0, 6) AS ci_hi
        FROM arr_t
    """


QUERIES["value_per_event_jackknife"] = value_per_event_jackknife
ORACLE_SQL["value_per_event_jackknife"] = _jackknife_oracle_sql()


# ---- rank correlation: Spearman rho + Kendall tau-b ---------------------
#
# The monotone-association pair the Pearson face (embedding_corr /
# feature_corr) cannot see: does daily click VOLUME move with daily
# purchase REVENUE even when the relationship is nonlinear?  Both run
# on the aggregated daily series (bounded by the calendar, not the
# data volume), so at 100 TB the only full-data pass is the one
# groupBy(day) aggregation; everything after is a few-hundred-row
# frame.  Exactness discipline mirrors acf/ccf: integer rank
# arithmetic end-to-end, one DOUBLE division at the very end.


def spearman_corr(
    series: DataFrame, t_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Spearman rank correlation with a DETERMINISTIC total order:
    ranks are ROW_NUMBER over (value, t_col), so ties break by time
    identically on every engine and rho = 1 - 6*sum(d^2) / (n^3 - n)
    is exact integer arithmetic until the final division.
    """
    wx = Window.orderBy(x_col, t_col)
    wy = Window.orderBy(y_col, t_col)
    ranked = series.select(
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d2).cast("long").alias("sum_d2"),
    )
    rho = 1 - (6 * F.col("sum_d2")).cast("double") / (
        F.col("n").cast("long") * F.col("n") * F.col("n") - F.col("n")
    )
    return g.select("n", "sum_d2", F.round(rho, 6).alias("rho"))


def _daily_clicks_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, clicks, rev): click count and purchase revenue in integer
    micros per calendar day of the events log."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")
        ).alias("clicks"),
        F.sum(
            F.expr(
                "CASE WHEN event_type = 'purchase'"
                " THEN CAST(floor(value * 1000000) AS BIGINT) ELSE 0 END"
            )
        ).alias("rev"),
    )


def daily_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: Spearman rho of daily click count vs daily
    purchase revenue (micros) — the nonparametric marketing-to-revenue
    association readout."""
    return spearman_corr(_daily_clicks_revenue(spark, sf_dir), "day", "clicks", "rev")


def _spearman_oracle_sql() -> str:
    return """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(floor(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev
            FROM events GROUP BY 1
        ), ranked AS (
            SELECT ROW_NUMBER() OVER (ORDER BY clicks, day) AS rx,
                   ROW_NUMBER() OVER (ORDER BY rev, day) AS ry
            FROM daily
        ), g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
            FROM ranked
        )
        SELECT n, sum_d2,
               ROUND(1 - CAST(6 * sum_d2 AS DOUBLE) / (n * n * n - n), 6) AS rho
        FROM g
    """


QUERIES["daily_spearman"] = daily_spearman
ORACLE_SQL["daily_spearman"] = _spearman_oracle_sql()


def kendall_tau(
    series: DataFrame, t_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Kendall tau-b from exact pair counts: all t<t' pairs of the
    aggregated series are classified concordant / discordant / tied,
    and tau_b = (C - D) / sqrt((n0 - tx) * (n0 - ty)) is one DOUBLE
    expression over those integers.  The self-join is quadratic in the
    SERIES length (calendar days), not the event count — the pair
    frame never leaves a few-thousand rows even at 100 TB, and Spark
    broadcasts the smaller side.
    """
    a = series.select(
        F.col(t_col).alias("ta"), F.col(x_col).alias("xa"), F.col(y_col).alias("ya")
    )
    b = series.select(
        F.col(t_col).alias("tb"), F.col(x_col).alias("xb"), F.col(y_col).alias("yb")
    )
    pairs = a.join(b, F.col("ta") < F.col("tb"))
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    g = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias("concordant"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias("discordant"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0))
        .cast("long")
        .alias("ties_x"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0))
        .cast("long")
        .alias("ties_y"),
    )
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        ((F.col("n0") - F.col("ties_x")) * (F.col("n0") - F.col("ties_y"))).cast(
            "double"
        )
    )
    return g.select(
        F.col("n0").cast("long").alias("n_pairs"),
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.round(tau, 6).alias("tau_b"),
    )


def daily_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: Kendall tau-b of daily click count vs daily
    purchase revenue — the outlier-robust companion to
    ``daily_spearman`` (a single wild day moves rho by whole rank
    positions but each pair only once here)."""
    return kendall_tau(_daily_clicks_revenue(spark, sf_dir), "day", "clicks", "rev")


def _kendall_oracle_sql() -> str:
    return """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(floor(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev
            FROM daily_src GROUP BY 1
        ), pairs AS (
            SELECT a.clicks AS xa, a.rev AS ya, b.clicks AS xb, b.rev AS yb
            FROM daily a JOIN daily b ON a.day < b.day
        ), g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                   CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ty
            FROM pairs
        )
        SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
               tx AS ties_x, ty AS ties_y,
               ROUND(CAST(c - d AS DOUBLE)
                     / sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)), 6) AS tau_b
        FROM g
    """.replace("daily_src", "events")


QUERIES["daily_kendall"] = daily_kendall
ORACLE_SQL["daily_kendall"] = _kendall_oracle_sql()


# ---- winsorized mean -----------------------------------------------------


def winsorized_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    order_tiebreak: str,
    trim_ppm: int = TRIM_PPM,
) -> DataFrame:
    """Per-group winsorized mean: CLAMP (don't drop) the k lowest
    values to the (k+1)-th and the k highest to the (n-k)-th, k =
    floor(n * trim_ppm / 1e6) — `trimmed_mean`'s companion that keeps
    n constant, so downstream per-row math stays aligned.  Integer
    identity: winsorized sum = mid-rank sum + k*lo + k*hi, all exact
    DECIMAL until the final divide.  Same ``_group_ranks`` window as
    the trimmed face.
    """
    ranked = _group_ranks(df, group_cols, value_col, order_tiebreak).withColumn(
        "k", F.expr(f"(n * {trim_ppm}) div 1000000")
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("k").cast("long").alias("n_clamped_each_side"),
            F.max(F.when(F.col("rk") == F.col("k") + 1, F.col("v"))).alias("lo"),
            F.max(F.when(F.col("rk") == F.col("n") - F.col("k"), F.col("v"))).alias(
                "hi"
            ),
            F.expr(
                "SUM(CASE WHEN rk > k AND rk <= n - k"
                " THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END)"
            ).alias("mid_sum"),
        )
        .select(
            *group_cols,
            "n",
            "n_clamped_each_side",
            F.expr("ROUND(CAST(lo AS DOUBLE) / 1000000.0, 6)").alias("lo_clamp"),
            F.expr("ROUND(CAST(hi AS DOUBLE) / 1000000.0, 6)").alias("hi_clamp"),
            F.expr(
                "ROUND(CAST(mid_sum + CAST(n_clamped_each_side AS DECIMAL(38,0))"
                " * (lo + hi) AS DOUBLE) / n / 1000000.0, 6)"
            ).alias("winsorized_mean"),
        )
        .orderBy(*group_cols)
    )


def event_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-winsorized mean of event value per event type — read beside
    `event_value_trimmed`: a big trimmed-vs-winsorized gap means the
    tail mass sits just past the clamp points."""
    return winsorized_mean(
        _event_value_micros(spark, sf_dir), ["event_type"], "v_micros", "event_id"
    )


def _winsorized_oracle_sql(trim_ppm: int = TRIM_PPM) -> str:
    return f"""
        WITH ranked AS (
            SELECT event_type,
                   CAST(floor(value * 1000000) AS BIGINT) AS v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY CAST(floor(value * 1000000) AS BIGINT), event_id) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ), kd AS (
            SELECT *, CAST(n * {trim_ppm} AS BIGINT) // 1000000 AS k FROM ranked
        ), g AS (
            SELECT event_type,
                   CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MAX(k) AS BIGINT) AS n_clamped_each_side,
                   MAX(CASE WHEN rk = k + 1 THEN v END) AS lo,
                   MAX(CASE WHEN rk = n - k THEN v END) AS hi,
                   SUM(CASE WHEN rk > k AND rk <= n - k
                       THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS mid_sum
            FROM kd GROUP BY event_type
        )
        SELECT event_type, n, n_clamped_each_side,
               ROUND(lo / 1000000.0, 6) AS lo_clamp,
               ROUND(hi / 1000000.0, 6) AS hi_clamp,
               ROUND(CAST(mid_sum + CAST(n_clamped_each_side AS DECIMAL(38,0))
                     * (lo + hi) AS DOUBLE) / n / 1000000.0, 6) AS winsorized_mean
        FROM g ORDER BY event_type
    """


QUERIES["event_value_winsorized"] = event_value_winsorized
ORACLE_SQL["event_value_winsorized"] = _winsorized_oracle_sql()


# ---- distribution-free median CI --------------------------------------------

_MCI_Z = 1.959964


def median_ci(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    order_tiebreak: str,
) -> DataFrame:
    """Distribution-free 95% CI for the median by ORDER STATISTICS: the
    CI endpoints are the values at ranks n/2 -/+ z*sqrt(n)/2 (the
    binomial normal approximation) — valid for ANY distribution, no
    bootstrap resampling, one rank window per group.

    Ranks come from one shared float composition over the exact count
    then clamp to [1, n]; endpoint lookup rides the same
    (group)-partitioned rank window as the median itself."""
    ranked = _group_ranks(df, group_cols, value_col, order_tiebreak)
    r_med = "CAST(ceil(n / 2.0) AS BIGINT)"
    r_lo = (
        f"GREATEST(CAST(floor((n - {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0)"
        f" AS BIGINT), CAST(1 AS BIGINT))"
    )
    r_hi = (
        f"LEAST(CAST(ceil(1 + (n + {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0)"
        f" AS BIGINT), CAST(n AS BIGINT))"
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max(F.expr(f"CASE WHEN rk = {r_med} THEN v END")).alias("med_v"),
            F.max(F.expr(f"CASE WHEN rk = {r_lo} THEN v END")).alias("lo_v"),
            F.max(F.expr(f"CASE WHEN rk = {r_hi} THEN v END")).alias("hi_v"),
        )
        .select(
            *group_cols,
            "n",
            F.expr("ROUND(CAST(med_v AS DOUBLE) / 1000000.0, 6)").alias(
                "median"
            ),
            F.expr("ROUND(CAST(lo_v AS DOUBLE) / 1000000.0, 6)").alias(
                "ci_lo"
            ),
            F.expr("ROUND(CAST(hi_v AS DOUBLE) / 1000000.0, 6)").alias(
                "ci_hi"
            ),
        )
        .orderBy(*group_cols)
    )


def event_value_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: median event value per type with its
    distribution-free 95% CI — the robust center with honest
    uncertainty and zero distributional assumptions."""
    return median_ci(
        _event_value_micros(spark, sf_dir), ["event_type"], "v_micros", "event_id"
    )


def _median_ci_sql() -> str:
    r_med = "CAST(ceil(n / 2.0) AS BIGINT)"
    r_lo = (
        f"GREATEST(CAST(floor((n - {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0)"
        f" AS BIGINT), CAST(1 AS BIGINT))"
    )
    r_hi = (
        f"LEAST(CAST(ceil(1 + (n + {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0)"
        f" AS BIGINT), CAST(n AS BIGINT))"
    )
    return f"""
        WITH ranked AS (
            SELECT event_type,
                   CAST(floor(value * 1000000) AS BIGINT) AS v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY CAST(floor(value * 1000000) AS BIGINT), event_id) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n,
               ROUND(CAST(MAX(CASE WHEN rk = {r_med} THEN v END) AS DOUBLE)
                     / 1000000.0, 6) AS median,
               ROUND(CAST(MAX(CASE WHEN rk = {r_lo} THEN v END) AS DOUBLE)
                     / 1000000.0, 6) AS ci_lo,
               ROUND(CAST(MAX(CASE WHEN rk = {r_hi} THEN v END) AS DOUBLE)
                     / 1000000.0, 6) AS ci_hi
        FROM ranked GROUP BY event_type ORDER BY event_type
    """


QUERIES["event_value_median_ci"] = event_value_median_ci
ORACLE_SQL["event_value_median_ci"] = _median_ci_sql()


# ---- pairwise daily-volume rank correlation ----------------------------------


def event_volume_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rho between event TYPES' daily volumes — the
    co-movement matrix ('do errors spike with clicks?') that decides
    which metrics can share an anomaly detector and which need their
    own.  Ranks are computed over each pair's SHARED days (join on day
    FIRST, then ROW_NUMBER within the pair) so both rank vectors are
    permutations of 1..n_days and rho stays in [-1, 1] even when a
    type skips days — ranking each type over its own active days and
    then inner-joining would break that invariant.  Deterministic via
    the day tiebreak; each pair's exact integer sum d^2 folds to one
    rho division.  Work: one daily aggregate, then |types|^2-bounded
    windows over the shared calendar frame.
    """
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.col("event_type").alias("et"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select(
        F.col("et").alias("ta"), "day", F.col("n").alias("na")
    )
    b = daily.select(
        F.col("et").alias("tb"), "day", F.col("n").alias("nb")
    )
    shared = a.join(b, "day").where(F.col("ta") < F.col("tb"))
    wa = Window.partitionBy("ta", "tb").orderBy("na", "day")
    wb = Window.partitionBy("ta", "tb").orderBy("nb", "day")
    pairs = shared.select(
        "ta",
        "tb",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    g = pairs.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
        ).cast("long").alias("sum_d2"),
    )
    rho = (
        "1 - CAST(6 * sum_d2 AS DOUBLE)"
        " / (CAST(n_days AS BIGINT) * n_days * n_days - n_days)"
    )
    return g.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n_days").cast("long").alias("n_days"),
        "sum_d2",
        F.expr(f"ROUND({rho}, 6)").alias("rho"),
    ).orderBy("type_a", "type_b")


def _volume_spearman_sql() -> str:
    return """
        WITH daily AS (
            SELECT event_type AS et, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ), shared AS (
            SELECT a.et AS ta, b.et AS tb, a.day AS day,
                   a.n AS na, b.n AS nb
            FROM daily a JOIN daily b ON a.day = b.day AND a.et < b.et
        ), pairs AS (
            SELECT ta, tb,
                   ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY na, day) AS ra,
                   ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY nb, day) AS rb
            FROM shared
        ), g AS (
            SELECT ta, tb,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
            FROM pairs GROUP BY ta, tb
        )
        SELECT ta AS type_a, tb AS type_b, n_days, sum_d2,
               ROUND(1 - CAST(6 * sum_d2 AS DOUBLE)
                     / (n_days * n_days * n_days - n_days), 6) AS rho
        FROM g ORDER BY type_a, type_b
    """


QUERIES["event_volume_spearman"] = event_volume_spearman
ORACLE_SQL["event_volume_spearman"] = _volume_spearman_sql()


# ---- one-way ANOVA ----------------------------------------------------------


def revenue_dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily purchase revenue across day-of-week
    groups: is there ANY weekday effect at all, before staring at seven
    separate averages.  F = (SSB/(k-1)) / (SSW/(n-k)) composed once
    from exact integer group moments (cents): SSB and SSW come from
    the sums/sum-of-squares identity, so the only floats are the final
    divisions.  Observations are DAYS (calendar-bounded frame)."""
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("cents")
    )
    per_dow = daily.groupBy(F.dayofweek("day").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("s_g"),
        F.sum(F.expr("CAST(cents AS DECIMAL(19,0)) * cents")).alias("ss_g"),
    )
    g = per_dow.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        # SSW numerator pieces: sum over groups of s_g^2 / n_g — keep the
        # per-group division exact via a sorted fold of (s_g^2, n_g)
        F.expr(
            "sort_array(collect_list(struct(dow, n_g, s_g)))"
        ).alias("gs"),
    )
    # sum_g s_g^2/n_g as a sorted left fold (one division per group)
    sgsq = (
        "aggregate(gs, 0D, (acc, x) ->"
        " acc + CAST(x.s_g * x.s_g AS DOUBLE) / x.n_g)"
    )
    ssb = f"({sgsq} - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
    ssw = f"(CAST(ss AS DOUBLE) - {sgsq})"
    f_stat = f"(({ssb} / (k - 1)) / ({ssw} / (n - k)))"
    return g.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_days"),
        F.expr(f"ROUND({ssb} / 10000.0, 6)").alias("ss_between"),
        F.expr(f"ROUND({ssw} / 10000.0, 6)").alias("ss_within"),
        F.expr(f"ROUND({f_stat}, 6)").alias("f_stat"),
    )


def _anova_sql() -> str:
    sgsq = (
        "list_reduce(list_prepend(0.0, list_transform(gs, x ->"
        " CAST(x.s_g * x.s_g AS DOUBLE) / x.n_g)), (acc, t) -> acc + t)"
    )
    ssb = f"({sgsq} - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
    ssw = f"(CAST(ss AS DOUBLE) - {sgsq})"
    f_stat = f"(({ssb} / (k - 1)) / ({ssw} / (n - k)))"
    return f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ), per_dow AS (
            SELECT dayofweek(day) + 1 AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   SUM(CAST(cents AS DECIMAL(38,0))) AS s_g,
                   SUM(CAST(cents AS DECIMAL(19,0)) * cents) AS ss_g
            FROM daily GROUP BY 1
        ), g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_g) AS BIGINT) AS n,
                   SUM(s_g) AS s, SUM(ss_g) AS ss,
                   list(struct_pack(dow := dow, n_g := n_g, s_g := s_g)
                        ORDER BY dow) AS gs
            FROM per_dow
        )
        SELECT k AS n_groups, n AS n_days,
               ROUND({ssb} / 10000.0, 6) AS ss_between,
               ROUND({ssw} / 10000.0, 6) AS ss_within,
               ROUND({f_stat}, 6) AS f_stat
        FROM g
    """


QUERIES["revenue_dow_anova"] = revenue_dow_anova
ORACLE_SQL["revenue_dow_anova"] = _anova_sql()
