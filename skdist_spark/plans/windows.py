"""Window / temporal operators over the events stream table.

Same two-faced layout as plans.tpch: a DataFrame builder plus a DuckDB
oracle with matching aliases. These cover the operator families the
reference lacks but a Spark analytics engine needs: ranked windows,
rollup cubes, as-of joins, gap-based sessionization, and JSON prop
extraction — all expressed with built-in functions (no Python UDFs) so
they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.global_rank import (
    ntile_from_row_number,
    two_phase_max_prefix_sum,
    two_phase_row_number,
    two_phase_running_agg,
)
from ..operators import aggregates, joins
from ..sources.catalog import load_table

SESSION_GAP_MIN = 30


def events_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event_type (ranked window).

    Scale note: the window partitions by event_type (low cardinality,
    potentially skewed). For a true 100 TB run the same result is
    cheaper as a per-partition top-k + merge, which AQE approximates;
    row_number over a partitioned window is the canonical form.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("event_type", "event_id", "user_id", "value", "rn")
        .orderBy("event_type", "rn")
    )


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(year, priority) of order totals — hierarchical subtotal cube."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .rollup("o_year", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.asc_nulls_first("o_year"), F.asc_nulls_first("o_orderpriority"))
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the most recent prior click
    by the same user, through the generic ``operators.joins.asof_join``.

    Spark-first plan: instead of an inequality join (which Spark would
    execute as a broadcast-nested-loop), union both event streams and
    take a running ``last(click_ts)`` window per user ordered by time —
    one shuffle on user_id, linear in events, skew-safe under AQE.
    ``strict`` (the default) excludes a same-instant click, matching
    the oracle's ``click_ts < purchase_ts`` predicate.
    """
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return joins.asof_join(
        purchases, clicks, "user_id", "purchase_ts", "click_ts", value_cols=["click_ts"]
    ).orderBy("purchase_id")


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user.

    lag -> gap flag -> running sum = session index; then session-level
    aggregates. One shuffle on user_id; state is bounded per user.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_sess = (
        ev.withColumn("is_new", F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0))
        .withColumn("session_idx", F.sum("is_new").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return (
        with_sess.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "session_idx")
    )


def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE session_window
    operator (one merging-window aggregation — the engine maintains
    the gap logic instead of the lag/cumsum window chain in
    sessionize_events).

    The native window's end is last_event + gap, so session_end is
    realigned to the last event instant; with that alignment the
    result must equal the manual implementation row for row — the
    oracle is the SAME SQL as sessionize_events, proving the two
    formulations equivalent.
    """
    ev = load_table(spark, "events", sf_dir)
    sess = (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "session_end",
            "n_events",
            "sum_value",
        )
    )
    w_idx = Window.partitionBy("user_id").orderBy("session_start")
    return (
        sess.withColumn("session_idx", F.row_number().over(w_idx).cast("bigint"))
        .select(
            "user_id", "session_idx", "session_start", "session_end",
            "n_events", "sum_value",
        )
        .orderBy("user_id", "session_idx")
    )


def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract numeric JSON prop and aggregate per event_type."""
    ev = load_table(spark, "events", sf_dir)
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: fixed time_bucket (1 day)
    x event_type rollup with exact distinct users.

    At scale this is the materialized-rollup pattern: the bucket key is
    derivable from the raw timestamp (date_trunc), so partition pruning
    on bucket ranges works, and the groupBy pre-aggregates map-side.
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.withColumn("bucket", F.to_date(F.col("ts")))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("bucket", "event_type")
    )


RANGE_JOIN_WINDOW_S = 1800


def range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join: for each error event, how many clicks by the
    same user within +/-30 minutes, through the generic
    ``operators.joins.interval_join``.

    Spark-first plan: a naive ``ON abs(e.ts - c.ts) <= w`` inequality
    join becomes a broadcast-nested-loop. Instead each error explodes
    to its candidate time buckets and the join is an EQUI-join on
    (user_id, bucket) followed by the exact interval filter — shuffle
    hash/sort-merge joinable, linear in events, skew bounded by bucket
    cardinality. Exact integer microsecond arithmetic on both faces.
    """
    ev = load_table(spark, "events", sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return (
        joins.interval_join(
            errors, clicks, "user_id", "ts", "click_ts",
            -RANGE_JOIN_WINDOW_S, RANGE_JOIN_WINDOW_S,
        )
        .groupBy("error_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_nearby_clicks"))
        .orderBy("error_id")
    )


def user_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users + events per event_type (the exact face of
    the HLL sketch below; Catalyst expands countDistinct to a two-phase
    partial aggregate, no driver work).

    SCALE CONTRACT: this is the ORACLE face — countDistinct re-shuffles
    every distinct (event_type, user_id) pair.  At 100 TB use the
    bounded-state twins: ``approx_user_distinct`` (HLL++),
    ``hll_portable_registers`` (oracle-pinned register table), or the
    mergeable sketch-table rollup (``user_sketch_rollup``)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def approx_user_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct users per event_type (rows-only: sketch
    estimates are engine-specific so there is no DuckDB oracle; the
    test asserts <5% relative error vs the exact face).

    This is the 100 TB path: approx_count_distinct keeps a bounded
    sketch per group (mergeable, map-side combined) where exact
    distinct re-shuffles every (group, user) pair.
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
        .orderBy("event_type")
    )


def rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling order revenue: daily totals + a RANGE window over
    event time (the moving-aggregate pattern; two shuffles total — one
    for the daily rollup, one global sort for the window, which at
    scale is partitioned by a coarser key e.g. month).

    Both aggregation levels stay in DECIMAL until the final cast, so
    window merge order can't perturb the float result.
    """
    orders = load_table(spark, "orders", sf_dir)
    daily = (
        orders.withColumn("day", F.to_date("o_orderdate"))
        .groupBy("day")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_rev"))
    )
    w = (
        Window.orderBy(F.unix_timestamp("day"))
        .rangeBetween(-6 * 86400, 0)
    )
    return (
        daily.withColumn("rolling_7d", F.sum("day_rev").over(w))
        .select(
            "day",
            F.col("day_rev").cast("double").alias("day_rev"),
            F.col("rolling_7d").cast("double").alias("rolling_7d"),
        )
        .orderBy("day")
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts, one column per event type. The
    pivot value list is EXPLICIT — with it, Spark skips the extra
    distinct-values job and the output schema is fixed at plan time
    (required at scale, and required for a stable oracle contract)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
        .orderBy("user_id")
    )


SALT_BUCKETS = 8


def salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: two-stage salted groupBy on event_type
    (5 hot keys — the worst-case skew shape, where a plain groupBy
    bottlenecks 5 reducers no matter how many executors exist), through
    the generic ``operators.aggregates.salted_agg``.

    Stage 1 groups on (event_type, salt) — SALT_BUCKETS x more
    parallelism for the heavy map-side combine; stage 2 merges the
    bounded per-salt partials. The salt derives deterministically from
    event_id (never rand(): retries/speculative tasks must re-salt
    identically). Decimal partials make the two-stage sum EXACTLY equal
    to the single-stage oracle regardless of merge order.
    """
    return aggregates.salted_agg(
        load_table(spark, "events", sf_dir),
        ["event_type"],
        sum_cols=["value"],
        max_cols=["value"],
        count_alias="n_events",
        salt_src="event_id",
        num_salts=SALT_BUCKETS,
        sum_decimal="decimal(18,6)",
    ).orderBy("event_type")


def order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90) of order totals per
    priority. Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share linear-interpolation semantics; outputs are rounded to 4
    decimals on both faces to absorb last-ulp interpolation drift.

    SCALE CONTRACT: this is the ORACLE face — ``percentile()`` is an
    ObjectHashAggregate that buffers every value per group.  At 100 TB
    use the bounded-state twins: ``order_percentiles_approx``
    (approx_percentile / GK sketch) or the KLL sketch-table rollup
    (``value_percentile_sketch_rollup``).
    """
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50_total"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def sales_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over (year, priority): the explicit multi-grain
    aggregate — (year, priority), (year), (priority), and grand total
    in ONE pass. Spark expands the sets into a single Expand + hash
    aggregate, so the input is scanned once regardless of how many
    grains are requested (vs 4 separate groupBys = 4 scans + shuffles).
    """
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .groupingSets(
            [["o_year", "o_orderpriority"], ["o_year"], ["o_orderpriority"], []],
            "o_year",
            "o_orderpriority",
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.asc_nulls_first("o_year"), F.asc_nulls_first("o_orderpriority"))
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(event_type, year): all 4 grain combinations in one Expand
    pass. Same single-scan property as grouping sets; decimal partials
    keep the double output merge-order-independent."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.withColumn("ev_year", F.year("ts"))
        .cube("event_type", "ev_year")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy(F.asc_nulls_first("event_type"), F.asc_nulls_first("ev_year"))
    )


TOPK_USERS = 20


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: top-20 users by event count. The exact face
    of the CMS sketch below — groupBy + TakeOrderedAndProject (no full
    sort; each partition keeps only its local top-k)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(TOPK_USERS)
    )


CMS_DEPTH = 4
CMS_WIDTH = 8192


# Cross-engine CMS hash row j: a masked Knuth multiplicative hash —
# the key is offset by j (the "seed" per depth), masked BELOW 2^31
# BEFORE the multiply (Spark BIGINT wraps silently, DuckDB promotes;
# the mask keeps both inside BIGINT), and the bucket takes the TOP
# bits via (h * width) DIV 2^32, never the low bits of a
# multiplicative hash.  Pure integer arithmetic -> both engines
# compute bit-identical sketch CONTENTS.
def _cms_bucket(key: str, j: str, width: int = None) -> str:
    width = CMS_WIDTH if width is None else width
    return (
        f"CAST((((({key} + {j} * 2654435761) & 2147483647)"
        f" * 2654435761) & 4294967295) * {width} DIV 4294967296 AS INT)"
    )


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters — ORACLE-BACKED (promoted r5):
    the sketch contents are a pure function of the data under the
    deterministic Knuth hash family (``_cms_bucket``), so DuckDB
    reproduces every cell count and the driver hash-pins the sketch
    itself, not just its error bound (which test_plans still asserts).

    Pure-DataFrame CMS: each event row expands to CMS_DEPTH (row j,
    bucket h_j(key)) cells — the sketch is then a groupBy over at most
    DEPTH*WIDTH cells (bounded state, map-side combined, mergeable
    across any partitioning: the 100 TB path where exact per-key
    counts would shuffle every key). Probing re-derives each
    candidate's cells and takes MIN over depths via a broadcast
    equi-join against the tiny sketch.

    Candidates here are the exact top-k (so the test can compare); in
    production the candidate set is any stream of keys to interrogate.
    """
    ev = load_table(spark, "events", sf_dir)
    depths = F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
    cells = (
        ev.select(F.col("user_id"))
        .withColumn("j", F.explode(depths))
        .select("j", F.expr(_cms_bucket("user_id", "j")).alias("bucket"))
    )
    sketch = cells.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cell_count"))
    candidates = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("user_id"))
        .limit(TOPK_USERS)
        .withColumn("j", F.explode(depths))
        .withColumn("bucket", F.expr(_cms_bucket("user_id", "j")))
    )
    return (
        candidates.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cell_count").alias("cms_count"))
        .orderBy(F.desc("exact_count"), F.asc("user_id"))
    )


def user_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event ML feature extraction over user timelines: previous /
    next event type (lag/lead), seconds since previous event, value
    quartile within user (ntile), and rank position (percent_rank).

    One shuffle on user_id serves ALL the window features (same
    partition+order spec); this is the feature-engineering shape that
    feeds sequence models — at 100 TB it stays a single exchange.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    # percent_rank in parts-per-million via pure INTEGER arithmetic
    # ((rank-1)*1e6 div (n-1)): floor(double) can drift a ulp between
    # engines when the doubles themselves differ; integer div cannot
    n_in_user = F.count(F.lit(1)).over(wp)
    rnk = F.rank().over(w)
    ppm = F.when(
        n_in_user > 1,
        F.expr(
            "(cast(rank() over (partition by user_id order by ts, event_id) as bigint) - 1)"
            " * 1000000 div (count(1) over (partition by user_id) - 1)"
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            # integer micros div 1e6, NOT unix_timestamp diff: events
            # carry sub-second precision and per-timestamp truncation
            # vs DuckDB's fractional EPOCH rounds differently
            F.expr(
                "(unix_micros(ts) - unix_micros(lag(ts) over "
                "(partition by user_id order by ts, event_id))) div 1000000"
            ).alias("secs_since_prev"),
            F.ntile(4).over(w).alias("time_quartile"),
            ppm.alias("pct_rank_ppm"),
        )
        .orderBy("event_id")
    )


def _transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, n): how often each event type follows
    another on one user's timeline — the sequence bigrams, from a lag
    window over (user_id, ts, event_id)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event types per
    user timeline (sequence bigrams) — the secondary-sort pattern
    expressed Spark-first: a lag window over (user_id, ts) instead of
    repartitionAndSortWithinPartitions + imperative iteration."""
    return (
        _transition_counts(spark, sf_dir)
        .withColumnRenamed("n", "n_transitions")
        .orderBy("from_type", "to_type")
    )


def transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-step model: P(to | from) in integer-exact ppm over
    the bigram transition counts — event_transitions normalized into a
    usable next-event predictor.  The row-sum denominator is a window
    over the 25-row aggregated matrix, not a second scan."""
    w_from = Window.partitionBy("from_type")
    return (
        _transition_counts(spark, sf_dir)
        .withColumn("row_total", F.sum("n").over(w_from))
        .select(
            "from_type",
            "to_type",
            "n",
            "row_total",
            F.expr("CAST(n * 1000000 div row_total AS BIGINT)").alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


ORACLE_SQL_TRANSITION_PROBS = """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ), counts AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, n,
           CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total,
           CAST(n * 1000000 // (SUM(n) OVER (PARTITION BY from_type)) AS BIGINT) AS prob_ppm
    FROM counts
    ORDER BY from_type, to_type
"""


def sales_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis: revenue per (year, priority) with its
    integer-ppm share of the year subtotal and of the grand total —
    RATIO_TO_REPORT at two grains on ONE aggregation (the two
    denominators are window sums over the small aggregated frame)."""
    orders = load_table(spark, "orders", sf_dir)
    agg = (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year", "o_orderpriority")
        .agg(
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("decimal(38,2)")
            .alias("rev"),
        )
        .select(
            "o_year",
            "o_orderpriority",
            F.expr("CAST(rev * 100 AS BIGINT)").alias("cents"),
        )
    )
    w_year = Window.partitionBy("o_year")
    w_all = Window.partitionBy()
    return (
        agg.withColumn("year_cents", F.sum("cents").over(w_year))
        .withColumn("total_cents", F.sum("cents").over(w_all))
        .select(
            "o_year",
            "o_orderpriority",
            F.expr("CAST(cents AS DOUBLE) / 100.0").alias("revenue"),
            F.expr("CAST(cents * 1000000 div year_cents AS BIGINT)").alias("share_of_year_ppm"),
            F.expr("CAST(cents * 1000000 div total_cents AS BIGINT)").alias("share_of_total_ppm"),
        )
        .orderBy("o_year", "o_orderpriority")
    )


ORACLE_SQL_SHARE_OF_PARENT = """
    WITH agg AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               o_orderpriority,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_year, o_orderpriority,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(cents * 1000000 // (SUM(cents) OVER (PARTITION BY o_year)) AS BIGINT)
               AS share_of_year_ppm,
           CAST(cents * 1000000 // (SUM(cents) OVER ()) AS BIGINT)
               AS share_of_total_ppm
    FROM agg
    ORDER BY o_year, o_orderpriority
"""


def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): per-user wide conditional aggregates turned back
    into (user_id, metric, value) long form via the ``unpivot`` API —
    the inverse of events_pivot, used to normalize wide metric tables
    before generic per-metric processing. One aggregation shuffle; the
    melt itself is a map-side Expand."""
    ev = load_table(spark, "events", sf_dir)
    wide = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", F.col("value")).cast("decimal(18,6)"))
        .cast("double")
        .alias("click_value"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).cast("decimal(18,6)"))
        .cast("double")
        .alias("purchase_value"),
        F.sum(F.when(F.col("event_type") == "view", F.col("value")).cast("decimal(18,6)"))
        .cast("double")
        .alias("view_value"),
    )
    return (
        wide.unpivot(
            "user_id",
            ["click_value", "purchase_value", "view_value"],
            "metric",
            "metric_value",
        )
        .where(F.col("metric_value").isNotNull())
        .orderBy("user_id", "metric")
    )


HIST_BIN_WIDTH = 25
HIST_N_BINS = 20


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per event_type (fixed
    bounds, top bin clamps outliers): one map-side-combinable groupBy —
    the profiling primitive behind distribution drift checks. Bin
    assignment is floor(value/width) in IEEE double, identical across
    engines; sums aggregate in DECIMAL."""
    ev = load_table(spark, "events", sf_dir)
    bin_col = F.least(
        F.floor(F.col("value") / HIST_BIN_WIDTH), F.lit(HIST_N_BINS - 1)
    ).cast("int")
    return (
        ev.groupBy("event_type", bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type", "bin")
    )


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-profiling aggregate over documents: row count,
    null counts, distinct counts, and numeric min/max — the data-quality
    gate that runs before any training pipeline consumes a table.

    ONE job computes every stat (Catalyst expands the multi-distinct
    into an Expand + two-phase aggregate); never one job per column.
    """
    docs = load_table(spark, "documents", sf_dir)
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("text_nulls"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("lang_nulls"),
        F.countDistinct("lang").alias("lang_distinct"),
        F.countDistinct("source").alias("source_distinct"),
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
        F.sum("n_chars").alias("n_chars_sum"),
    )


def order_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90 per priority via approx_percentile
    (Greenwald-Khanna sketch; rows-only — the test bounds error vs the
    exact face). The 100 TB path: GK partials are bounded and
    mergeable; exact percentile must materialize each group sorted.
    """
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("p50_approx"),
            F.expr("approx_percentile(o_totalprice, 0.9, 10000)").alias("p90_approx"),
        )
        .orderBy("o_orderpriority")
    )


def orders_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature extraction per order: year/quarter/month,
    day-of-week, day-of-year, ISO week, end-of-month day, days since
    epoch start — all integer-exact, all single-scan projections.

    Engine alignment notes: Spark dayofweek is 1=Sunday..7=Saturday
    while DuckDB's dayofweek is 0=Sunday..6=Saturday (the oracle adds
    1); weekofyear is ISO in both.
    """
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.select(
            "o_orderkey",
            F.year("o_orderdate").alias("o_year"),
            F.quarter("o_orderdate").alias("o_quarter"),
            F.month("o_orderdate").alias("o_month"),
            F.dayofweek("o_orderdate").alias("dow"),
            F.dayofyear("o_orderdate").alias("doy"),
            F.weekofyear("o_orderdate").alias("iso_week"),
            F.dayofmonth(F.last_day("o_orderdate")).alias("eom_day"),
            F.date_diff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            .alias("days_since_start"),
        )
        .orderBy("o_orderkey")
    )


def events_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining window-function family coverage in one query:
    first_value / last_value / nth_value over a running frame,
    multi-offset lag/lead, a 3-row moving average (decimal-exact
    numerator), dense_rank, and integer-exact cume_dist (ppm).

    Every spec partitions by user_id, so the plan has ONE exchange;
    the differing sort orders (ts vs value desc) add Window operators
    that re-sort within partitions but never re-shuffle.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    last3 = w.rowsBetween(-2, 0)
    n_user = F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    # cume_dist = rank_of_last_peer / n  -> exact ppm via integer div
    cd_num = F.count(F.lit(1)).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rangeBetween(Window.unboundedPreceding, 0)
    ).cast("bigint") * 1_000_000
    return (
        ev.select(
            "event_id",
            "user_id",
            F.first("event_type").over(run).alias("first_type"),
            F.last("event_type").over(run).alias("latest_type"),
            F.nth_value("event_id", 2).over(run).alias("second_event_id"),
            F.lag("event_id", 2).over(w).alias("lag2_event_id"),
            F.lead("event_id", 2).over(w).alias("lead2_event_id"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).over(last3).cast("double")
                / F.count(F.lit(1)).over(last3)
            ).alias("avg3_value"),
            F.dense_rank().over(
                Window.partitionBy("user_id").orderBy(F.desc("value"))
            ).alias("value_dense_rank"),
            # exact multiple of n_user <= 2^53, so the divide is exact
            ((cd_num - F.pmod(cd_num, n_user)) / n_user).cast("bigint").alias(
                "cume_dist_ppm"
            ),
        )
        .orderBy("event_id")
    )


def events_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured JSON parsing with an explicit schema (`from_json`),
    vs the regex extraction in events_json: the schema-on-read path —
    parse once into a typed struct column, then aggregate typed fields.
    An explicit schema keeps the parse inside codegen and the output
    schema fixed at plan time (no sampling pass, required at scale).
    """
    ev = load_table(spark, "events", sf_dir)
    parsed = ev.withColumn("p", F.from_json(F.col("props"), "k INT"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum(F.col("p.k")).alias("sum_k"),
            F.min(F.col("p.k")).alias("min_k"),
            F.max(F.col("p.k")).alias("max_k"),
            F.sum(F.when(F.col("p.k").isNull(), 1).otherwise(0)).alias("n_unparsed"),
        )
        .orderBy("event_type")
    )


def events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT semi-structured path: ``try_parse_json`` into a
    VARIANT column, typed extraction with ``variant_get`` — the
    schema-FLEXIBLE alternative to events_json_schema's fixed
    from_json(schema): the binary variant encoding keeps extraction
    vectorized without committing to a struct schema at plan time
    (the shredded-parquet story at scale), and malformed rows surface
    as NULL variants instead of nulled fields.
    """
    ev = load_table(spark, "events", sf_dir)
    parsed = ev.withColumn("v", F.try_parse_json(F.col("props")))
    k = F.expr("variant_get(v, '$.k', 'int')")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("n_unparsed"),
        )
        .orderBy("event_type")
    )


ORACLE_SQL: dict[str, str] = {
    "events_json_variant": """
        SELECT event_type,
               CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
               MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k,
               CAST(SUM(CASE WHEN TRY_CAST(json_extract(props, '$.k') AS INTEGER) IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "events_json_schema": """
        SELECT event_type,
               CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
               MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k,
               CAST(SUM(CASE WHEN TRY_CAST(json_extract(props, '$.k') AS INTEGER) IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "events_value_windows": """
        SELECT event_id, user_id,
               FIRST_VALUE(event_type) OVER run AS first_type,
               LAST_VALUE(event_type) OVER run AS latest_type,
               NTH_VALUE(event_id, 2) OVER run AS second_event_id,
               LAG(event_id, 2) OVER w AS lag2_event_id,
               LEAD(event_id, 2) OVER w AS lead2_event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER last3 AS DOUBLE)
                   / COUNT(*) OVER last3 AS avg3_value,
               CAST(DENSE_RANK() OVER (PARTITION BY user_id ORDER BY value DESC) AS INTEGER)
                   AS value_dense_rank,
               CAST((COUNT(*) OVER cume * 1000000)
                    // (COUNT(*) OVER (PARTITION BY user_id)) AS BIGINT) AS cume_dist_ppm
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               run AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               last3 AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               cume AS (PARTITION BY user_id ORDER BY ts, event_id
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "orders_date_features": """
        SELECT o_orderkey,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS o_quarter,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS o_month,
               CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
               CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
               CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
               CAST(EXTRACT(day FROM last_day(CAST(o_orderdate AS DATE))) AS INTEGER) AS eom_day,
               CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since_start
        FROM orders
        ORDER BY o_orderkey
    """,
    "events_unpivot": """
        WITH wide AS (
          SELECT user_id,
                 CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value END
                          AS DECIMAL(18,6))) AS DOUBLE) AS click_value,
                 CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END
                          AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value,
                 CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END
                          AS DECIMAL(18,6))) AS DOUBLE) AS view_value
          FROM events GROUP BY user_id)
        SELECT user_id, metric, metric_value FROM (
          SELECT user_id, 'click_value' AS metric, click_value AS metric_value FROM wide
          UNION ALL
          SELECT user_id, 'purchase_value', purchase_value FROM wide
          UNION ALL
          SELECT user_id, 'view_value', view_value FROM wide)
        WHERE metric_value IS NOT NULL
        ORDER BY user_id, metric
    """,
    "value_histogram": f"""
        SELECT event_type,
               CAST(LEAST(FLOOR(value / {HIST_BIN_WIDTH}), {HIST_N_BINS - 1}) AS INTEGER) AS bin,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type, LEAST(FLOOR(value / {HIST_BIN_WIDTH}), {HIST_N_BINS - 1})
        ORDER BY event_type, bin
    """,
    "profile_documents": """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
               CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
               COUNT(DISTINCT lang) AS lang_distinct,
               COUNT(DISTINCT source) AS source_distinct,
               MIN(n_chars) AS n_chars_min,
               MAX(n_chars) AS n_chars_max,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
        FROM documents
    """,
    "user_event_features": """
        SELECT event_id, user_id, event_type,
               LAG(event_type) OVER w AS prev_type,
               LEAD(event_type) OVER w AS next_type,
               CAST((epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 AS BIGINT) AS secs_since_prev,
               CAST(NTILE(4) OVER w AS INTEGER) AS time_quartile,
               CAST(CASE WHEN COUNT(*) OVER (PARTITION BY user_id) > 1
                    THEN (RANK() OVER w - 1) * 1000000 // (COUNT(*) OVER (PARTITION BY user_id) - 1)
                    ELSE 0 END AS BIGINT) AS pct_rank_ppm
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY event_id
    """,
    "event_transitions": """
        SELECT prev_type AS from_type, event_type AS to_type,
               COUNT(*) AS n_transitions
        FROM (
            SELECT event_type,
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        WHERE prev_type IS NOT NULL
        GROUP BY from_type, to_type
        ORDER BY from_type, to_type
    """,
    "sales_grouping_sets": """
        SELECT o_year, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
               COUNT(*) AS n_orders
        FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year, o_orderpriority, o_totalprice FROM orders)
        GROUP BY GROUPING SETS ((o_year, o_orderpriority), (o_year), (o_orderpriority), ())
        ORDER BY o_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """,
    "events_cube": """
        SELECT event_type, ev_year,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM (SELECT event_type, CAST(EXTRACT(year FROM ts) AS INTEGER) AS ev_year, value FROM events)
        GROUP BY CUBE (event_type, ev_year)
        ORDER BY event_type ASC NULLS FIRST, ev_year ASC NULLS FIRST
    """,
    "heavy_hitters": f"""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
        ORDER BY n_events DESC, user_id ASC
        LIMIT {TOPK_USERS}
    """,
    "events_topn": """
        SELECT event_type, event_id, user_id, value, rn FROM (
            SELECT event_type, event_id, user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
            FROM events
        ) WHERE rn <= 3
        ORDER BY event_type, rn
    """,
    "sales_rollup": """
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year_in, o_orderpriority, o_totalprice FROM orders
    """,  # placeholder; replaced below with full rollup
    "asof_join": """
        WITH purchases AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
        )
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               MAX(c.click_ts) AS asof_click_ts
        FROM purchases p
        LEFT JOIN clicks c ON p.user_id = c.user_id AND c.click_ts < p.purchase_ts
        GROUP BY p.purchase_id, p.user_id, p.purchase_ts
        ORDER BY p.purchase_id
    """,
    "sessionize_events": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > {SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_idx
            FROM flagged
        )
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM sess
        GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx
    """,
    "time_bucket_rollup": """
        SELECT date_trunc('day', ts) AS bucket, event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY bucket, event_type
        ORDER BY bucket, event_type
    """,
    "range_join_clicks": f"""
        SELECT e.event_id AS error_id, e.user_id,
               COUNT(*) AS n_nearby_clicks
        FROM events e
        JOIN events c
          ON e.user_id = c.user_id
         AND ABS(epoch_us(e.ts) - epoch_us(c.ts)) <= {RANGE_JOIN_WINDOW_S * 1_000_000}
        WHERE e.event_type = 'error' AND c.event_type = 'click'
        GROUP BY error_id, e.user_id
        ORDER BY error_id
    """,
    "user_distinct_counts": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "events_pivot": f"""
        SELECT user_id,
               {', '.join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    "rolling_revenue": """
        WITH daily AS (
            SELECT date_trunc('day', o_orderdate) AS day,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
            FROM orders GROUP BY day
        )
        SELECT day,
               CAST(day_rev AS DOUBLE) AS day_rev,
               CAST(SUM(day_rev) OVER (ORDER BY day
                    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS rolling_7d
        FROM daily
        ORDER BY day
    """,
    "salted_event_totals": """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "order_percentiles": """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_total,
               ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_total,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "events_json": """
        SELECT event_type,
               CAST(SUM(TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER)) AS BIGINT) AS sum_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
}

N_BUCKETS = 10


def value_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretization (the feature-binning step of an ML
    pipeline): per event_type, NTILE(10) equal-population buckets over
    value, summarized as (bucket, count, lo, hi) — i.e. the learned bin
    boundaries.  One shuffle on the event_type key; the ordered window
    rides that partitioning.  Ties on value break on event_id so both
    engines assign identical bucket membership.
    """
    ev = load_table(spark, "events", sf_dir).select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("bucket", F.ntile(N_BUCKETS).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


ORACLE_SQL["value_ntile_buckets"] = f"""
    WITH b AS (
        SELECT event_type, value,
               NTILE({N_BUCKETS}) OVER (
                   PARTITION BY event_type ORDER BY value, event_id) AS bucket
        FROM events
    )
    SELECT event_type, bucket, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLE_SQL["sales_rollup"] = """
    SELECT o_year, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
           COUNT(*) AS n_orders
    FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year, o_orderpriority, o_totalprice FROM orders)
    GROUP BY ROLLUP (o_year, o_orderpriority)
    ORDER BY o_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""

QUERIES = {
    "events_topn": events_topn,
    "sales_rollup": sales_rollup,
    "asof_join": asof_join,
    "sessionize_events": sessionize_events,
    "events_json": events_json,
    "time_bucket_rollup": time_bucket_rollup,
    "range_join_clicks": range_join_clicks,
    "user_distinct_counts": user_distinct_counts,
    "approx_user_distinct": approx_user_distinct,
    "order_percentiles": order_percentiles,
    "salted_event_totals": salted_event_totals,
    "rolling_revenue": rolling_revenue,
    "events_pivot": events_pivot,
    "sales_grouping_sets": sales_grouping_sets,
    "events_cube": events_cube,
    "heavy_hitters": heavy_hitters,
    "heavy_hitters_cms": heavy_hitters_cms,
    "user_event_features": user_event_features,
    "event_transitions": event_transitions,
    "profile_documents": profile_documents,
    "value_histogram": value_histogram,
    "events_unpivot": events_unpivot,
    "sessionize_native": sessionize_native,
    "transition_probs": transition_probs,
    "sales_share_of_parent": sales_share_of_parent,
    "order_percentiles_approx": order_percentiles_approx,
    "orders_date_features": orders_date_features,
    "events_value_windows": events_value_windows,
    "events_json_schema": events_json_schema,
    "events_json_variant": events_json_variant,
    "value_ntile_buckets": value_ntile_buckets,
}

ORACLE_SQL["transition_probs"] = ORACLE_SQL_TRANSITION_PROBS
ORACLE_SQL["sales_share_of_parent"] = ORACLE_SQL_SHARE_OF_PARENT

# the CMS hash is engine-portable integer arithmetic (_cms_bucket), so
# the oracle rebuilds the SAME sketch and probes it identically — the
# sketch CONTENTS are pinned, completing the "exact faces verify
# sketch faces" story for the count-min family (r4 verdict stretch).
ORACLE_SQL["heavy_hitters_cms"] = f"""
    WITH cells AS MATERIALIZED (
        SELECT j, {_cms_bucket("user_id", "j").replace(" DIV ", " // ")} AS bucket
        FROM events, range(0, {CMS_DEPTH}) t(j)
    ), sketch AS MATERIALIZED (
        SELECT j, bucket, COUNT(*) AS cell_count
        FROM cells GROUP BY j, bucket
    ), cand AS MATERIALIZED (
        SELECT user_id, COUNT(*) AS exact_count
        FROM events GROUP BY user_id
        ORDER BY exact_count DESC, user_id LIMIT {TOPK_USERS}
    ), probe AS (
        SELECT user_id, exact_count, j,
               {_cms_bucket("user_id", "j").replace(" DIV ", " // ")} AS bucket
        FROM cand, range(0, {CMS_DEPTH}) t(j)
    )
    SELECT p.user_id, CAST(p.exact_count AS BIGINT) AS exact_count,
           CAST(MIN(s.cell_count) AS BIGINT) AS cms_count
    FROM probe p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
    GROUP BY p.user_id, p.exact_count
    ORDER BY exact_count DESC, p.user_id
"""

# same ground truth as the manual lag/cumsum implementation — the two
# formulations must agree row for row
ORACLE_SQL["sessionize_native"] = ORACLE_SQL["sessionize_events"]


def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap feed: event counts + exact decimal value sums
    per (day-of-week, hour-of-day) cell — the seasonality surface
    behind every ops dashboard.  One scan, one 168-cell aggregation.
    Engine alignment: Spark dayofweek is 1=Sunday..7 (oracle adds 1 to
    DuckDB's 0-based); hour() agrees (UTC session tz)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("dow", "hour")
    )


ORACLE_SQL["events_dow_hour_heatmap"] = """
    SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

QUERIES["events_dow_hour_heatmap"] = events_dow_hour_heatmap


def daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series band-chart feed: exact p10/p50/p90 of event value
    per (day, event_type) — the percentile ribbon around the median
    that dashboards draw.  Exact interpolated percentiles per cell via
    percentile(); values are cents-quantized first so interpolation
    arithmetic is identical across engines (the same discipline as
    order_percentiles), results rounded to 6."""
    ev = load_table(spark, "events", sf_dir)
    cents = "CAST(round(value * 100) AS BIGINT)"
    return (
        ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.expr(cents).alias("c"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("ROUND(percentile(c, 0.1D) / 100.0D, 6)").alias("p10"),
            F.expr("ROUND(percentile(c, 0.5D) / 100.0D, 6)").alias("p50"),
            F.expr("ROUND(percentile(c, 0.9D) / 100.0D, 6)").alias("p90"),
        )
        .orderBy("day", "event_type")
    )


ORACLE_SQL["daily_percentile_bands"] = """
    WITH q AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    )
    SELECT day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(percentile_cont(0.1) WITHIN GROUP (ORDER BY c) / 100.0, 6) AS p10,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY c) / 100.0, 6) AS p50,
           ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY c) / 100.0, 6) AS p90
    FROM q
    GROUP BY day, event_type
    ORDER BY day, event_type
"""

QUERIES["daily_percentile_bands"] = daily_percentile_bands


SLO_TARGET_PPM = 210000  # error-rate objective: 21% (errors are ~1/5 of events)


def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE multiwindow burn-rate alerting over the event stream: per
    hour, the 1h and 6h error rates vs the SLO target, with the
    classic "alert only when BOTH windows burn" rule (fast window for
    responsiveness, slow window to suppress blips).

    Counts aggregate once per hour bucket (integer hour index =
    epoch-seconds div 3600); the rolling 6h totals are RANGE windows
    over the hour index — exact integers end to end, rates in ppm via
    BIGINT division, only the burn ratios are DOUBLE (rounded 6).
    """
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("hour_idx"),
            F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END").alias("is_err"),
        )
        .groupBy("hour_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_err").alias("n_errors"),
        )
    )
    w6 = (
        Window.orderBy("hour_idx").rangeBetween(-5, 0)
    )
    burn = f"(CAST(rate_ppm AS DOUBLE) / {SLO_TARGET_PPM}.0D)"
    burn6 = f"(CAST(rate6_ppm AS DOUBLE) / {SLO_TARGET_PPM}.0D)"
    return (
        hourly.withColumn("n_events_6h", F.sum("n_events").over(w6))
        .withColumn("n_errors_6h", F.sum("n_errors").over(w6))
        .select(
            "hour_idx",
            "n_events",
            "n_errors",
            F.expr("CAST(n_errors * 1000000 div n_events AS BIGINT)").alias("rate_ppm"),
            F.expr("CAST(n_errors_6h * 1000000 div n_events_6h AS BIGINT)").alias("rate6_ppm"),
        )
        .select(
            "*",
            F.expr(f"ROUND({burn}, 6)").alias("burn_1h"),
            F.expr(f"ROUND({burn6}, 6)").alias("burn_6h"),
            F.expr(f"{burn} > 1.0D AND {burn6} > 1.0D").alias("is_alerting"),
        )
        .orderBy("hour_idx")
    )


ORACLE_SQL["slo_burn_rate"] = f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hour_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    ), rolled AS (
        SELECT hour_idx, n_events, n_errors,
               CAST(SUM(n_events) OVER (ORDER BY hour_idx RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_events_6h,
               CAST(SUM(n_errors) OVER (ORDER BY hour_idx RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_errors_6h
        FROM hourly
    )
    SELECT hour_idx, n_events, n_errors,
           CAST(n_errors * 1000000 // n_events AS BIGINT) AS rate_ppm,
           CAST(n_errors_6h * 1000000 // n_events_6h AS BIGINT) AS rate6_ppm,
           ROUND(CAST(n_errors * 1000000 // n_events AS DOUBLE) / {SLO_TARGET_PPM}.0, 6) AS burn_1h,
           ROUND(CAST(n_errors_6h * 1000000 // n_events_6h AS DOUBLE) / {SLO_TARGET_PPM}.0, 6) AS burn_6h,
           (CAST(n_errors * 1000000 // n_events AS DOUBLE) / {SLO_TARGET_PPM}.0) > 1.0
             AND (CAST(n_errors_6h * 1000000 // n_events_6h AS DOUBLE) / {SLO_TARGET_PPM}.0) > 1.0 AS is_alerting
    FROM rolled
    ORDER BY hour_idx
"""

QUERIES["slo_burn_rate"] = slo_burn_rate


def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (same 30-min gap rule as
    sessionize_events) containing exactly one event, keyed by the
    session's start day — the landing-quality KPI.  Adds one tiny
    rollup on top of the session frame's existing user_id exchange;
    the ppm share is integer-exact.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_sess = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sessions = with_sess.groupBy("user_id", "session_idx").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        sessions.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.expr("CASE WHEN n_events = 1 THEN 1 ELSE 0 END")).alias(
                "n_bounces"
            ),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr("(n_bounces * 1000000) div n_sessions").alias("bounce_ppm"),
        )
        .orderBy("day")
    )


ORACLE_SQL["session_bounce_rate"] = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > {SESSION_GAP_MIN * 60}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM flagged
    ), sessions AS (
        SELECT user_id, session_idx, date_trunc('day', MIN(ts)) AS day,
               COUNT(*) AS n_events
        FROM sess GROUP BY 1, 2
    )
    SELECT day, COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
               // COUNT(*) AS bounce_ppm
    FROM sessions GROUP BY day ORDER BY day
"""

QUERIES["session_bounce_rate"] = session_bounce_rate


def quantile_normalize(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    order_cols: "list[str]",
) -> DataFrame:
    """Per-group quantile (rank) normalization: each row's value
    becomes its percent-rank within the group, in integer
    parts-per-million — the distribution-free feature transform
    (uniformizes skewed features so models see rank, not magnitude;
    robust to outliers by construction).  ``order_cols`` must make the
    within-group order total (pass an id tiebreaker), which also makes
    the transform deterministic under ties.  One window per group,
    integer arithmetic only (`ppm_of_rank`), so the output is
    value-identical across engines and partitionings.
    """
    from ..functions.columns import ppm_of_rank

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    wn = Window.partitionBy(*group_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .withColumn("q_ppm", ppm_of_rank(F.col("__rn"), F.col("__n")))
        .drop("__rn", "__n")
    )


def event_value_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: rank-normalize event value within each event_type
    (per-type skew differs, so the rank is per-type), emitting the
    integer ppm feature per event."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    out = quantile_normalize(
        ev, ["event_type"], "value", [F.col("value"), F.col("event_id")]
    )
    return out.select("event_id", "event_type", "q_ppm").orderBy("event_id")


ORACLE_SQL["event_value_quantile_norm"] = """
    WITH r AS (
        SELECT event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT event_id, event_type,
           CAST(CASE WHEN n > 1
                     THEN ((rn - 1) * 1000000) // (n - 1)
                     ELSE 0 END AS BIGINT) AS q_ppm
    FROM r ORDER BY event_id
"""
QUERIES["event_value_quantile_norm"] = event_value_quantile_norm


def markov_predict_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How predictable is the next event?  In-sample accuracy of the
    argmax Markov predictor per from-state: predicted = the most
    frequent next type (lowest name on count ties), accuracy = exact
    max-count over row-total in FLOOR ppm — the eval readout for
    ``transition_probs`` (near-uniform rows score ~1/K, a spiky row
    scores high; the overall row is the weighted average a monitoring
    alert would track).  One transition aggregation + a 25-row window.
    """
    w_from = Window.partitionBy("from_type").orderBy(F.desc("n"), F.asc("to_type"))
    per_state = (
        _transition_counts(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w_from))
        .groupBy("from_type")
        .agg(
            F.sum("n").alias("n_transitions"),
            F.max(F.when(F.col("rn") == 1, F.col("to_type"))).alias("predicted_next"),
            F.max(F.when(F.col("rn") == 1, F.col("n"))).alias("n_correct"),
        )
    )
    overall = per_state.agg(
        F.lit("(overall)").alias("from_type"),
        F.sum("n_transitions").alias("n_transitions"),
        F.lit(None).cast("string").alias("predicted_next"),
        F.sum("n_correct").alias("n_correct"),
    )
    return (
        per_state.unionByName(overall)
        .select(
            "from_type",
            "n_transitions",
            "predicted_next",
            "n_correct",
            F.expr("CAST(n_correct * 1000000 DIV n_transitions AS BIGINT)").alias(
                "acc_ppm"
            ),
        )
        .orderBy("from_type")
    )


ORACLE_SQL_MARKOV_PREDICT_EVAL = """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ), counts AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY from_type
                   ORDER BY n DESC, to_type ASC) AS rn
        FROM counts
    ), per_state AS (
        SELECT from_type,
               CAST(SUM(n) AS BIGINT) AS n_transitions,
               MAX(CASE WHEN rn = 1 THEN to_type END) AS predicted_next,
               CAST(MAX(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS n_correct
        FROM ranked GROUP BY from_type
    ), unioned AS (
        SELECT * FROM per_state
        UNION ALL
        SELECT '(overall)', CAST(SUM(n_transitions) AS BIGINT),
               CAST(NULL AS VARCHAR), CAST(SUM(n_correct) AS BIGINT)
        FROM per_state
    )
    SELECT from_type, n_transitions, predicted_next, n_correct,
           CAST(n_correct * 1000000 // n_transitions AS BIGINT) AS acc_ppm
    FROM unioned ORDER BY from_type
"""

QUERIES["markov_predict_eval"] = markov_predict_eval
ORACLE_SQL["markov_predict_eval"] = ORACLE_SQL_MARKOV_PREDICT_EVAL


# ---- peak concurrency (sweep line) ----------------------------------------


def peak_concurrency(
    intervals: DataFrame, start_col: str, end_col: str
) -> DataFrame:
    """Max simultaneous open intervals by the sweep line: +1 at each
    start, -1 at each end, running sum over the merged event sequence,
    global max — the 'how many concurrent sessions must we provision
    for' readout, exact (no bucketing).

    Tie rule: an interval ending exactly when another starts does NOT
    overlap it (ends sort before starts at the same instant — delta
    ascending).  One union, then the peak is the two-phase MAX PREFIX
    SUM (functions.two_phase_max_prefix_sum): max-prefix-sum is
    associative, so each time-range shard reduces to (total, local max
    prefix) and the global peak combines on the tiny shard frame — no
    single-partition exchange AND no per-row rank join-back."""
    plus = intervals.select(
        F.col(start_col).alias("t"), F.lit(1).alias("delta")
    )
    minus = intervals.select(
        F.col(end_col).alias("t"), F.lit(-1).alias("delta")
    )
    sweep = plus.unionAll(minus)
    run = two_phase_max_prefix_sum(
        sweep,
        [F.col("t").asc(), F.col("delta").asc()],
        F.col("t").cast("double"),
        "delta",
    )
    return run.select(
        F.col("max_prefix").cast("long").alias("peak_concurrent"),
        (F.col("n_rows") / 2).cast("long").alias("n_intervals"),
    )


def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: peak simultaneous 30-min-gap sessions across all
    users — the capacity-planning number.  Sessions come from the same
    lag/cumsum chain as sessionize_events; the sweep adds one global
    ordered window over 2 rows per session (tiny next to the event
    scan; shard by day at 100 TB via the day_col path)."""
    sess = sessionize_events(spark, sf_dir)
    return peak_concurrency(sess, "session_start", "session_end")


ORACLE_SQL["peak_concurrent_sessions"] = f"""
    WITH w AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                    OR epoch(ts) - epoch(LAG(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                       > {SESSION_GAP_MIN} * 60
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM w
    ), sess AS (
        SELECT MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM s GROUP BY user_id, session_idx
    ), sweep AS (
        SELECT session_start AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT session_end AS t, -1 AS delta FROM sess
    ), run AS (
        SELECT SUM(delta) OVER (ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS open_now
        FROM sweep
    )
    SELECT CAST(MAX(open_now) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM run
"""

QUERIES["peak_concurrent_sessions"] = peak_concurrent_sessions


# ---- event-time disorder profile (watermark sizing) ------------------------


def event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is the stream?  Treating event_id as ARRIVAL
    order, each event's lateness is running_max(event_time) - event_time
    at its arrival — exactly the disorder a Structured Streaming
    watermark must absorb.  Emits log2-bucketed lateness seconds with
    counts and the share of on-time (lateness 0) events — read the p99
    bucket and that's your `withWatermark` delay.

    The running max over arrival order is the two-phase prefix max
    (functions.two_phase_running_agg): event_id-range shards from
    percentile boundaries, local running max, per-shard maxima's
    exclusive prefix broadcast back — same values as the global
    ordered window with no single-partition exchange over raw events
    (the per-arrival-shard decomposition this docstring used to only
    promise).  Sub-second positive lateness clamps to bucket 0 so it
    cannot collide with the on-time sentinel -1 (and cannot emit
    undocumented -2, -3... buckets)."""
    ev = load_table(spark, "events", sf_dir)
    run = two_phase_running_agg(
        ev.select("event_id", F.unix_micros("ts").alias("us")),
        [F.col("event_id").asc()],
        F.col("event_id"),
        "us",
        "max",
        "run_max_us",
    )
    late = run.select((F.col("run_max_us") - F.col("us")).alias("late_us"))
    return (
        late.select(
            F.when(
                F.col("late_us") <= 0, F.lit(-1)
            )  # on time (the running max itself)
            .otherwise(
                F.expr(
                    "GREATEST(0, CAST(floor(log2(late_us / 1000000.0)) AS INT))"
                )
            )
            .alias("log2_lateness_s")
        )
        .groupBy("log2_lateness_s")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "log2_lateness_s",
            "n_events",
            F.expr(
                "CAST(n_events * 1000000 DIV SUM(n_events) OVER () AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("log2_lateness_s")
    )

ORACLE_SQL["event_lateness_profile"] = """
    WITH late AS (
        SELECT epoch_us(MAX(ts) OVER (ORDER BY event_id
                   ROWS UNBOUNDED PRECEDING)) - epoch_us(ts) AS late_us
        FROM events
    ), bucketed AS (
        SELECT CASE WHEN late_us <= 0 THEN -1
                    ELSE GREATEST(0, CAST(floor(log2(late_us / 1000000.0)) AS INTEGER))
               END AS log2_lateness_s
        FROM late
    )
    SELECT log2_lateness_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
               AS share_ppm
    FROM bucketed GROUP BY log2_lateness_s
    ORDER BY log2_lateness_s
"""

QUERIES["event_lateness_profile"] = event_lateness_profile


# ---- session-gap parameter sweep --------------------------------------------

GAP_SWEEP_MINUTES = (5, 15, 30, 60)


def session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter-tuning table for sessionization: for each candidate
    inactivity gap, the session count, mean events per session, and
    single-event-session share — read where the metrics stop moving
    and that's your gap (the elbow method, measured not guessed).

    ONE user-keyed window pass computes all gaps simultaneously: the
    lag/gap is evaluated once and each threshold just counts how many
    gaps exceed it (a session count is 1 + #breaks), so the sweep
    costs one extra conditional sum per candidate, not one pass per
    candidate (contrast: ann_probe_sweep re-probes per point because
    its WORK differs per parameter; here only the predicate does)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    ]
    for m in GAP_SWEEP_MINUTES:
        aggs.append(
            F.sum(
                F.when(
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > m * 60_000_000),
                    1,
                ).otherwise(0)
            ).alias(f"s{m}")
        )
    g = gaps.agg(*aggs)
    entries = ", ".join(
        f"{m}, CAST(s{m} AS BIGINT),"
        f" ROUND(CAST(n_events AS DOUBLE) / s{m}, 6),"
        f" CAST(s{m} * 1000000 DIV n_events AS BIGINT)"
        for m in GAP_SWEEP_MINUTES
    )
    return (
        g.select(
            F.col("n_events").cast("long").alias("n_events"),
            F.expr(
                f"stack({len(GAP_SWEEP_MINUTES)}, {entries})"
                " AS (gap_minutes, n_sessions, events_per_session,"
                " sessions_per_event_ppm)"
            ),
        )
        .select(
            "gap_minutes",
            "n_sessions",
            "n_events",
            "events_per_session",
            "sessions_per_event_ppm",
        )
        .orderBy("gap_minutes")
    )


def _gap_sweep_sql() -> str:
    rows = []
    for m in GAP_SWEEP_MINUTES:
        rows.append(
            f"SELECT {m} AS gap_minutes, s{m} AS n_sessions, n_events,"
            f" ROUND(CAST(n_events AS DOUBLE) / s{m}, 6) AS events_per_session,"
            f" CAST(s{m} * 1000000 // n_events AS BIGINT)"
            f" AS sessions_per_event_ppm FROM g"
        )
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > CAST({m} AS BIGINT) * 60000000"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS s{m}"
        for m in GAP_SWEEP_MINUTES
    )
    return f"""
        WITH gaps AS (
            SELECT user_id,
                   epoch_us(ts) - epoch_us(LAG(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
            FROM events
        ), g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_events, {sums}
            FROM gaps
        )
        {' UNION ALL '.join(rows)}
        ORDER BY gap_minutes
    """


ORACLE_SQL["session_gap_sweep"] = _gap_sweep_sql()
QUERIES["session_gap_sweep"] = session_gap_sweep
