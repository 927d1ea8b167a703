"""Distinct-set sketches: KMV (k-minimum-values) estimates for
set cardinality, union, and intersection across groups.

The theta-sketch family's workhorse: keep the k smallest normalized
hash values per set; the k-th smallest value v_k estimates the
cardinality as (k-1)/v_k, and two sketches combine by taking the k
smallest of their union — supporting |A ∪ B| and, via the inclusion
fraction rho, |A ∩ B|. All mergeable, all bounded at k rows per set.

Spark-first shape: hashes are an engine-portable 32-bit
multiply-xorshift mix (pure BIGINT arithmetic — JVM codegen on the
Spark side, the SAME integer ops in DuckDB), so the sketch CONTENTS
are a deterministic function of the data and the oracle rebuilds the
identical sketch (promoted rows-only -> oracle in round 5, the KMV
entry in the "exact faces verify sketch faces" story beside
heavy_hitters_cms).  The per-set top-k is a row_number window over
DISTINCT hashes — one shuffle on the set key, never a collect_set of
the whole domain. At 100 TB the sketch stays k rows per set no matter
the input (the exact face re-shuffles every distinct member).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table

__all__ = [
    "kmv_sketch",
    "kmv_user_overlap",
    "user_overlap_exact",
    "kmv_join_keys_estimate",
]

KMV_K = 256
_TWO32 = 1 << 32
# multiply-xorshift-multiply-xorshift over BIGINT: the 31-bit mask
# before each multiply keeps the product below 2^63 on BOTH engines
# (Spark would wrap silently; DuckDB errors on overflow), constants are
# the Knuth / murmur3 finalizer multipliers, and the output lives in
# [0, 2^32).  Collisions merge members — standard sketch semantics —
# and both engines compute bit-identical values.
_H_MUL1 = 2654435761
_H_MUL2 = 2246822507
_H_INC = 1013904223  # Knuth LCG increment: the 3-bit top-lane multiplier
_M31 = 2147483647
_M32 = 4294967295


def hash_stage_exprs(col: str, engine: str) -> list[str]:
    """The portable 32-bit hash as a pipeline of four SQL expressions.

    Stage 0 consumes ``col``; stages 1-3 each consume the previous
    stage's output aliased as ``col``.  ``engine`` picks the spelling
    of xor/shift ('spark': ``^`` / shiftright; 'duck': ``xor()`` /
    ``>>``) — the arithmetic is identical (both engines arithmetic-
    shift signed BIGINTs, and Python int ops replay it exactly).

    Stage 0 hashes the key in three OVERLAPPING lanes — bits 0-30 by
    MUL1, bits 30-60 by MUL2, bits 61-63 by an LCG increment — and
    ADDS the masked lane products, so every one of the 64 input bits
    influences the output (without this, keys differing only in bits
    >= 31 — snowflake-style IDs — collided with probability 1).  The
    one-bit lane overlap at bit 30 plus additive (carry-propagating)
    combination leaves no single-bit-flip delta collisions (brute-
    checked over 2000 random keys x 64 bits).  Each lane masks to 31
    bits before its multiply so products stay below 2^63 on both
    engines (Spark would wrap silently; DuckDB errors on overflow);
    the lane sum is < 2^34 and stage 1 folds it back under 2^31.
    """
    if engine == "spark":
        xor = lambda a, b: f"({a} ^ {b})"  # noqa: E731
        shr = lambda a, n: f"shiftright({a}, {n})"  # noqa: E731
    else:
        xor = lambda a, b: f"xor({a}, {b})"  # noqa: E731
        shr = lambda a, n: f"({a} >> {n})"  # noqa: E731
    lanes = (
        f"((({col} & {_M31}) * {_H_MUL1}) & {_M32})"
        f" + ((({shr(col, 30)} & {_M31}) * {_H_MUL2}) & {_M32})"
        f" + (({shr(col, 61)} & 7) * {_H_INC})"
    )
    return [
        f"({lanes})",
        f"({xor(col, shr(col, 16))} & {_M31})",
        f"(({col} * {_H_MUL2}) & {_M32})",
        xor(col, shr(col, 15)),
    ]


def duck_hash32_cte(inner: str, keep: str, col: str = "h") -> str:
    """DuckDB face of the portable hash: wrap ``inner`` (a SELECT
    yielding ``keep`` columns plus ``col``) in one nested SELECT per
    hash stage."""
    q = inner
    for expr in hash_stage_exprs(col, "duck"):
        q = f"SELECT {keep}, {expr} AS {col} FROM ({q})"
    return q


def kmv_sketch(df: DataFrame, set_col: str, member_col: str, k: int = KMV_K) -> DataFrame:
    """Per-set KMV sketch: the k smallest distinct 32-bit hashes.

    Returns (set_col, h, rn) with rn in 1..k — bounded k rows per set.

    The member column must be INTEGRAL (the portable hash is pure
    BIGINT arithmetic so the DuckDB oracle can rebuild the sketch).
    Non-integral columns raise instead of silently casting — a string
    key would cast to NULL under non-ANSI mode and collapse the sketch
    to garbage; hash string keys to BIGINT first (``F.xxhash64`` for
    rows-only use, or a portable string fold for oracle-backed use).
    NULL members are dropped: they carry no cardinality and would
    otherwise sort first in the top-k window while being invisible to
    ``MAX(h)`` in the estimate.
    """
    from pyspark.sql import types as T

    dtype = df.schema[member_col].dataType
    if not isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"kmv_sketch: member column {member_col!r} has non-integral type "
            f"{dtype.simpleString()}; hash it to BIGINT first (e.g. F.xxhash64) "
            "instead of relying on an implicit cast that NULLs out strings"
        )
    hashed = df.select(F.col(set_col), F.col(member_col).cast("bigint").alias("h"))
    hashed = hashed.where(F.col("h").isNotNull())
    for expr in hash_stage_exprs("h", "spark"):
        hashed = hashed.select(set_col, F.expr(expr).alias("h"))
    hashed = hashed.distinct()
    w = Window.partitionBy(set_col).orderBy("h")
    return hashed.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _kmv_estimate(k: int):
    """Estimate distinct count from a sketch aggregate: exact when the
    set has fewer than k members (the sketch holds them all); else
    (k-1)/v_k with v_k = max_h/2^32 — computed as ONE IEEE division of
    two exactly-represented values so both engines agree bit-for-bit."""
    return F.when(
        F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
    ).otherwise(F.lit(float((k - 1) * _TWO32)) / F.max("h").cast("double"))


def kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV estimates of |click users|, |purchase users|, their union
    and intersection — ORACLE-BACKED (promoted r5): the portable hash
    makes the sketch a pure function of the data, so the DuckDB oracle
    rebuilds the same k-minimum values and the driver pins the sketch
    ESTIMATES exactly (the pytest still bounds error vs
    ``user_overlap_exact``)."""
    ev = load_table(spark, "events", sf_dir)
    pair = ev.where(
        F.col("event_type").isin("click", "purchase") & F.col("user_id").isNotNull()
    )
    sk = kmv_sketch(pair, "event_type", "user_id").cache()

    per_set = sk.groupBy("event_type").agg(_kmv_estimate(KMV_K).alias("est"))

    # union sketch: k smallest distinct hashes across both sketches;
    # rho = fraction of union-sketch entries present in BOTH sketches
    merged = (
        sk.select("h", "event_type")
        .groupBy("h")
        .agg(F.countDistinct("event_type").alias("n_sets"))
        .orderBy("h")
        .limit(KMV_K)
    )
    union_est = merged.agg(
        _kmv_estimate(KMV_K).alias("est_union"),
        (F.sum(F.when(F.col("n_sets") == 2, 1).otherwise(0)) / F.count(F.lit(1))).alias(
            "rho"
        ),
    )
    wide = (
        per_set.groupBy()
        .pivot("event_type", ["click", "purchase"])
        .agg(F.first("est"))
        .join(F.broadcast(union_est))
    )
    return wide.select(
        F.col("click").alias("est_click_users"),
        F.col("purchase").alias("est_purchase_users"),
        F.col("est_union").alias("est_union_users"),
        (F.col("rho") * F.col("est_union")).alias("est_intersect_users"),
    )


def user_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact face of the KMV overlap: distinct click users, purchase
    users, union and intersection sizes (one row)."""
    ev = load_table(spark, "events", sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .withColumn("in_c", F.lit(1))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("in_p", F.lit(1))
    )
    return clicks.join(purchases, "user_id", "full_outer").agg(
        F.count("in_c").alias("n_click_users"),
        F.count("in_p").alias("n_purchase_users"),
        F.count(F.lit(1)).alias("n_union_users"),
        F.sum(
            F.when(F.col("in_c").isNotNull() & F.col("in_p").isNotNull(), 1).otherwise(0)
        ).alias("n_intersect_users"),
    )


_KMV_EST = (
    f"CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)"
    f" ELSE CAST({(KMV_K - 1) * _TWO32} AS DOUBLE) / CAST(MAX(h) AS DOUBLE) END"
)

ORACLE_SQL: dict[str, str] = {
    # rebuilds the SAME sketch: identical portable hash, identical
    # k-minimum selection, identical single-division estimates
    "kmv_user_overlap": f"""
        WITH hashed AS (
            SELECT DISTINCT event_type, h FROM (
                {{hash_cte}}
            )
        ), sk AS (
            SELECT event_type, h FROM (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM hashed
            ) WHERE rn <= {KMV_K}
        ), per_set AS (
            SELECT event_type, {_KMV_EST} AS est FROM sk GROUP BY event_type
        ), merged AS (
            SELECT h, COUNT(DISTINCT event_type) AS n_sets
            FROM sk GROUP BY h ORDER BY h LIMIT {KMV_K}
        ), u AS (
            SELECT {_KMV_EST} AS est_union,
                   CAST(SUM(CASE WHEN n_sets = 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) AS rho
            FROM merged
        )
        SELECT (SELECT est FROM per_set WHERE event_type = 'click') AS est_click_users,
               (SELECT est FROM per_set WHERE event_type = 'purchase') AS est_purchase_users,
               est_union AS est_union_users,
               rho * est_union AS est_intersect_users
        FROM u
    """.replace(
        "{hash_cte}",
        duck_hash32_cte(
            "SELECT DISTINCT event_type, user_id AS h FROM events"
            " WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL",
            "event_type",
        ),
    ),
    "user_overlap_exact": """
        WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
             p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        SELECT (SELECT COUNT(*) FROM c) AS n_click_users,
               (SELECT COUNT(*) FROM p) AS n_purchase_users,
               (SELECT COUNT(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS n_union_users,
               (SELECT COUNT(*) FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)) AS n_intersect_users
    """,
}

def hll_daily_sketches(
    df: DataFrame,
    day_col,
    member_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Materializable per-day HLL sketch table: (day, sketch binary).

    This is the SKETCH-TABLE pattern — the sketch column is a Datasketches
    HllSketch (Spark 4 `hll_sketch_agg`), so any coarser rollup
    (week/month/all-time distinct users) re-aggregates the tiny sketch
    rows with `hll_union_agg` instead of re-scanning the fact table.
    Persist it like any other table; merge is associative and lossless
    w.r.t. the sketch state.
    """
    return df.groupBy(day_col).agg(
        F.hll_sketch_agg(F.col(member_col), F.lit(lg_k)).alias("sketch")
    )


def hll_rollup(
    sketches: DataFrame,
    group_expr,
    lg_k: int = 12,
) -> DataFrame:
    """Re-aggregate a sketch table to a coarser grain: union the
    sketches, estimate at the end. No fact-table access."""
    return sketches.groupBy(group_expr).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"), F.lit(True))
        ).alias("est_distinct")
    )


def user_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: weekly distinct-user estimates computed by UNIONING
    the daily HLL sketch table (never re-touching events), side by side
    with the exact weekly countDistinct and the identity check that the
    merged estimate equals a directly-built weekly sketch's estimate.

    rows-only: the Datasketches HLL estimate has no DuckDB twin; the
    merge-identity column makes the check self-verifying (true on every
    row), and the pytest bounds the estimate error vs exact.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )
    daily = hll_daily_sketches(ev, "day", "user_id")
    week = (F.floor(F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) / 7)).cast("int")
    merged = hll_rollup(daily, week.alias("week"))
    direct = ev.groupBy(week.alias("week")).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id"), F.lit(12))
        ).alias("direct_est"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return (
        merged.join(direct, "week")
        .select(
            "week",
            "est_distinct",
            "exact_distinct",
            (F.col("est_distinct") == F.col("direct_est")).alias("merge_identity"),
        )
        .orderBy("week")
    )


# ---- portable HLL: register contents pinned cross-engine ----------------

HLL_M = 256  # 2^8 registers; raw-estimate std error ~ 1.04/sqrt(m) ~ 6.5%
_HLL_W_BITS = 32 - 8  # hash bits left after the bucket index
# alpha_m * m^2 * 2^(w_bits+1), folded to ONE double literal in Python
# so the estimate is a single IEEE division of identical operands on
# both engines (Z is kept as an exact integer numerator over
# 2^(w_bits+1): rho spans 1..25, so 2^-rho scales by 2^25).
_HLL_ALPHA_M = 0.7213 / (1 + 1.079 / HLL_M)
_HLL_EST_NUM = _HLL_ALPHA_M * HLL_M * HLL_M * float(1 << (_HLL_W_BITS + 1))


def _hll_rho_sql(w: str) -> str:
    """Leading-zero rank of the 24-bit suffix ``w`` (1-based; 25 when
    w = 0) as a chained CASE — identical text on both engines."""
    branches = " ".join(
        f"WHEN {w} >= {1 << (_HLL_W_BITS - j)} THEN {j}"
        for j in range(1, _HLL_W_BITS + 1)
    )
    return f"(CASE {branches} ELSE {_HLL_W_BITS + 1} END)"


def _hll_rho(events: DataFrame, key="event_type") -> DataFrame:
    """The portable-HLL register stage over ``events`` (batch or
    streaming): (key, bucket, rho) per event with a user_id, where
    bucket is the low 8 bits of the portable 32-bit user hash and rho
    the leading-zero rank of the other 24.  ``key`` is a column name
    or an aliased Column; a MAX(rho) per (key, bucket) is the register
    table."""
    hashed = events.where(F.col("user_id").isNotNull()).select(
        key, F.col("user_id").cast("bigint").alias("h")
    )
    name = hashed.columns[0]
    for expr in hash_stage_exprs("h", "spark"):
        hashed = hashed.select(name, F.expr(expr).alias("h"))
    return hashed.select(
        name,
        F.expr(f"CAST(h & {HLL_M - 1} AS INT)").alias("bucket"),
        F.expr(_hll_rho_sql("(h >> 8)")).alias("rho"),
    )


def hll_portable_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL distinct-user sketch per event_type — ORACLE-BACKED:
    the register table (bucket -> max leading-zero rank) is a pure
    integer function of the data under the portable 32-bit hash, so
    DuckDB rebuilds every register and the driver pins the sketch
    CONTENTS — the HLL entry in the "exact faces verify sketch faces"
    story (the Datasketches faces, ``user_sketch_rollup`` /
    ``approx_user_distinct``, stay rows-only: their binary state is
    JVM-internal).

    Each output row is one non-empty register plus the per-type RAW
    HLL estimate (alpha_m * m^2 / sum(2^-reg), absent registers
    contributing 2^0): the estimate is exact-integer up to one final
    IEEE division, so it hash-matches too.  Shape: one scan, one
    bounded groupBy (types x 256 registers), map-side combinable —
    the registers ARE the shuffle payload at 100 TB.
    """
    regs = (
        _hll_rho(load_table(spark, "events", sf_dir))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    z = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr(f"shiftleft(1L, {_HLL_W_BITS + 1} - reg)"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << (_HLL_W_BITS + 1))
        ).alias("z_num")
    )
    return (
        regs.join(F.broadcast(z), "event_type")
        .select(
            "event_type",
            "bucket",
            F.col("reg").cast("int").alias("reg"),
            (F.lit(_HLL_EST_NUM) / F.col("z_num").cast("double")).alias(
                "est_raw"
            ),
        )
        .orderBy("event_type", "bucket")
    )


def _hll_oracle_sql() -> str:
    hash_cte = duck_hash32_cte(
        "SELECT event_type, user_id AS h FROM events WHERE user_id IS NOT NULL",
        "event_type",
    )
    return f"""
        WITH regs AS (
            SELECT event_type, CAST(h & {HLL_M - 1} AS INT) AS bucket,
                   MAX({_hll_rho_sql(f"(h >> 8)")}) AS reg
            FROM ({hash_cte})
            GROUP BY event_type, CAST(h & {HLL_M - 1} AS INT)
        ), z AS (
            SELECT event_type,
                   CAST(SUM((1::BIGINT << ({_HLL_W_BITS + 1} - reg)))
                        + ({HLL_M} - COUNT(*)) * {1 << (_HLL_W_BITS + 1)}
                        AS BIGINT) AS z_num
            FROM regs GROUP BY event_type
        )
        SELECT regs.event_type, bucket, CAST(reg AS INT) AS reg,
               CAST({_HLL_EST_NUM!r} AS DOUBLE)
                 / CAST(z_num AS DOUBLE) AS est_raw
        FROM regs JOIN z ON regs.event_type = z.event_type
        ORDER BY regs.event_type, bucket
    """


QUERIES = {
    "user_overlap_exact": user_overlap_exact,
    "kmv_user_overlap": kmv_user_overlap,
    "user_sketch_rollup": user_sketch_rollup,
    "hll_portable_registers": hll_portable_registers,
}

ORACLE_SQL["hll_portable_registers"] = _hll_oracle_sql()


def kmv_join_keys_estimate(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    k: int = KMV_K,
) -> DataFrame:
    """Join-selectivity estimator: KMV estimates of the distinct key
    counts on each side and of the MATCHING key count — the "will this
    join prune or explode" pre-flight, at the cost of two bounded
    sketches instead of a distinct-count of either side.

    Returns one row (est_left_keys, est_right_keys, est_common_keys).
    Same sketch math as kmv_user_overlap: union sketch = k smallest
    distinct hashes over both sides, rho = fraction present in both,
    |A ∩ B| ~= rho * |A ∪ B|; exact when a side has < k keys.
    """
    tagged = left.select(
        F.lit("L").alias("side"), F.col(left_key).alias("k")
    ).unionByName(right.select(F.lit("R").alias("side"), F.col(right_key).alias("k")))
    sk = kmv_sketch(tagged, "side", "k", k=k)

    per_side = sk.groupBy("side").agg(_kmv_estimate(k).alias("est"))
    merged = (
        sk.select("h", "side")
        .groupBy("h")
        .agg(F.countDistinct("side").alias("n_sets"))
        .orderBy("h")
        .limit(k)
    )
    union_est = merged.agg(
        _kmv_estimate(k).alias("est_union"),
        (F.sum(F.when(F.col("n_sets") == 2, 1).otherwise(0)) / F.count(F.lit(1))).alias(
            "rho"
        ),
    )
    wide = (
        per_side.groupBy()
        .pivot("side", ["L", "R"])
        .agg(F.first("est"))
        .join(F.broadcast(union_est))
    )
    return wide.select(
        F.round("L", 2).alias("est_left_keys"),
        F.round("R", 2).alias("est_right_keys"),
        F.round(F.col("rho") * F.col("est_union"), 2).alias("est_common_keys"),
    )


KLL_K = 200  # sketch size parameter: ~1.3% rank error at k=200


def kll_daily_sketches(
    df: DataFrame,
    day_col,
    value_col: str,
    k: int = KLL_K,
) -> DataFrame:
    """Materializable per-day KLL quantile sketch table: (day, sketch
    binary) over a DOUBLE value column — the percentile counterpart of
    the HLL sketch table.  Any coarser percentile rollup
    (week/month/all-time p50/p99) re-aggregates these tiny rows with
    ``kll_merge_agg_double`` instead of re-scanning the fact table;
    the merge is associative, so latency-percentile dashboards over
    100 TB serve from a sketch table thousands of times smaller than
    the events they summarize.
    """
    return df.groupBy(day_col).agg(
        F.expr(f"kll_sketch_agg_double({value_col}, {k})").alias("sketch")
    )


def kll_rollup(
    sketches: DataFrame,
    group_expr,
    quantiles: "list[float]" = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Re-aggregate a KLL sketch table to a coarser grain: merge the
    sketches, read the quantiles off the merged state.  No fact-table
    access."""
    qs = ", ".join(str(q) for q in quantiles)
    merged = sketches.groupBy(group_expr).agg(
        F.expr("kll_merge_agg_double(sketch)").alias("merged")
    )
    sel = [
        F.expr(f"kll_sketch_get_quantile_double(merged, {q})").alias(
            f"p{int(q * 100)}"
        )
        for q in quantiles
    ]
    return merged.select("*", *sel).drop("merged")


def value_percentile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: weekly p50/p90/p99 of event value computed by
    MERGING the daily KLL sketch table (never re-touching events),
    side by side with a directly-built weekly sketch and the exact
    weekly percentiles.

    Unlike HLL union, KLL merge is NOT bit-identical to a direct
    build (compaction order differs), so there is no identity column;
    what the sketch guarantees — and what pytest bounds — is the RANK
    error of both the merged and the direct estimates against the
    exact percentiles.  rows-only: the Datasketches KLL state has no
    DuckDB twin.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "value", F.to_date("ts").alias("day")
    )
    daily = kll_daily_sketches(ev, "day", "value")
    week = (
        F.floor(F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) / 7)
    ).cast("int")
    merged = kll_rollup(daily, week.alias("week"))
    direct = ev.groupBy(week.alias("week")).agg(
        F.expr(
            f"kll_sketch_get_quantile_double(kll_sketch_agg_double(value, {KLL_K}), 0.5)"
        ).alias("direct_p50"),
        F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))").alias("exact"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        merged.join(direct, "week")
        .select(
            "week",
            "n_events",
            "p50",
            "p90",
            "p99",
            F.round(F.element_at("exact", 1), 6).alias("exact_p50"),
            F.round(F.element_at("exact", 2), 6).alias("exact_p90"),
            F.round(F.element_at("exact", 3), 6).alias("exact_p99"),
            "direct_p50",
        )
        .orderBy("week")
    )


QUERIES["value_percentile_sketch_rollup"] = value_percentile_sketch_rollup


# ---- portable Bloom filter: bitset contents + probe audit ---------------

BLOOM_BITS = 16384  # 512 x 32-bit words; sized so sf0.1 fill ~ 50%
BLOOM_K = 4  # Kirsch-Mitzenmacher-style seeded rehash per probe
BLOOM_SPEND_THRESHOLD = 490000.0  # "big spender" member predicate
_BLOOM_WORD_BITS = 32  # 32-bit words: bit 63 shifts overflow in DuckDB


def _bloom_cells_spark(df: DataFrame, key_col: str) -> DataFrame:
    """(key, word_idx, mask) cells for each of the BLOOM_K seeded
    hashes of ``key_col`` — the seed offsets the key before the
    portable hash pipeline (the CMS trick), the bit index takes the
    TOP bits of the 32-bit hash."""
    seeds = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    cells = df.select(
        F.col(key_col).cast("bigint").alias("k"),
        F.explode(seeds).alias("j"),
    ).select("k", F.expr(f"k + j * {_H_MUL1}").alias("h"))
    for expr in hash_stage_exprs("h", "spark"):
        cells = cells.select("k", F.expr(expr).alias("h"))
    return cells.select(
        "k",
        F.expr(f"CAST(h * {BLOOM_BITS} DIV {_TWO32} DIV {_BLOOM_WORD_BITS} AS INT)").alias(
            "word_idx"
        ),
        F.expr(
            f"shiftleft(1L, CAST(h * {BLOOM_BITS} DIV {_TWO32} AS INT) % {_BLOOM_WORD_BITS})"
        ).alias("mask"),
    )


def _bloom_cells_duck(member_select: str) -> str:
    """DuckDB twin of ``_bloom_cells_spark``: ``member_select`` must
    yield a single BIGINT column ``k``."""
    seeded = (
        f"SELECT k, (k + j * {_H_MUL1}) AS h FROM ({member_select}),"
        f" UNNEST([{', '.join(str(j) for j in range(BLOOM_K))}]) AS t(j)"
    )
    hashed = duck_hash32_cte(seeded, "k")
    return f"""
        SELECT k,
               CAST(h * {BLOOM_BITS} // {_TWO32} // {_BLOOM_WORD_BITS} AS INT) AS word_idx,
               (1::BIGINT << (CAST(h * {BLOOM_BITS} // {_TWO32} AS INT) % {_BLOOM_WORD_BITS})) AS mask
        FROM ({hashed})
    """


_BLOOM_MEMBERS_DUCK = (
    "SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k FROM orders"
    f" WHERE o_totalprice > {BLOOM_SPEND_THRESHOLD}"
)


def _bloom_members_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_totalprice") > BLOOM_SPEND_THRESHOLD)
        .select(F.col("o_custkey").cast("bigint").alias("k"))
        .distinct()
    )


def bloom_filter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom bitset a runtime filter would broadcast — ORACLE-
    BACKED: members are the distinct big-spender custkeys, each setting
    BLOOM_K bits of a 16384-bit filter under the portable seeded hash;
    output is the non-empty 32-bit words (word_idx, word, n_bits).

    The filter is a pure integer function of the data, so DuckDB
    rebuilds the identical bitset — the Bloom entry in the "exact
    faces verify sketch faces" story (``bloom_semi_join`` keeps the
    xxhash64+numpy fast path; this face pins the semantics).  Bounded
    state end-to-end: the bitset is <= 512 rows no matter the input —
    at 100 TB the words ARE the broadcast payload.
    """
    cells = _bloom_cells_spark(_bloom_members_spark(spark, sf_dir), "k")
    return (
        cells.groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .select(
            "word_idx",
            "word",
            F.bit_count("word").cast("int").alias("n_bits"),
        )
        .orderBy("word_idx")
    )


def bloom_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe EVERY customer key against the big-spender Bloom filter
    and audit the runtime-filter contract — ORACLE-BACKED, one row:
    n_probed, n_passed (keys with all BLOOM_K bits set), n_false_pos
    (passed keys that are NOT members — the exact anti-join check),
    pruned_ppm (scan rows a pre-shuffle filter would drop).

    No member sneaks past (bloom guarantees no false negatives — the
    pytest asserts it), and the false-positive rate is pinned exactly
    by both engines rather than bounded.
    """
    members = _bloom_members_spark(spark, sf_dir)
    words = (
        _bloom_cells_spark(members, "k")
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    probes = (
        load_table(spark, "customer", sf_dir)
        .select(F.col("c_custkey").cast("bigint").alias("k"))
        .distinct()
    )
    probe_cells = _bloom_cells_spark(probes, "k")
    hits = (
        probe_cells.join(F.broadcast(words), "word_idx", "left")
        .select(
            "k",
            (
                F.col("word").isNotNull()
                & (F.col("word").bitwiseAND(F.col("mask")) == F.col("mask"))
            )
            .cast("int")
            .alias("bit_set"),
        )
        .groupBy("k")
        .agg((F.sum("bit_set") == BLOOM_K).alias("passed"))
    )
    flagged = hits.join(
        members.withColumn("is_member", F.lit(1)), "k", "left"
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.col("passed").cast("long")).alias("n_passed"),
        F.sum(
            (F.col("passed") & F.col("is_member").isNull()).cast("long")
        ).alias("n_false_pos"),
        F.expr(
            "CAST(SUM(CASE WHEN NOT passed THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("pruned_ppm"),
    )


def _bloom_words_oracle() -> str:
    return f"""
        SELECT word_idx, bit_or(mask) AS word,
               CAST(bit_count(bit_or(mask)) AS INT) AS n_bits
        FROM ({_bloom_cells_duck(_BLOOM_MEMBERS_DUCK)})
        GROUP BY word_idx ORDER BY word_idx
    """


def _bloom_probe_oracle() -> str:
    return f"""
        WITH words AS (
            SELECT word_idx, bit_or(mask) AS word
            FROM ({_bloom_cells_duck(_BLOOM_MEMBERS_DUCK)})
            GROUP BY word_idx
        ), probes AS (
            SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k FROM customer
        ), hits AS (
            SELECT c.k,
                   (COUNT(*) FILTER (WHERE w.word IS NOT NULL
                                       AND (w.word & c.mask) = c.mask))
                     = {BLOOM_K} AS passed
            FROM ({_bloom_cells_duck("SELECT k FROM probes")}) c
            LEFT JOIN words w USING (word_idx)
            GROUP BY c.k
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
               CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
               CAST(SUM(CASE WHEN passed AND m.k IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               CAST(SUM(CASE WHEN NOT passed THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS pruned_ppm
        FROM hits LEFT JOIN ({_BLOOM_MEMBERS_DUCK}) m USING (k)
    """


QUERIES["bloom_filter_words"] = bloom_filter_words
QUERIES["bloom_probe_audit"] = bloom_probe_audit
ORACLE_SQL["bloom_filter_words"] = _bloom_words_oracle()
ORACLE_SQL["bloom_probe_audit"] = _bloom_probe_oracle()


def hll_portable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-TABLE rollup with the portable HLL — ORACLE-BACKED: build
    the per-DAY register table once, then answer the weekly distinct
    question by MAX-merging register rows (never re-touching events),
    side by side with a direct weekly build and the merge-identity
    check (register-sum diff must be 0 — max is associative).

    This is ``user_sketch_rollup``'s pattern with the JVM-opaque
    Datasketches state replaced by pinnable integers, so the oracle
    verifies the MERGE itself — the mergeability contract that makes
    sketch tables the 100 TB answer to "distinct users per arbitrary
    grain".  Output per week: merged z-numerator, raw estimate (one
    IEEE division), and the identity flag.
    """
    rho = _hll_rho(load_table(spark, "events", sf_dir), F.to_date("ts").alias("day"))
    binned = rho.select(
        # floor division (not DIV): Spark DIV truncates toward zero
        # while the oracle's // floors — they disagree on any pre-epoch
        # day, so keep both sides floor-consistent
        F.expr("CAST(floor(datediff(day, DATE'2024-01-01') / 7.0) AS INT)").alias(
            "week"
        ),
        "day",
        "bucket",
        "rho",
    )
    daily = binned.groupBy("week", "day", "bucket").agg(F.max("rho").alias("reg"))
    merged = daily.groupBy("week", "bucket").agg(F.max("reg").alias("reg_m"))
    direct = binned.groupBy("week", "bucket").agg(F.max("rho").alias("reg_d"))
    both = merged.join(direct, ["week", "bucket"])
    return (
        both.groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_regs"),
            (
                F.sum(F.expr(f"shiftleft(1L, {_HLL_W_BITS + 1} - reg_m)"))
                + (F.lit(HLL_M) - F.count(F.lit(1)))
                * F.lit(1 << (_HLL_W_BITS + 1))
            ).alias("z_num"),
            F.sum(F.expr("abs(reg_m - reg_d)")).cast("bigint").alias("merge_diff"),
        )
        .select(
            "week",
            "n_regs",
            "z_num",
            (F.lit(_HLL_EST_NUM) / F.col("z_num").cast("double")).alias("est_raw"),
            (F.col("merge_diff") == 0).alias("merge_identity"),
        )
        .orderBy("week")
    )


def _hll_rollup_oracle_sql() -> str:
    hash_cte = duck_hash32_cte(
        "SELECT CAST(ts AS DATE) AS day, user_id AS h FROM events"
        " WHERE user_id IS NOT NULL",
        "day",
    )
    return f"""
        WITH binned AS (
            SELECT CAST(date_diff('day', DATE '2024-01-01', day) AS INT) // 7 AS week,
                   day, CAST(h & {HLL_M - 1} AS INT) AS bucket,
                   {_hll_rho_sql("(h >> 8)")} AS rho
            FROM ({hash_cte})
        ), daily AS (
            SELECT week, day, bucket, MAX(rho) AS reg
            FROM binned GROUP BY week, day, bucket
        ), merged AS (
            SELECT week, bucket, MAX(reg) AS reg_m FROM daily GROUP BY week, bucket
        ), direct AS (
            SELECT week, bucket, MAX(rho) AS reg_d FROM binned GROUP BY week, bucket
        ), paired AS (
            SELECT merged.week, merged.bucket, reg_m, reg_d
            FROM merged JOIN direct
              ON merged.week = direct.week AND merged.bucket = direct.bucket
        )
        SELECT week, CAST(COUNT(*) AS INT) AS n_regs,
               CAST(SUM((1::BIGINT << ({_HLL_W_BITS + 1} - reg_m)))
                    + ({HLL_M} - COUNT(*)) * {1 << (_HLL_W_BITS + 1)}
                    AS BIGINT) AS z_num,
               CAST({_HLL_EST_NUM!r} AS DOUBLE)
                 / CAST(CAST(SUM((1::BIGINT << ({_HLL_W_BITS + 1} - reg_m)))
                        + ({HLL_M} - COUNT(*)) * {1 << (_HLL_W_BITS + 1)}
                        AS BIGINT) AS DOUBLE) AS est_raw,
               CAST(SUM(abs(reg_m - reg_d)) AS BIGINT) = 0 AS merge_identity
        FROM paired GROUP BY week ORDER BY week
    """


QUERIES["hll_portable_rollup"] = hll_portable_rollup
ORACLE_SQL["hll_portable_rollup"] = _hll_rollup_oracle_sql()


def kmv_user_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-style A-not-B estimates from the SAME portable KMV
    sketches as ``kmv_user_overlap`` — ORACLE-BACKED: within the
    k-minimum union sample, the share of hashes seen only in A
    estimates |A \\ B| as share * |A union B| (and symmetrically),
    the classic theta-sketch set-difference — still bounded at k rows
    per set, still one shuffle.
    """
    ev = load_table(spark, "events", sf_dir)
    pair = ev.where(
        F.col("event_type").isin("click", "purchase") & F.col("user_id").isNotNull()
    )
    sk = kmv_sketch(pair, "event_type", "user_id")
    merged = (
        sk.select("h", "event_type")
        .groupBy("h")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("in_c"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "in_p"
            ),
        )
        .orderBy("h")
        .limit(KMV_K)
    )
    return merged.agg(
        _kmv_estimate(KMV_K).alias("est_union"),
        (F.sum(F.expr("CASE WHEN in_c = 1 AND in_p = 0 THEN 1 ELSE 0 END")) / F.count(F.lit(1))).alias("rho_c"),
        (F.sum(F.expr("CASE WHEN in_p = 1 AND in_c = 0 THEN 1 ELSE 0 END")) / F.count(F.lit(1))).alias("rho_p"),
    ).select(
        (F.col("rho_c") * F.col("est_union")).alias("est_click_only"),
        (F.col("rho_p") * F.col("est_union")).alias("est_purchase_only"),
        F.col("est_union").alias("est_union_users"),
    )


ORACLE_SQL["kmv_user_difference"] = f"""
    WITH hashed AS (
        SELECT DISTINCT event_type, h FROM (
            {duck_hash32_cte(
                "SELECT DISTINCT event_type, user_id AS h FROM events"
                " WHERE event_type IN ('click', 'purchase')"
                " AND user_id IS NOT NULL",
                "event_type",
            )}
        )
    ), sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hashed
        ) WHERE rn <= {KMV_K}
    ), merged AS (
        SELECT h,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_c,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_p
        FROM sk GROUP BY h ORDER BY h LIMIT {KMV_K}
    )
    SELECT (CAST(SUM(CASE WHEN in_c = 1 AND in_p = 0 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)) * ({_KMV_EST}) AS est_click_only,
           (CAST(SUM(CASE WHEN in_p = 1 AND in_c = 0 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)) * ({_KMV_EST}) AS est_purchase_only,
           {_KMV_EST} AS est_union_users
    FROM merged
"""
QUERIES["kmv_user_difference"] = kmv_user_difference
