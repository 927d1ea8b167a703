"""Reusable temporal join operators (DataFrame-in / DataFrame-out).

The registry queries ``plans.windows.asof_join`` and
``range_join_clicks`` are these operators applied to the events table.
Both operators avoid the nested-loop plans Spark produces for raw
inequality predicates:

- ``asof_join``: union both sides and take a running ``last(...)``
  window per key over the merged timeline — one shuffle on the key,
  linear in rows, skew-safe under AQE. (The classic alternative — an
  inequality join + groupBy max — is quadratic per key.)
- ``interval_join``: explode the left side into fixed-width time
  buckets covering the interval and equi-join on (key, bucket), then
  apply the exact predicate. Shuffle-join friendly; the bucket width
  trades duplication factor against candidate selectivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "interval_join", "bloom_semi_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
    strict: bool = True,
) -> DataFrame:
    """For each left row, attach the most recent PRIOR right row's
    values (per ``on`` key). ``strict=True`` excludes right rows at
    exactly the same instant (matches ``right_ts < left_ts``).

    Returns all left columns plus ``asof_<col>`` for each value col
    (default: the right timestamp itself).
    """
    if value_cols is None:
        value_cols = [right_ts]
    l_marked = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    r_marked = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("__ts"),
            *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        )
        .withColumn("__is_left", F.lit(0))
    )
    merged = l_marked.unionByName(r_marked, allowMissingColumns=True)
    # at equal timestamps: left rows sort BEFORE right rows when strict
    # (so the same-instant right row is outside the preceding frame)
    order = [F.col("__ts"), F.col("__is_left").desc() if strict else F.col("__is_left")]
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = merged
    for c in value_cols:
        out = out.withColumn(
            f"asof_{c}", F.last(f"__v_{c}", ignorenulls=True).over(w)
        )
    return out.where(F.col("__is_left") == 1).drop(
        "__is_left", "__ts", *[f"__v_{c}" for c in value_cols]
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_s: float,
    upper_s: float,
) -> DataFrame:
    """Inner join of left x right where ``right_ts`` falls within
    ``[left_ts + lower_s, left_ts + upper_s]`` seconds and the ``on``
    keys match. Implemented as a bucketed equi-join (bucket width =
    interval span) plus the exact microsecond predicate — never a
    broadcast nested loop.
    """
    if upper_s <= lower_s:
        raise ValueError("upper_s must exceed lower_s")
    width_us = max(1, int(round((upper_s - lower_s) * 1_000_000)))
    lo_us = int(round(lower_s * 1_000_000))
    hi_us = int(round(upper_s * 1_000_000))

    l_us = left.withColumn("__l_us", F.unix_micros(F.col(left_ts)))
    # candidate buckets of the shifted window [l+lo, l+hi]: its span is
    # one bucket width, so it overlaps at most 2 consecutive buckets
    l_exploded = l_us.withColumn(
        "__bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    ((F.col("__l_us") + lo_us) / width_us).cast("long"),
                    ((F.col("__l_us") + hi_us) / width_us).cast("long"),
                )
            )
        ),
    )
    r_us = right.select(
        F.col(on).alias("__r_on"),
        F.unix_micros(F.col(right_ts)).alias("__r_us"),
        *[F.col(c) for c in right.columns if c not in (on, right_ts)],
    ).withColumn("__bucket", (F.col("__r_us") / width_us).cast("long"))
    joined = l_exploded.join(
        r_us,
        (F.col(on) == F.col("__r_on")) & (l_exploded["__bucket"] == r_us["__bucket"]),
    ).where(
        (F.col("__r_us") >= F.col("__l_us") + lo_us)
        & (F.col("__r_us") <= F.col("__l_us") + hi_us)
    )
    return joined.withColumn(
        f"right_{right_ts}", F.timestamp_micros(F.col("__r_us"))
    ).drop("__l_us", "__r_us", "__bucket", "__r_on")


def bloom_semi_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str | None = None,
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
) -> DataFrame:
    """Semi-join ``left`` against ``right``'s keys with a broadcast
    Bloom filter pruning ``left`` BEFORE the shuffle; the result is
    EXACT (a final left-semi join removes bloom false positives).

    This is the runtime-filter pattern Spark applies internally
    (spark.sql.optimizer.runtime.bloomFilter.*) exposed as an operator
    you can place by hand: at 100 TB, shuffling the full fact table to
    discover that 95% of its rows have no match is the dominant cost —
    a ~0.5 MB bitmap broadcast to every executor drops those rows at
    the scan.

    Mechanics: keys are hashed JVM-side (``xxhash64`` — stays in
    whole-stage codegen); per-partition bitmaps are built in numpy via
    ``mapInPandas``, OR-merged on the driver (bounded: #partitions x
    num_bits/8 bytes), broadcast, and probed by an Arrow-batched pandas
    UDF using double hashing h1 + i*h2 (Kirsch-Mitzenmacher).
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    right_on = right_on or left_on
    n_words = num_bits // 64

    hashed = right.select(
        F.xxhash64(F.col(right_on)).alias("h1"),
        F.xxhash64(F.col(right_on), F.lit(1)).alias("h2"),
    )

    def _cells(h1, h2):
        h1u = h1.to_numpy(dtype=np.int64).astype(np.uint64)
        h2u = h2.to_numpy(dtype=np.int64).astype(np.uint64)
        ks = np.arange(num_hashes, dtype=np.uint64)
        idx = (h1u[:, None] + ks[None, :] * h2u[:, None]) % np.uint64(num_bits)
        return (idx >> np.uint64(6)).astype(np.int64), idx & np.uint64(63)

    def _build(batches):
        import pandas as pd

        bitmap = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            word, bit = _cells(pdf["h1"], pdf["h2"])
            np.bitwise_or.at(
                bitmap, word.ravel(), np.left_shift(np.uint64(1), bit.ravel())
            )
        yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    partials = hashed.mapInPandas(_build, schema="bitmap binary").collect()
    merged = np.zeros(n_words, dtype=np.uint64)
    for row in partials:
        merged |= np.frombuffer(row["bitmap"], dtype=np.uint64)
    bc = left.sparkSession.sparkContext.broadcast(merged.tobytes())

    @pandas_udf("boolean")
    def _member(h1, h2):
        import pandas as pd

        bitmap = np.frombuffer(bc.value, dtype=np.uint64)
        if len(h1) == 0:
            return pd.Series([], dtype=bool)
        word, bit = _cells(h1, h2)
        hits = (bitmap[word] >> bit) & np.uint64(1)
        return pd.Series(hits.all(axis=1))

    pruned = (
        left.withColumn("__h1", F.xxhash64(F.col(left_on)))
        .withColumn("__h2", F.xxhash64(F.col(left_on), F.lit(1)))
        .where(_member(F.col("__h1"), F.col("__h2")))
        .drop("__h1", "__h2")
    )
    return pruned.join(
        right.select(F.col(right_on).alias("__bk")).where(F.col("__bk").isNotNull()),
        pruned[left_on] == F.col("__bk"),
        "left_semi",
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the LEFT (large, skewed) side's key
    with a deterministic bucket and replicate the RIGHT side once per
    salt, so a hot key's rows spread over ``num_salts`` reducers
    instead of hammering one.

    This is the manual form of what AQE's skew-join split does at
    runtime; placing it by hand helps when the skew is known a priori
    (power-law user ids, null-heavy keys) or when AQE is unavailable
    (streaming joins). The salt derives from a hash of the whole left
    row's key + a per-row uniform component built from xxhash64 of the
    key and a monotonically increasing id — NOT rand(), so retries and
    speculative tasks resalt identically.

    Supports 'inner' and 'left' joins (semantics preserved exactly:
    each left row carries ONE salt; right replication covers all).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    salt = F.pmod(
        F.xxhash64(F.col(on), F.monotonically_increasing_id()), F.lit(num_salts)
    )
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    out = l_salted.join(r_salted, [on, "__salt"], how)
    return out.drop("__salt")
