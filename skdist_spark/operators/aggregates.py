"""Skew-safe aggregation generics.

A plain ``groupBy(keys)`` over power-law keys bottlenecks: the heaviest
key lands on ONE reducer regardless of cluster size. For decomposable
aggregates (count / sum / min / max) the fix is the two-stage salted
shape (the registry query plans.windows.salted_event_totals calls it):
stage 1 aggregates on (keys, salt) — num_salts x the reduce parallelism
for the hot keys — stage 2 merges the bounded per-salt partials.

The salt must be DETERMINISTIC (derived from a column, never rand()):
failed/speculative tasks re-execute and must re-salt identically, or
partials double-count. Sums aggregate in DECIMAL so the two-stage
result is exactly the single-stage result regardless of merge order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def salted_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    *,
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    count_alias: str | None = "n_rows",
    salt_src: str | None = None,
    num_salts: int = DEFAULT_SALTS,
    sum_decimal: str = "decimal(28,6)",
) -> DataFrame:
    """Two-stage skew-safe groupBy for decomposable aggregates.

    Output columns: ``group_cols`` + ``sum_<c>`` (double) / ``min_<c>``
    / ``max_<c>`` per requested column + a row count. ``salt_src``
    names a column whose hash spreads each hot key across salts; when
    None, a deterministic hash of every non-group column is used.
    """
    group_cols = list(group_cols)
    if salt_src is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_src)), F.lit(num_salts))
    else:
        others = [c for c in df.columns if c not in group_cols]
        if not others:
            # xxhash64() with zero inputs is a CONSTANT (the seed): every
            # row would land in one salt bucket and the hot key still
            # hits a single reducer — fail loudly instead.
            raise ValueError(
                "salted_agg: no non-group columns to derive a salt from; "
                "pass salt_src= or add a payload column"
            )
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in others]), F.lit(num_salts))

    partial_aggs = [F.count(F.lit(1)).alias("__n")]
    partial_aggs += [
        F.sum(F.col(c).cast(sum_decimal)).alias(f"__sum_{c}") for c in sum_cols
    ]
    partial_aggs += [F.min(c).alias(f"__min_{c}") for c in min_cols]
    partial_aggs += [F.max(c).alias(f"__max_{c}") for c in max_cols]
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*group_cols, "__salt")
        .agg(*partial_aggs)
    )

    final_aggs = []
    if count_alias:
        final_aggs.append(F.sum("__n").alias(count_alias))
    final_aggs += [
        F.sum(f"__sum_{c}").cast("double").alias(f"sum_{c}") for c in sum_cols
    ]
    final_aggs += [F.min(f"__min_{c}").alias(f"min_{c}") for c in min_cols]
    final_aggs += [F.max(f"__max_{c}").alias(f"max_{c}") for c in max_cols]
    return partial.groupBy(*group_cols).agg(*final_aggs)
