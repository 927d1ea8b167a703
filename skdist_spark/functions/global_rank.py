"""Scale-safe total-order primitives: global ROW_NUMBER / NTILE /
running aggregates WITHOUT the single-partition window.

A bare ``Window.orderBy(...)`` (no partition) compiles to
``Exchange SinglePartition`` + one-task ``WindowExec`` — Spark's own
runtime warning ("No Partition Defined ... moving all data to a single
partition") names the problem.  On a 1000-executor cluster ranking the
user dimension of a 100 TB corpus, that one task is the job.

This module computes the SAME values in two phases, the classic
distributed-rank shape (TeraSort's partitioner applied to ranking):

1. **Deterministic range sharding.**  Shard boundaries are exact
   percentiles of a numeric ``shard_key`` over a deterministic
   hash-sample, broadcast as one array row; each row's shard id is
   ``#{boundaries < key}`` — a PURE function of the row's data.  This
   is deliberately NOT ``repartitionByRange`` + ``spark_partition_id``:
   the range partitioner re-samples with a seed derived from the
   physical RDD id, so the two consumers below can silently disagree
   on partition ids whenever the exchange is not reused (measured:
   caching the input broke rank equality).  Data-derived boundaries
   cannot disagree.  There are ``spark.sql.shuffle.partitions`` shards.
2. **Local rank + offset merge.**  A window PARTITIONED by shard id
   (and by the caller's ``group_cols``, for a per-group rank) gives
   each row its local rank; per-shard counts (≤ N rows per group,
   tiny) turn into exclusive-prefix offsets via a window over that
   count frame, merged back with a shuffled-hash join on the same keys
   — the data side leaves the window ALREADY hash-partitioned by
   them, so the join adds no exchange over the data and no broadcast
   job (the offsets side pays one count-sized exchange); then
   ``rank = local + offset(shard)``.

No stage ever sees more than ~1/N of the data (given sane boundaries),
and every step is JVM-side (whole-stage codegen; no UDFs).  Values are
EXACTLY those of the plain window — boundary placement only decides
which shard does the work, never the resulting rank — so DuckDB
oracles keep using plain ``ROW_NUMBER()/NTILE() OVER (ORDER BY ...)``.

No reference counterpart (reference file: n/a — sk-dist has no SQL
analytics layer; net-new surface).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "two_phase_row_number",
    "two_phase_running_agg",
    "two_phase_max_prefix_sum",
    "ntile_from_row_number",
]

# Boundary-sample modulus: boundaries come from an exact percentile
# over the deterministic ``xxhash64 % 251 == 0`` sample, so the
# aggregate's collected buffer is ~corpus/251 — bounded at 100 TB
# (1e9-unit frame -> ~4M sampled keys) while still giving ~1% quantile
# error, far finer than the shard count needs.  Tiny frames may sample
# down to nothing — boundaries degrade toward fewer shards but ranks
# are boundary-independent, so results never change (pinned by the
# equality tests, which also run with this set to 1 and 7).  Read at
# call time.
DEFAULT_SAMPLE_MOD = 251

_PART = "__gr_part"
_LOCAL = "__gr_local"
_OFF = "__gr_off"
_CNT = "__gr_cnt"
_KEY = "__gr_key"
_TIE = "__gr_tie"
_BNDS = "__gr_bnds"


def _sharded(
    df: DataFrame,
    shard_key: Column,
    n: int | None = None,
    sample_mod: int | None = None,
    total_col: str | None = None,
    nulls_last: bool = False,
    tie_key: Column | None = None,
) -> DataFrame:
    """Attach a deterministic range-shard id in ``[0, n)`` (``n``
    defaults to ``spark.sql.shuffle.partitions``, ``sample_mod`` to
    ``DEFAULT_SAMPLE_MOD``).

    The input is persisted (lazy ``MEMORY_AND_DISK``) so ONE computed
    copy is shared by the boundary aggregate, the per-shard counts and
    the main pass — without it each consumer re-derives the full
    upstream lineage (measured 12x on a 3-rank chain).  Persist is
    spill-safe and fault-tolerant (lineage retained), and keeps the
    full logical plan visible to plan audits (plan_lint, snapshots).

    ``shard_key`` must be numeric and monotone non-decreasing in the
    caller's total order (negate for DESC).  The DOUBLE cast used for
    boundary math is monotone, so collapsed ties stay in one shard and
    the caller's exact order columns still decide ranks within it.

    **NULL keys**: a NULL ``shard_key`` makes every boundary comparison
    NULL, so the row lands in shard 0 — correct for ASC orders (Spark
    sorts NULLS FIRST).  For DESC orders (a negated key: NULL stays
    NULL) Spark sorts NULLs LAST: pass ``nulls_last=True`` to route
    NULL-key rows to the last shard, where the in-shard window's own
    NULLS LAST placement makes their ranks globally correct.

    **Tie mass**: boundaries on ``shard_key`` alone cannot split a
    value that carries a large tie mass (e.g. a coarse model score) —
    correctness is unaffected but one shard does that value's whole
    work.  Pass ``tie_key`` (numeric, monotone non-decreasing in the
    caller's order WITHIN equal ``shard_key`` — i.e. the order's next
    sort column, usually a unique id; negate for DESC) and boundaries
    become (key, tie) pairs taken from a sorted deterministic sample,
    splitting tie masses across shards while shard assignment stays
    monotone in the total order.

    Boundaries are **exact** percentiles (``percentile`` sorts its
    collected buffer — merge-order insensitive, hence deterministic) —
    or, with ``tie_key``, evenly-spaced elements of the sorted sampled
    pair list — computed over the deterministic ``xxhash64 %
    sample_mod == 0`` sample, so the boundary aggregate's buffer stays
    ~corpus/``sample_mod`` at ANY scale (1 samples every row).
    """
    if n is None:
        conf = df.sparkSession.conf
        n = int(conf.get("spark.sql.shuffle.partitions", "200"))
    if sample_mod is None:
        sample_mod = DEFAULT_SAMPLE_MOD
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    kdf = df.withColumn(_KEY, shard_key.cast("double"))
    if tie_key is not None:
        kdf = kdf.withColumn(_TIE, tie_key.cast("double"))
        # sorted sample of (key, tie) pairs; struct sort_array orders
        # lexicographically by field, matching the shard predicate
        pair = f"CASE WHEN {_KEY} IS NOT NULL"
        if sample_mod > 1:
            pair += f" AND pmod(xxhash64({_KEY}, {_TIE}), {sample_mod}) = 0"
        pair += f" THEN struct({_KEY} AS k, {_TIE} AS t) END"
        aggs = [
            F.expr(f"sort_array(collect_list({pair}))").alias("__gr_pairs")
        ]
        if total_col is not None:
            aggs.append(F.count(F.lit(1)).alias(total_col))
        # boundary i = sample element at ceil(i * |sample| / n); the
        # index clamps to >= 1 because element_at rejects 0 (empty
        # sample -> try_element_at returns NULL -> filtered out, so a
        # tiny frame degrades to fewer shards, never to an error)
        bnds = kdf.agg(*aggs).withColumn(
            _BNDS,
            F.expr(
                f"filter(transform(sequence(1, {n - 1}), i ->"
                f" try_element_at(__gr_pairs, greatest(1, cast(ceil("
                f"i * size(__gr_pairs) / {n}) AS INT)))),"
                " p -> p IS NOT NULL)"
            ),
        ).drop("__gr_pairs")
        shard = F.expr(
            f"size(filter({_BNDS}, p -> {_KEY} > p.k OR"
            f" ({_KEY} = p.k AND {_TIE} > p.t)))"
        )
    else:
        key = _KEY
        if sample_mod > 1:
            # percentile skips NULLs, so sampling rides the SAME one-row
            # aggregate as the exact total count
            key = (
                f"CASE WHEN pmod(xxhash64({_KEY}), {sample_mod}) = 0"
                f" THEN {_KEY} END"
            )
        qs = ", ".join(f"{i / n!r}" for i in range(1, n))
        aggs = [F.expr(f"percentile({key}, array({qs}))").alias(_BNDS)]
        if total_col is not None:
            aggs.append(F.count(F.lit(1)).alias(total_col))
        bnds = kdf.agg(*aggs)
        shard = F.expr(f"size(filter({_BNDS}, b -> {_KEY} > b))")
    part = F.coalesce(shard, F.lit(0))
    if nulls_last:
        part = F.when(F.col(_KEY).isNull(), F.lit(n - 1)).otherwise(part)
    return (
        kdf.crossJoin(F.broadcast(bnds))
        .withColumn(_PART, part)
        .drop(_KEY, _TIE, _BNDS)
    )


def two_phase_row_number(
    df: DataFrame,
    order_by: list[Column],
    shard_key: Column,
    out_col: str = "rn",
    group_cols=(),
    total_col: str | None = None,
    nulls_last: bool = False,
    tie_key: Column | None = None,
) -> DataFrame:
    """``ROW_NUMBER() OVER (PARTITION BY group_cols ORDER BY order_by)``
    without a single-partition exchange (no ``group_cols``) or a
    per-group hot partition over the data.

    ``order_by`` must be a TOTAL order within each group (include a
    unique tiebreak column); ``shard_key`` is a numeric column
    monotone non-decreasing in that order (usually the first order
    column, negated for DESC).  Pass ``nulls_last=True`` when the
    leading order is DESC and ``shard_key`` can be NULL, and
    ``tie_key`` (the next order column, negated for DESC) when
    ``shard_key`` carries heavy tie masses — see ``_sharded``.
    Returns ``df`` plus a BIGINT 1-based ``out_col`` and, when
    ``total_col`` is set, the row count of the row's group (of the
    whole frame without ``group_cols``) as an extra column — the
    rank + count pair NTILE recomposition and every keep-top-percent
    cut need.

    With ``group_cols`` the window partitions by (group, range-shard),
    never by the group alone: ``Window.partitionBy(group)`` puts each
    group's ENTIRE mass in one task — a job-killer when one group
    dominates (one source = 90% of a 100 TB corpus).  Boundaries are
    GLOBAL percentiles of ``shard_key``, so the dominant group, which
    drives the global distribution, spreads across all shards; minor
    groups may concentrate but are small by definition.

    The total is free either way: without groups it rides the boundary
    aggregate, with groups it is each group's sum over the offsets
    table (one row per (group, shard)).
    """
    keys = [*group_cols, _PART]
    sharded = _sharded(
        df, shard_key, total_col=None if group_cols else total_col,
        nulls_last=nulls_last, tie_key=tie_key,
    )
    local = sharded.withColumn(
        _LOCAL,
        F.row_number().over(Window.partitionBy(*keys).orderBy(*order_by)),
    )
    counts = local.groupBy(*keys).agg(F.max(_LOCAL).cast("long").alias(_CNT))
    # exclusive prefix over ≤ n rows per group (one per shard): without
    # groups this is the sanctioned bounded-frame global window
    off_w = (
        Window.partitionBy(*group_cols)
        .orderBy(_PART)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(_OFF, F.sum(_CNT).over(off_w))
    if group_cols and total_col is not None:
        offsets = offsets.withColumn(
            total_col, F.sum(_CNT).over(Window.partitionBy(*group_cols))
        )
    # shuffled-hash, NOT broadcast: ``local`` is already hash-partitioned
    # by the join keys (the window's exchange), so the join inserts no
    # exchange on the data side and skips the broadcast-materialization
    # job a ``F.broadcast(offsets)`` would run — and the offsets table
    # GROWS with the group count, so broadcast is a scale hazard on
    # high-cardinality groups; only the offsets side shuffles
    return (
        local.join(offsets.drop(_CNT).hint("shuffle_hash"), keys)
        .withColumn(
            out_col,
            (F.col(_LOCAL) + F.coalesce(F.col(_OFF), F.lit(0))).cast("long"),
        )
        .drop(_PART, _LOCAL, _OFF)
    )


def two_phase_running_agg(
    df: DataFrame,
    order_by: list[Column],
    shard_key: Column,
    value_col: str,
    agg: str = "sum",
    out_col: str = "running",
    nulls_last: bool = False,
    tie_key: Column | None = None,
) -> DataFrame:
    """Global running ``sum``/``max``/``min`` of ``value_col`` over the
    total order ``order_by`` (ROWS UNBOUNDED PRECEDING .. CURRENT ROW),
    two-phase: local running agg within deterministic range shards,
    combined with the per-shard totals' exclusive prefix (broadcast).

    Sum requires an overflow-safe type (BIGINT/DECIMAL); max/min are
    order statistics and merge exactly for any orderable type.
    """
    if agg not in ("sum", "max", "min"):
        raise ValueError(f"unsupported running agg: {agg}")
    fn = {"sum": F.sum, "max": F.max, "min": F.min}[agg]
    sharded = _sharded(df, shard_key, nulls_last=nulls_last, tie_key=tie_key)
    local = sharded.withColumn(
        _LOCAL,
        fn(value_col).over(
            Window.partitionBy(_PART)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    counts = local.groupBy(_PART).agg(fn(value_col).alias("__tot"))
    off_w = Window.orderBy(_PART).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(_PART, fn("__tot").over(off_w).alias(_OFF))
    combine = {
        # offset is NULL for the first shard: coalesce for sum;
        # greatest/least skip NULL args by definition
        "sum": F.col(_LOCAL) + F.coalesce(F.col(_OFF), F.lit(0)),
        "max": F.greatest(F.col(_LOCAL), F.col(_OFF)),
        "min": F.least(F.col(_LOCAL), F.col(_OFF)),
    }[agg]
    # shuffled-hash offsets merge — see two_phase_row_number
    return (
        local.join(offsets.hint("shuffle_hash"), _PART)
        .withColumn(out_col, combine)
        .drop(_PART, _LOCAL, _OFF)
    )


def two_phase_max_prefix_sum(
    df: DataFrame,
    order_by: list[Column],
    shard_key: Column,
    value_col: str,
    nulls_last: bool = False,
    tie_key: Column | None = None,
) -> DataFrame:
    """One-row ``(max_prefix, n_rows)``: the maximum over the total
    order of the running sum of ``value_col`` — the sweep-line peak —
    WITHOUT materializing per-row ranks or joining offsets back.

    Max-prefix-sum is associative: per shard compute (total, local max
    prefix); the global answer is ``max_s(prefix_total(<s) +
    local_max(s))`` — one window + one aggregate over the ≤ N-row
    shard frame.  Cheaper than ``two_phase_running_agg`` + max when
    only the peak is needed (no broadcast join over the data).
    """
    sharded = _sharded(df, shard_key, nulls_last=nulls_last, tie_key=tie_key)
    w = (
        Window.partitionBy(_PART)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = sharded.withColumn(_LOCAL, F.sum(value_col).over(w))
    per_shard = local.groupBy(_PART).agg(
        F.sum(value_col).alias("__tot"),
        F.max(_LOCAL).alias("__mx"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    off_w = Window.orderBy(_PART).rowsBetween(Window.unboundedPreceding, -1)
    combined = per_shard.select(
        (
            F.coalesce(F.sum("__tot").over(off_w), F.lit(0)) + F.col("__mx")
        ).alias("__shard_peak"),
        "__cnt",
    )
    return combined.agg(
        F.max("__shard_peak").alias("max_prefix"),
        F.sum("__cnt").cast("long").alias("n_rows"),
    )


def ntile_from_row_number(rn: str, n: str, k: int) -> str:
    """SQL expression for ``NTILE(k) OVER (ORDER BY ...)`` given the
    global 1-based row number ``rn`` and total count ``n`` (column
    names or SQL sub-expressions) — the standard tile split both Spark
    and DuckDB implement: the first ``n % k`` tiles get ``n/k + 1``
    rows, the rest ``n/k``.  Integer-exact, engine-portable.
    """
    base = f"({n} DIV {k})"
    rem = f"({n} % {k})"
    big = f"({base} + 1)"
    return (
        f"CAST(CASE WHEN ({rn}) <= {big} * {rem}"
        f" THEN (({rn}) - 1) DIV {big} + 1"
        f" ELSE {rem} + (({rn}) - 1 - {big} * {rem}) DIV {base} + 1"
        f" END AS INT)"
    )
