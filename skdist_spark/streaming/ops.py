"""Structured Streaming operators over the events stream.

Batch-callable wrappers run a REAL streaming query (file source ->
watermarked transformations -> memory sink, Trigger.AvailableNow) and
return the drained sink as a DataFrame, so the driver's rows-only check
exercises the genuine streaming engine, not a batch lookalike.

Scale posture: watermarks bound aggregation state; sessionization
state is per-user and closed sessions are emitted eagerly, so state
size tracks active users only.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_GAP_MIN = 30


def _stage_table_dir(sf_dir: str, table: str) -> str:
    """The file stream source requires a DIRECTORY; stage one with a
    symlink to the (read-only) ``table`` parquet of ``sf_dir``."""
    import hashlib
    import os

    prefix = {"events": "skdist_stream", "documents": "skdist_stream_docs"}[table]
    stage = f"/tmp/{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, f"{table}.parquet"), link)
    return stage


def _stage_stream_dir(sf_dir: str) -> str:
    """The staged events directory that ``_read_event_stream`` reads."""
    return _stage_table_dir(sf_dir, "events")


def _read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table.

    The file stream source needs an explicit schema, and the driver has
    shipped the events table with different physical ``ts`` layouts over
    time (TIMESTAMP(NANOS) read as long, TIMESTAMP_NTZ micros). Derive
    the schema from the static parquet footer once per call (a
    footer-only read, no data scan) and normalize ``ts`` to a
    session-tz TimestampType so watermarks behave identically either
    way.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.schema(static_schema)
        .format("parquet")
        .load(_stage_stream_dir(sf_dir))
    )
    ts_type = static_schema["ts"].dataType.simpleString()
    if ts_type == "bigint":  # legacy nanos-as-long layout
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":  # timestamp_ntz -> session-tz timestamp
        return raw.withColumn("ts", F.col("ts").cast(TimestampType()))
    return raw


STREAM_STATE_PARTITIONS = 8

# Spark's built-in RocksDB state store: off-heap, disk-backed state
# with incremental (changelog) checkpoints. The default HDFS-backed
# store keeps every key in executor heap — fine for bounded watermarked
# aggregations, but large stateful jobs (high-cardinality dedup /
# sessionization over 100 TB) need state >> heap, which is exactly
# what RocksDB provides.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_STATE_CONF = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


@contextmanager
def rocksdb_state(spark: SparkSession, changelog_checkpointing: bool = True):
    """Scope streaming queries to the RocksDB state store.

    Any stream STARTED inside the block uses RocksDB state (the
    provider is fixed per query at start, so already-running queries
    are unaffected). Changelog checkpointing uploads per-batch deltas
    instead of full snapshots — the difference between O(delta) and
    O(state) checkpoint cost once state is large.
    """
    prev_provider = spark.conf.get(_STATE_CONF, None)
    prev_changelog = spark.conf.get(_CHANGELOG_CONF, None)
    spark.conf.set(_STATE_CONF, ROCKSDB_STATE_PROVIDER)
    spark.conf.set(_CHANGELOG_CONF, str(changelog_checkpointing).lower())
    try:
        yield spark
    finally:
        for key, prev in ((_STATE_CONF, prev_provider), (_CHANGELOG_CONF, prev_changelog)):
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def _drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Start ``writer`` with Trigger.AvailableNow (process everything
    currently available, then stop) and block until it has drained.

    Stateful operators get a reduced shuffle-partition count for the
    query's lifetime: each state partition pays a state-store +
    Python-worker startup per microbatch, so 32 partitions of tiny
    per-partition state is all fixed cost. (On a real cluster this is
    sized to executor count; state partitioning is fixed at first run
    by checkpoint anyway.)  foreachBatch sinks inherit the count in
    their per-batch jobs.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream_to_df(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain a streaming DataFrame through a memory sink and return the
    materialized result (deterministic for static input)."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    _drain(
        spark,
        stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode),
    )
    return spark.table(name)


# Multi-batch replay layouts: a table staged as range-ordered parquet
# files with ascending mtimes, replayed one file per micro-batch.
# name -> (stage prefix, cache tag, table, row filter, range keys,
# file count).  The cache tag is part of the stage path's hash, so a
# layout change invalidates previously staged dirs.
_REPLAY_LAYOUTS = {
    # part i holds the i-th time slice; the event_id tiebreak makes the
    # replay order TOTAL, so order-sensitive stateful consumers
    # (stream_user_ewma) fold identically to a batch sort
    "events": ("seq", "ts-eid", "events", None, ("ts", "event_id"), 4),
    # incoming half of the ingest funnel (the even half is the corpus)
    "docs_odd": ("docs_odd", "v1", "documents", "doc_id % 2 = 1", ("doc_id",), 2),
    # every document in id order: the budget gate's batch ordering
    "docs_all": ("docs_all", "v1", "documents", None, ("doc_id",), 3),
    # query half of the ANN enrichment (the even half is the corpus)
    "emb_odd": ("emb_odd", "v1", "embeddings", "vec_id % 2 = 1", ("vec_id",), 2),
}


def _stage_replay(spark: SparkSession, sf_dir: str, layout: str) -> str:
    """Stage one ``_REPLAY_LAYOUTS`` entry as range-ordered parquet
    files with ascending modification times, so a file-source stream
    with maxFilesPerTrigger=1 replays them as successive micro-batches
    in key order — on the events layout the watermark then genuinely
    advances between batches (a single-file replay collapses to one
    batch, where a watermark can never close anything).  A ``_STAGED``
    sentinel marks a complete stage, which later calls reuse."""
    import hashlib
    import os
    import shutil

    from ..sources.catalog import load_table

    prefix, tag, table, where, keys, n_files = _REPLAY_LAYOUTS[layout]
    digest = hashlib.md5(f"{sf_dir}:{tag}".encode()).hexdigest()[:8]
    stage = f"/tmp/skdist_stream_{prefix}_{digest}"
    done = os.path.join(stage, "_STAGED")
    if os.path.exists(done):
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    tmp = stage + "_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df = load_table(spark, table, sf_dir)
    if where is not None:
        df = df.where(where)
    df.repartitionByRange(n_files, *keys).write.parquet(tmp)
    os.makedirs(stage, exist_ok=True)
    parts = sorted(
        f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = 1_000_000_000  # deterministic ascending mtimes for source ordering
    for i, name in enumerate(parts):
        dst = os.path.join(stage, f"batch_{i:04d}.parquet")
        shutil.move(os.path.join(tmp, name), dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(tmp, ignore_errors=True)
    open(done, "w").close()
    return stage


def _read_replay(spark: SparkSession, sf_dir: str, layout: str) -> DataFrame:
    """File-source stream over a staged replay layout, one file per
    micro-batch.  The staged files come from load_table, so ts is
    already a normalized session-tz timestamp — the staged footer
    schema is authoritative."""
    stage = _stage_replay(spark, sf_dir, layout)
    return (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )


def stage_stream_inputs(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Stage every file-stream input of ``sf_dir`` ahead of the stream
    queries: the events and documents symlink directories plus each
    replay layout.  Idempotent (staged layouts are reused).  Returns
    {layout: stage}."""
    _stage_stream_dir(sf_dir)
    _stage_table_dir(sf_dir, "documents")
    return {layout: _stage_replay(spark, sf_dir, layout) for layout in _REPLAY_LAYOUTS}


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window aggregation per event_type, complete mode.

    Complete mode recomputes every window per micro-batch and keeps all
    window state (watermarks are IGNORED in complete mode, so none is
    declared) — the right shape for bounded replay / small window
    cardinality. The unbounded-production variant is
    ``stream_append_windows``: append mode + watermark, where window
    state is actually evicted as the watermark advances.
    """
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    out = run_stream_to_df(agg, output_mode="complete")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("window_start", "event_type")


def stream_sliding_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (1 h window, 15 min slide): per-type event
    counts and APPROX distinct users per window — overlapping windows
    are the one windowed-aggregation shape tumbling windows can't
    express; the HLL distinct keeps PER-WINDOW state bounded where an
    exact distinct would hold every user id. Merge-order independent,
    so deterministic for static input.

    Complete mode: all windows are retained (watermarks are ignored in
    complete mode, so none is declared) — bounded-replay semantics; the
    watermark-evicting production shape is ``stream_append_windows``.
    """
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
    )
    out = run_stream_to_df(agg, output_mode="complete")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "approx_users",
    ).orderBy("window_start", "event_type")


def _sessionize_group(
    key: Any, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer: emit sessions closed by an in-batch
    gap; keep the trailing open session in state for the next batch."""
    (user_id,) = key
    rows = pd.concat(list(batches)).sort_values("ts", kind="mergesort")
    if state.exists:
        start_us, last_us, n_events, sum_value = state.get
    else:
        start_us = last_us = None
        n_events, sum_value = 0, 0.0

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    out = []
    for ts, value in zip(rows["ts"], rows["value"]):
        ts_us = int(ts.value // 1000)  # pandas ns -> us
        if last_us is not None and ts_us - last_us > gap_us:
            out.append((user_id, start_us, last_us, n_events, sum_value))
            start_us, n_events, sum_value = ts_us, 0, 0.0
        if start_us is None:
            start_us = ts_us
        last_us = ts_us
        n_events += 1
        sum_value += float(value)
    state.update((start_us, last_us, n_events, sum_value))
    yield pd.DataFrame(
        out,
        columns=["user_id", "session_start_us", "session_end_us", "n_events", "sum_value"],
    )


_SESSION_OUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events long, sum_value double"
)
_SESSION_STATE_SCHEMA = "start_us long, last_us long, n_events long, sum_value double"


def sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Generic stateful sessionizer for ANY streaming frame with
    (user, timestamp, value) columns: watermarked per-user state via
    ``applyInPandasWithState``, emitting gap-closed sessions. Returns
    the (still streaming) session frame — compose with any sink."""
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization via applyInPandasWithState."""
    sessions = sessionize_stream(_read_event_stream(spark, sf_dir))
    out = run_stream_to_df(sessions, output_mode="append")
    return out.select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
        F.timestamp_micros(F.col("session_end_us")).alias("session_end"),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    ).orderBy("user_id", "session_start")


class _SessionProcessor:
    """transformWithStateInPandas face of the gap sessionizer — the
    Spark 4 arbitrary-state API (typed value state via a handle,
    timer support, state schema evolution) that supersedes
    applyInPandasWithState. Emits the SAME sessions as
    _sessionize_group so the two faces are interchangeable.
    Lazily subclassed because StatefulProcessor lives in pyspark 4+.
    """

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        self._state = handle.getValueState(
            "session",
            StructType(
                [
                    StructField("start_us", LongType()),
                    StructField("last_us", LongType()),
                    StructField("n_events", LongType()),
                    StructField("sum_value", DoubleType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        batch = pd.concat(list(rows)).sort_values("ts", kind="mergesort")
        if self._state.exists():
            start_us, last_us, n_events, sum_value = self._state.get()
        else:
            start_us = last_us = None
            n_events, sum_value = 0, 0.0
        gap_us = SESSION_GAP_MIN * 60 * 1_000_000
        out = []
        for ts, value in zip(batch["ts"], batch["value"]):
            ts_us = int(ts.value // 1000)
            if last_us is not None and ts_us - last_us > gap_us:
                out.append((user_id, start_us, last_us, n_events, sum_value))
                start_us, n_events, sum_value = ts_us, 0, 0.0
            if start_us is None:
                start_us = ts_us
            last_us = ts_us
            n_events += 1
            sum_value += float(value)
        self._state.update((start_us, last_us, n_events, sum_value))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_start_us", "session_end_us",
                "n_events", "sum_value",
            ],
        )

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """transformWithStateInPandas runs a protobuf-based state server in
    the Python worker; without google.protobuf the worker crashes at
    runtime, so gate on the import like the Kafka connector."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def sessionize_stream_tws(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap sessionization via ``transformWithStateInPandas`` — output
    is identical to ``sessionize_stream``; only the state API differs.

    Requires the ``protobuf`` package at RUNTIME (worker-side state
    server); raises immediately with a clear message when absent.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(google.protobuf) in the Python environment; install it or "
            "use sessionize_stream (applyInPandasWithState), which "
            "produces identical sessions."
        )
    from pyspark.sql.streaming import StatefulProcessor

    processor_cls = type("SessionProcessor", (_SessionProcessor, StatefulProcessor), {})
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=processor_cls(),
            outputStructType=_SESSION_OUT_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    )


def stream_sessionize_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization via the Spark 4
    transformWithStateInPandas API (same result as stream_sessionize)."""
    sessions = sessionize_stream_tws(_read_event_stream(spark, sf_dir))
    out = run_stream_to_df(sessions, output_mode="append")
    return out.select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
        F.timestamp_micros(F.col("session_end_us")).alias("session_end"),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    ).orderBy("user_id", "session_start")


def stream_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: first occurrence per (user_id, event_type) via
    dropDuplicates.  State is one entry per DISTINCT KEY and — because
    the event-time column is not part of the dedup key — the watermark
    does NOT evict it: this face is for key domains that are bounded by
    construction (here |users| x |event types|), where exact
    at-most-once per key forever is the contract.  For unbounded key
    domains use ``stream_dedup_users_ttl`` (dropDuplicatesWithinWatermark),
    which trades re-admission after the watermark for O(watermark)
    state.  Output is the deterministic KEY SET (which physical row
    arrived first is arrival-order dependent, so only keys are
    emitted), then a batch rollup of unique users per type."""
    ev = _read_event_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_stream_to_df(deduped, output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
        .orderBy("event_type")
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (micro-batch side looks up the static side,
    which Spark re-plans per batch — broadcast when small). Output is
    the per-mktsegment event rollup, deterministic for static input."""
    from ..sources.catalog import load_table

    ev = _read_event_stream(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(cust), "user_id", "inner")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_stream_to_df(agg, output_mode="complete")
    return out.orderBy("c_mktsegment", "event_type")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition:
    purchases joined to clicks by the same user within the preceding
    30 minutes. Both sides carry watermarks so the join state is
    bounded (Spark drops buffered rows older than watermark + range).

    Output keys only + batch rollup: which click matched is
    deterministic (all within-range clicks emit), so the per-user
    match count is stable. rows-only (stream-stream joins aren't
    ANSI-SQL; the batch-side range_join_clicks carries the oracle
    for the same join semantics)."""
    clicks = (
        _read_event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _read_event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select("purchase_id", "user_id")
    out = run_stream_to_df(joined, output_mode="append")
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_click_attributed"))
        .orderBy("user_id")
    )


_MINHASH_OUT_SCHEMA = "canonical_id long, doc_id long, band_idx int"
_MINHASH_STATE_SCHEMA = "canonical_id long"


def _band_group_factory(ttl_ms: int | None):
    def _band_group(key, pdf_iter, state):
        """Per-(band_idx, band_hash) state: the FIRST doc id seen in
        this LSH bucket. Every later arrival is emitted as a
        candidate-duplicate edge (canonical_id -> doc_id); connected
        components over the edge stream reconstruct full duplicate
        clusters downstream. With a TTL, idle buckets expire (bounded
        state on unbounded streams — dedup scope becomes 'within TTL
        of the canonical', the standard streaming-dedup contract)."""
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        canonical = state.get[0] if state.exists else None
        out = []
        for pdf in pdf_iter:
            for doc_id in sorted(pdf["doc_id"].tolist()):
                if canonical is None:
                    canonical = int(doc_id)
                elif doc_id != canonical:
                    out.append((canonical, int(doc_id), int(key[0])))
        state.update((canonical,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield pd.DataFrame(out, columns=["canonical_id", "doc_id", "band_idx"])

    return _band_group


def minhash_pairs_stream(
    docs_stream: DataFrame, state_ttl_minutes: int | None = None
) -> DataFrame:
    """Incremental (streaming) MinHash near-dup detection over a
    (doc_id, text) stream: the batch LSH band derivation runs unchanged
    on the stream (pure column expressions), then per-bucket state via
    ``applyInPandasWithState`` emits candidate edges as documents
    arrive — each new doc joins its bucket's canonical doc.

    State is ONE long per non-empty LSH bucket (bounded by corpus
    band-hash cardinality; production adds a state TTL via timeout for
    unbounded streams). Emitted edges are candidates (band collision),
    the same pre-verification stage as batch ``dedup_minhash``; exact
    Jaccard verification composes downstream where text is available.
    """
    from ..operators.dedup import minhash_bands

    bands = minhash_bands(docs_stream)
    return bands.groupBy("band_idx", "band_hash").applyInPandasWithState(
        _band_group_factory(
            None if state_ttl_minutes is None else state_ttl_minutes * 60_000
        ),
        outputStructType=_MINHASH_OUT_SCHEMA,
        stateStructType=_MINHASH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if state_ttl_minutes is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: streaming MinHash candidate edges over the
    documents table as a file stream, drained to a static frame."""
    docs = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .format("parquet")
        .load(_stage_table_dir(sf_dir, "documents"))
        .select("doc_id", "text")
    )
    out = run_stream_to_df(minhash_pairs_stream(docs))
    return out.orderBy("canonical_id", "doc_id", "band_idx")


def stream_to_partitioned_parquet(
    stream_df: DataFrame,
    path: str,
    partition_col: str,
    checkpoint: str,
):
    """foreachBatch sink: land a stream into hive-partitioned parquet.

    foreachBatch is the escape hatch when the built-in file sink can't
    express the write (dynamic partition overwrite, merges, multiple
    sinks): each micro-batch arrives as a BATCH DataFrame with exactly-
    once bookkeeping from the checkpoint. Partitioning by a bounded-
    cardinality column keeps downstream partition pruning effective.

    Returns the started StreamingQuery (availableNow trigger: drains
    what exists, then stops — call .awaitTermination()).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").partitionBy(partition_col).parquet(path)

    return (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_rollup_maintenance(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    checkpoint: str,
    watermark: str = "1 day",
):
    """Continuous-aggregate maintenance: keep a daily (bucket x
    event_type) rollup table incrementally up to date from the event
    stream — the hypertable materialized-rollup pattern.

    Each micro-batch emits only the UPDATED (bucket, type) rows
    (update output mode + watermark-bounded state); foreachBatch
    rewrites only the touched day partitions (dynamic partition
    overwrite), so maintenance cost tracks the arrival rate, not the
    table size. The batch face of this rollup is
    plans.windows.time_bucket_rollup (oracle-checked); the test
    asserts the maintained table converges to it.
    """
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(
            F.date_trunc("DAY", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        # group on the TIMESTAMP date_trunc (watermark eviction needs an
        # event-time-typed key), then surface DATE — matching the batch
        # face's r7 DATE re-typing (plans.windows.time_bucket_rollup)
        .withColumn("day", F.date_format("bucket", "yyyy-MM-dd"))
        .withColumn("bucket", F.to_date("bucket"))
    )

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            batch_df.write.mode("overwrite").partitionBy("day").parquet(path)
        finally:
            s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return (
        agg.writeStream.foreachBatch(_upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermarked tumbling windows — the UNBOUNDED-stream
    production pattern, with the watermark doing real work.

    The events table is replayed as 4 time-ordered files, one per
    micro-batch, so the 30-minute watermark advances batch over batch
    and EVICTS closed window state; append mode emits each window
    exactly once, when the watermark passes its end. Windows newer than
    the final watermark are still open and intentionally absent (why
    this is rows-only: a batch oracle would include them). State held
    at any moment is one watermark-depth of windows, independent of
    stream length — the complete-mode variants
    (stream_windowed_counts / stream_sliding_users) instead retain all
    windows and suit bounded replay.
    """
    # staged files come from load_table, so ts is already a normalized
    # session-tz timestamp — the staged footer schema is authoritative
    raw = _read_replay(spark, sf_dir, "events")
    agg = (
        raw.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    out = run_stream_to_df(agg, output_mode="append")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("window_start", "event_type")


def _ewma_group(
    key: Any, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user EWMA state machine: fold this batch's values (time
    order, event_id tiebreak) into the carried state and emit the
    updated running state once per batch."""
    from decimal import Decimal

    from ..plans.behavior import EWMA_ALPHA

    # SQL engines evaluate the literal (1 - 0.3) in DECIMAL and cast the
    # exact 0.7 to double; Python's 1 - 0.3 is one ulp higher. Derive the
    # multiplier the same way so the fold is bit-identical to the batch
    # user_value_ewma expression.
    one_minus = float(Decimal(1) - Decimal(str(EWMA_ALPHA)))

    (user_id,) = key
    rows = pd.concat(list(batches)).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    if state.exists:
        ewma, n = state.get
    else:
        ewma, n = None, 0
    for v in rows["value"]:
        v = float(v)
        ewma = v if n == 0 else ewma * one_minus + v * EWMA_ALPHA
        n += 1
    state.update((float(ewma), n))
    yield pd.DataFrame(
        [(user_id, n, float(ewma))], columns=["user_id", "n_events", "ewma_value"]
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Generic streaming EWMA: per-user running exponential moving
    average via ``applyInPandasWithState`` — the online-feature-store
    shape (state is ONE float + count per user, strictly bounded).
    Emits the updated running state per user per micro-batch; the
    latest emission per user is the current feature value and, on a
    time-ordered replay, equals the batch ``user_value_ewma`` fold
    exactly (tested)."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_group,
            outputStructType="user_id long, n_events long, ewma_value double",
            stateStructType="ewma double, n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user EWMA over the 4-batch time-ordered replay;
    returns each user's FINAL running state (the row with the highest
    event count drained from the update-mode sink)."""
    raw = _read_replay(spark, sf_dir, "events")
    out = run_stream_to_df(ewma_stream(raw), output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("ewma_value", 6).alias("ewma_value"))
        .orderBy("user_id")
    )


def stream_enriched_rollup_maintenance(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    checkpoint: str,
    watermark: str = "1 day",
):
    """Incremental view maintenance OVER A JOIN: keep a daily
    (market-segment x event_type) rollup of the DIM-ENRICHED event
    stream up to date — the materialized-join-view pattern one step
    past single-table rollup maintenance.

    Per micro-batch: the batch's events broadcast-join the customer
    dimension (Spark re-plans the static side each batch, so a
    refreshed dim file is picked up automatically — slowly-changing
    dims for free), the watermark-bounded update-mode aggregation
    emits only changed (day, segment, type) rows, and foreachBatch
    dynamically overwrites only the touched day partitions.
    Maintenance cost tracks the arrival rate, never the view size.
    """
    from ..sources.catalog import load_table

    ev = _read_event_stream(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.withWatermark("ts", watermark)
        .join(F.broadcast(cust), "user_id", "inner")
        .groupBy(
            F.date_trunc("DAY", F.col("ts")).alias("bucket"),
            "c_mktsegment",
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .withColumn("day", F.date_format("bucket", "yyyy-MM-dd"))
    )

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            batch_df.write.mode("overwrite").partitionBy("day").parquet(path)
        finally:
            s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return (
        agg.writeStream.foreachBatch(_upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the NATIVE streaming session_window operator
    (no Python state function): merging gap windows + watermark in
    append mode, so a session is emitted exactly once — when the
    watermark passes its end (last event + gap) — and its state is
    evicted.  The engine-native production shape next to the
    applyInPandasWithState face (sessionize_stream) and the batch
    faces (sessionize_events / sessionize_native).

    Replays the 4-file time-ordered staging so the watermark genuinely
    advances; sessions newer than the final watermark stay open and
    are intentionally absent (rows-only; the emitted set is verified
    against batch sessionization in the test).
    """
    raw = _read_replay(spark, sf_dir, "events")
    sess = (
        raw.withWatermark("ts", f"{SESSION_GAP_MIN} minutes")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("session_end"),
        )
    )
    out = run_stream_to_df(sess, output_mode="append")
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        "session_end",
        "n_events",
    ).orderBy("user_id", "session_start")


ANOMALY_STREAM_Z = 3.0


def _anomaly_group(
    key: Any, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-type rolling anomaly state machine.

    State is EXACT integer moments (n, sum of value-micros, sum of
    squared value-micros) so the final moments equal a batch
    aggregation bit-for-bit — no Welford float drift across batches.
    Each arriving row is scored against the PRE-batch moments (what a
    live monitor knows at arrival time); the batch's rows then fold
    into the state.
    """
    (event_type,) = key
    rows = pd.concat(list(batches))
    if state.exists:
        n, s, ss = state.get
    else:
        n, s, ss = 0, 0, 0
    # exact integer CENTS (values are cents-quantized; cents^2 sums
    # stay far inside int64 where micros^2 would overflow)
    cents = (rows["value"] * 100).round().astype("int64")
    n_anom = 0
    if n >= 2:
        mean = s / n
        var = (n * ss - s * s) / (n * n)
        if var > 0.0:
            z = (cents - mean) / (var ** 0.5)
            n_anom = int((z.abs() > ANOMALY_STREAM_Z).sum())
    n += len(cents)
    s += int(cents.sum())
    ss += int((cents * cents).sum())
    state.update((n, s, ss))
    yield pd.DataFrame(
        [(event_type, n, s, ss, len(cents), n_anom)],
        columns=["event_type", "n", "sum_cents", "sumsq_cents", "batch_rows", "batch_anomalies"],
    )


def anomaly_stream(events: DataFrame) -> DataFrame:
    """Generic streaming anomaly monitor: per-key exact integer moment
    state (bounded: three integers per key); each micro-batch emits the
    updated moments plus how many of its rows were z-score anomalies
    against the PRE-batch distribution."""
    return (
        events.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _anomaly_group,
            outputStructType=(
                "event_type string, n long, sum_cents long, "
                "sumsq_cents long, batch_rows long, batch_anomalies long"
            ),
            stateStructType="n long, s long, ss long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type anomaly monitor over the 4-batch ordered
    replay: final exact moments + total anomalies flagged across the
    replay (rows-only; the final moments equal the batch aggregation
    exactly and the anomaly counts equal a pandas replay — tested)."""
    raw = _read_replay(spark, sf_dir, "events")
    out = run_stream_to_df(anomaly_stream(raw), output_mode="update")
    return (
        out.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max_by("sum_cents", "n").alias("sum_cents"),
            F.max_by("sumsq_cents", "n").alias("sumsq_cents"),
            F.sum("batch_anomalies").alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


def dq_monitor_stream(events: DataFrame, checks: "list[tuple[str, str]]"):
    """Streaming data-quality monitor: per-micro-batch violation counts
    for declarative constraints — the circuit-breaker input of a
    production ingest ("halt the pipeline when a batch arrives with
    nulls / out-of-range values").

    ``checks`` is [(name, boolean SQL constraint)]; a row violates a
    check when the constraint does not hold (NULL counts as a
    violation, matching batch ``operators.quality.range_check``).
    Returns the still-streaming one-row-per-check-per-batch frame —
    compose with foreachBatch or a memory sink.  Aggregation state is
    |checks| counters per batch: bounded by construction.
    """
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(pred), F.lit(False)), 1).otherwise(0)
        ).cast("long").alias(name)
        for name, pred in checks
    ]
    wide = events.groupBy().agg(*aggs)
    stack = ", ".join(f"'{name}', {name}" for name, _ in checks)
    return wide.selectExpr(
        f"stack({len(checks)}, {stack}) as (check_name, violations)"
    )


DQ_STREAM_CHECKS = [
    ("value_not_null", "value IS NOT NULL"),
    ("value_in_range", "value >= 0 AND value <= 1000000"),
    ("event_type_known",
     "event_type IN ('click', 'purchase', 'error', 'signup', 'view')"),
]


def stream_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch DQ violation counts over the 4-batch replay, summed to
    per-check totals (rows-only; the batch-equivalence test asserts the
    totals equal one batch pass over the whole table)."""
    raw = _read_replay(spark, sf_dir, "events")
    out = run_stream_to_df(
        dq_monitor_stream(raw, DQ_STREAM_CHECKS), output_mode="complete"
    )
    # complete mode re-emits cumulative counts each batch and the sums
    # are monotone, so the max per check is the whole-stream total
    return (
        out.groupBy("check_name")
        .agg(F.max("violations").alias("violations"))
        .orderBy("check_name")
    )


def topk_maintenance(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    checkpoint: str,
    k: int = 20,
):
    """Continuous top-k maintenance: keep a k-row "hottest users by
    event count" table exactly up to date from the stream.

    Update-mode aggregation re-emits a user's FULL cumulative count
    whenever it changes; foreachBatch merges those rows into the k-row
    snapshot and truncates.  Truncating to exactly k is provably
    lossless for monotone counts: after a key's LAST update, its rank
    against current counts can only be better than its final rank
    (other counts still grow), so a final-top-k key is never evicted
    once its count is final — earlier evictions are healed by its next
    update.  Per-batch cost is the changed keys + a k-row rewrite;
    state is the aggregation's per-user counts (watermark-free by
    design: a lifetime leaderboard needs lifetime counts — bound the
    window instead if the product wants "top-k this week").
    """
    return (
        _topk_writer(spark, sf_dir, path, checkpoint, k)
        .trigger(availableNow=True)
        .start()
    )


def _topk_writer(
    spark: SparkSession, sf_dir: str, path: str, checkpoint: str, k: int
) -> DataStreamWriter:
    """topk_maintenance's stream and sink, not yet started."""
    raw = _read_replay(spark, sf_dir, "events")
    counts = raw.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        s = batch_df.sparkSession
        frames = [batch_df]
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            frames.append(s.read.parquet(path))
        merged = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
        top_rows = (
            merged.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))  # cumulative: latest wins
            .orderBy(F.desc("n_events"), F.asc("user_id"))
            .limit(k)
            .collect()  # O(k) driver rows — the snapshot must be re-written anyway
        )
        # the snapshot is k rows: write it driver-side with pyarrow
        # instead of a Spark write job (a Spark overwrite inside a
        # foreachBatch context measured ~4.5 s of pure fixed cost per
        # micro-batch; the arrow write is milliseconds and produces an
        # identical spark-readable parquet dir)
        tbl = pa.table(
            {
                "user_id": pa.array([r["user_id"] for r in top_rows], pa.int64()),
                "n_events": pa.array([r["n_events"] for r in top_rows], pa.int64()),
            }
        )
        os.makedirs(path, exist_ok=True)
        for old in os.listdir(path):
            if old.startswith("part-") or old == "_SUCCESS":
                os.remove(os.path.join(path, old))
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()

    return (
        counts.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )


def stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous top-20 leaderboard over the 4-batch ordered replay;
    returns the final maintained snapshot (rows-only — the batch
    equivalence vs the exact heavy-hitters shape is tested).  The k-row
    snapshot, written in rank order, is read back into a local frame so
    both scratch directories can be removed before returning."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    path = tempfile.mkdtemp(prefix="skdist_topk_")
    ckpt = tempfile.mkdtemp(prefix="skdist_topk_ckpt_")
    try:
        _drain(spark, _topk_writer(spark, sf_dir, path, ckpt, k=20))
        top = pq.read_table(os.path.join(path, "part-00000.parquet")).to_pandas()
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(top, schema="user_id bigint, n_events bigint")


QUERIES = {
    "stream_value_anomaly": stream_value_anomaly,
    "stream_session_windows": stream_session_windows,
    "stream_topk_users": stream_topk_users,
    "stream_dq_monitor": stream_dq_monitor,
    "stream_windowed_counts": stream_windowed_counts,
    "stream_user_ewma": stream_user_ewma,
    "stream_append_windows": stream_append_windows,
    "stream_sliding_users": stream_sliding_users,
    "stream_static_enrich": stream_static_enrich,
    "stream_stream_join": stream_stream_join,
    "stream_sessionize": stream_sessionize,
    "stream_dedup_users": stream_dedup_users,
    "stream_minhash_pairs": stream_minhash_pairs,
}
ORACLE_SQL: dict[str, str] = {}


def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream join with watermark-driven null
    emission — the semantics inner joins can't express: "every
    purchase, with its preceding clicks OR proof there were none".

    Both sides replay the 4-file time-ordered staging (the "events"
    replay layout), so the watermark genuinely advances and
    unmatched purchases are EVICTED-and-emitted with a null click as
    the watermark passes their last possible match instant
    (purchase_ts, since clicks must precede the purchase).  Matched
    rows stream out as they meet, exactly like the inner join; the
    null rows are the outer join's addition, and their correctness
    invariant is strong: the time-ordered replay means every
    in-range click has arrived before the purchase can be evicted,
    so a null row PROVES no match exists in the whole input.

    Output: (purchase_id, user_id, n_clicks) per emitted purchase,
    n_clicks = 0 for proven-unmatched.  rows-only: the withheld
    still-open tail depends on the final watermark (the
    batch-equivalence test accounts for the boundary exactly).
    """
    events = _read_replay(spark, sf_dir, "events")
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_id", "user_id", "click_ts")
    out = run_stream_to_df(joined, output_mode="append")
    return (
        out.groupBy("purchase_id", "user_id")
        .agg(F.count("click_ts").alias("n_clicks"))
        .orderBy("purchase_id")
    )


QUERIES["stream_stream_left_join"] = stream_stream_left_join


# ---- streaming clamped balance (prepaid-credit accounting) ------------


def _balance_group(
    key: Any, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user clamped-balance state machine: fold this batch's
    deltas (time order, event_id tiebreak) into the carried
    (balance, peak, n_moves, n_floor_hits) state — exact integer
    cents, so the stream equals the batch closed form bit-for-bit."""
    (user_id,) = key
    rows = pd.concat(list(batches)).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    if state.exists:
        bal, peak, n_moves, n_floor = state.get
    else:
        bal, peak, n_moves, n_floor = 0, 0, 0, 0
    for d in rows["delta_cents"]:
        d = int(d)
        bal = bal + d
        if bal < 0:
            bal = 0
        if bal == 0 and d < 0:
            n_floor += 1
        if bal > peak:
            peak = bal
        n_moves += 1
    state.update((int(bal), int(peak), int(n_moves), int(n_floor)))
    yield pd.DataFrame(
        [(user_id, n_moves, bal, peak, n_floor)],
        columns=[
            "user_id", "n_moves", "final_balance_cents",
            "peak_balance_cents", "n_floor_hits",
        ],
    )


def balance_stream(events: DataFrame) -> DataFrame:
    """Generic streaming clamped balance: per-user prepaid-credit
    state via ``applyInPandasWithState`` — state is four integers per
    user, strictly bounded.  On a time-ordered replay the final
    emission per user equals the batch `user_balance_resets` closed
    form exactly (tested): max(0, prev + delta) folded incrementally
    is the same sequence the running-min window identity reproduces."""
    deltas = events.where(F.col("event_type").isin("purchase", "view")).select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "CASE WHEN event_type = 'purchase'"
            " THEN CAST(floor(value * 100) AS BIGINT)"
            " ELSE -CAST(floor(value * 100) AS BIGINT) END"
        ).alias("delta_cents"),
    )
    return deltas.groupBy("user_id").applyInPandasWithState(
        _balance_group,
        outputStructType=(
            "user_id long, n_moves long, final_balance_cents long, "
            "peak_balance_cents long, n_floor_hits long"
        ),
        stateStructType="bal long, peak long, n long, floors long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_user_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming clamped balance over the 4-batch time-ordered replay;
    returns each user's FINAL state (highest move count drained from
    the update-mode sink) — bit-identical to batch user_balance_resets."""
    raw = _read_replay(spark, sf_dir, "events")
    out = run_stream_to_df(balance_stream(raw), output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_moves"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "n_moves", "final_balance_cents",
            "peak_balance_cents", "n_floor_hits",
        )
        .orderBy("user_id")
    )


QUERIES["stream_user_balance"] = stream_user_balance


# ---------------------------------------------------------------------------
# Streaming PSI drift monitor — the in-flight version of the batch
# deploy-window monitor (operators.stats.psi_drift): score every
# micro-batch's value distribution against a static reference
# histogram and flag drift before the batch lands anywhere.
# ---------------------------------------------------------------------------


def psi_stream_monitor(
    stream_binned: DataFrame, ref_counts: "list[int]"
) -> DataFrame:
    """Per-micro-batch PSI of a streaming ``bin`` column against a
    static reference histogram.

    ``ref_counts`` is the dense reference bin histogram (length
    PSI_BINS — bounded driver state by construction). Each micro-batch
    is reduced DISTRIBUTEDLY to <= PSI_BINS count rows inside
    foreachBatch; only that tiny aggregate reaches the driver, where
    the smoothed PSI scalar uses the exact formula and constants of
    the batch face (add-PSI_SMOOTH, ln terms) — so a single-batch
    replay of the reference itself scores exactly 0.0.

    Returns a BATCH DataFrame (batch_id, n_rows, psi, drifted) after
    draining the stream; drifted applies the industry >0.25 threshold.
    """
    import math

    from ..operators.stats import PSI_BINS, PSI_SMOOTH

    spark = stream_binned.sparkSession
    ref = [int(c) for c in ref_counts]
    if len(ref) != PSI_BINS:
        raise ValueError(f"ref_counts must have {PSI_BINS} entries")
    n_ref = sum(ref)
    k, nb = PSI_SMOOTH, PSI_BINS
    rows: "list[tuple[int, int, float]]" = []

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        cnt = {
            r["bin"]: r["c"]
            for r in bdf.groupBy("bin").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        n = sum(cnt.values())
        if n == 0:
            return
        psi = 0.0
        for b in range(nb):
            p = (ref[b] + k) / (n_ref + k * nb)
            q = (cnt.get(b, 0) + k) / (n + k * nb)
            psi += (p - q) * math.log(p / q)
        rows.append((int(batch_id), int(n), round(psi, 6)))

    _drain(spark, stream_binned.writeStream.foreachBatch(on_batch))
    return spark.createDataFrame(
        rows, "batch_id int, n_rows long, psi double"
    ).withColumn("drifted", F.col("psi") > F.lit(0.25))


def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: 4-batch time-ordered replay scored against the
    full table's value histogram (rows-only; per-batch PSI is a
    streaming-side effect no SQL engine can express).  The bin
    expression is shared verbatim with the batch event_value_drift."""
    from ..operators.stats import PSI_BIN_WIDTH, PSI_BINS
    from ..sources.catalog import load_table

    bin_expr = (
        f"least({PSI_BINS - 1}, greatest(0,"
        f" CAST(floor(value / {PSI_BIN_WIDTH}D) AS INT)))"
    )
    ref_rows = dict(
        load_table(spark, "events", sf_dir)
        .select(F.expr(bin_expr).alias("bin"))
        .groupBy("bin")
        .count()
        .collect()
    )
    ref = [int(ref_rows.get(b, 0)) for b in range(PSI_BINS)]
    raw = _read_replay(spark, sf_dir, "events")
    binned = raw.select(F.expr(bin_expr).alias("bin"))
    return psi_stream_monitor(binned, ref).orderBy("batch_id")


QUERIES["stream_psi_drift"] = stream_psi_drift


# ---- streaming ingest funnel -----------------------------------------


def ingest_funnel_counts(docs: DataFrame, corpus_hashes: DataFrame) -> DataFrame:
    """Rule-drop counts for one batch of INCOMING documents: the
    map-only quality rules of ``operators.text.filter_funnel`` (its
    ``_funnel_signals`` and ``_funnel_first_fail``, so the two funnels
    share one rule definition) plus a dedup gate against the ALREADY-INGESTED corpus (md5 semi-join on
    ``corpus_hashes``'s one ``text_hash`` column, the
    ``incremental_dedup`` posture — never new-vs-new).  First failing
    rule wins.  Returns (rule, n_dropped) for failing docs only — the
    shared face of the batch equivalence test and the per-micro-batch
    monitor, so streaming sums are bit-equal to one batch run by
    construction.
    """
    from ..operators.text import _SPARK_WORDS, _funnel_first_fail, _funnel_signals

    sig = (
        docs.select("doc_id", "text")
        .withColumn("wd", F.expr(_SPARK_WORDS))
        .select("doc_id", *_funnel_signals(), F.md5("text").alias("text_hash"))
    )
    dup_ids = (
        sig.select("doc_id", "text_hash")
        .join(corpus_hashes, "text_hash", "left_semi")
        .select("doc_id")
        .withColumn("is_known", F.lit(True))
    )
    first_fail = _funnel_first_fail(
        F.coalesce(F.col("is_known"), F.lit(False)), "corpus_dup"
    )
    return (
        sig.join(dup_ids, "doc_id", "left")
        .select(first_fail.alias("rule"))
        .where(F.col("rule").isNotNull())
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )


def funnel_stream_monitor(
    stream_docs: DataFrame, corpus_hashes: DataFrame
) -> DataFrame:
    """Per-micro-batch ingest funnel: each arriving batch of documents
    is scored with ``ingest_funnel_counts`` (map-only rules + semi-join
    against the static corpus hash set) and reduced DISTRIBUTEDLY to
    <= |rules| + 1 rows; only those reach the driver.  Returns a batch
    frame (batch_id, rule, n_dropped, n_batch) after draining —
    'accepted' rows carry the survivors so every batch sums to
    n_batch.  At scale the corpus hash set is a bucketed table the
    semi-join probes without reshuffling the corpus (same contract as
    ``incremental_dedup``)."""
    spark = stream_docs.sparkSession
    rows: "list[tuple[int, str, int, int]]" = []

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        n_batch = bdf.count()
        if n_batch == 0:
            return
        got = ingest_funnel_counts(bdf, corpus_hashes).collect()
        dropped = 0
        for r in got:
            rows.append((int(batch_id), r["rule"], int(r["n_dropped"]), int(n_batch)))
            dropped += int(r["n_dropped"])
        rows.append((int(batch_id), "accepted", int(n_batch - dropped), int(n_batch)))

    _drain(spark, stream_docs.writeStream.foreachBatch(on_batch))
    return stream_docs.sparkSession.createDataFrame(
        rows, "batch_id int, rule string, n_dropped long, n_batch long"
    )


def stream_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: odd-doc_id documents replayed as 2 micro-batches
    through the ingest funnel against the even-doc_id half as the
    already-ingested corpus (rows-only: per-batch accounting is a
    streaming-side effect).  Batch equivalence is pytest-asserted:
    summed per-batch drops == one-shot ``ingest_funnel_counts``."""
    from ..sources.catalog import load_table

    corpus_hashes = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    raw = _read_replay(spark, sf_dir, "docs_odd")
    out = funnel_stream_monitor(raw, corpus_hashes)
    return out.orderBy("batch_id", "rule")


QUERIES["stream_filter_funnel"] = stream_filter_funnel


# ---- streaming quantile monitor --------------------------------------


def quantile_stream_monitor(
    stream_values: DataFrame,
    value_col: str = "value",
    p99_alert: float = 250.0,
    k: int = 200,
) -> DataFrame:
    """Per-micro-batch latency/value quantiles via the Spark 4 KLL
    sketch: each batch reduces DISTRIBUTEDLY to one sketch row
    (kll_sketch_agg_double inside foreachBatch), p50/p90/p99 are read
    off that state, and one row per batch reaches the driver — the
    streaming SLA dashboard shape (alert when p99 crosses the
    threshold), state O(k) per batch regardless of batch size.

    Returns a batch frame (batch_id, n_rows, p50, p90, p99, breached)
    after draining.  Accuracy is the KLL rank guarantee (~1.3% at
    k=200), bounded against exact per-batch percentiles in pytest.
    """
    spark = stream_values.sparkSession
    rows: "list[tuple[int, int, float, float, float]]" = []

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        got = bdf.agg(
            F.expr(
                f"kll_sketch_get_quantile_double("
                f"kll_sketch_agg_double({value_col}, {k}), array(0.5D, 0.9D, 0.99D))"
            ).alias("qs"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if not got["n"]:
            return
        qs = got["qs"]
        rows.append(
            (int(batch_id), int(got["n"]), float(qs[0]), float(qs[1]), float(qs[2]))
        )

    _drain(spark, stream_values.writeStream.foreachBatch(on_batch))
    return spark.createDataFrame(
        rows, "batch_id int, n_rows long, p50 double, p90 double, p99 double"
    ).withColumn("breached", F.col("p99") > F.lit(p99_alert))


def stream_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: 4-batch time-ordered replay of events through the
    per-batch KLL quantile monitor (rows-only: per-batch sketch reads
    are a streaming-side effect; pytest bounds rank error vs exact)."""
    raw = _read_replay(spark, sf_dir, "events")
    return quantile_stream_monitor(raw.select("value")).orderBy("batch_id")


QUERIES["stream_value_quantiles"] = stream_value_quantiles


def stream_dedup_users_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) evicts a key's
    state once the watermark passes its last-seen event time, so state
    is O(keys active inside one watermark window) instead of O(all
    keys ever) — the production contract for unbounded key domains
    (request ids, message ids) where exact-once matters within the
    dedup horizon and a late re-send beyond it is acceptable (or
    filtered by a downstream batch dedup).

    A key can therefore be re-admitted after >= the watermark gap: the
    output is "at most one row per key per watermark window".  The
    rollup counts DISTINCT users per type, which is invariant to
    re-admissions — pytest asserts it equals the batch distinct count
    while the raw emitted rows may exceed the key-set size.
    """
    ev = _read_event_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_stream_to_df(deduped, output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_unique_users"))
        .orderBy("event_type")
    )


QUERIES["stream_dedup_users_ttl"] = stream_dedup_users_ttl


def stream_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming uncertainty monitor: the Poisson-bootstrap CI over an
    INCREMENTALLY-maintained unit state.

    The expensive part of the bootstrap at stream scale is the
    event -> per-(key, unit) exact micro totals; that is ONE streaming
    aggregation in update mode (keyed state, map-side combinable,
    exactly the continuous-aggregate pattern).  The bootstrap weights
    are a pure hash of (unit, replicate), so they need no state at all
    — the CI readout over |keys| x units is a bounded batch computation
    on the drained state and reuses ``bootstrap_ci_from_units``
    verbatim, which makes the streaming answer BIT-EQUAL to the batch
    ``event_value_bootstrap`` by construction (asserted in pytest).
    """
    from pyspark.sql import Window

    from ..operators.stats import bootstrap_ci_from_units

    raw = _read_replay(spark, sf_dir, "events")
    totals = raw.groupBy("event_type", "user_id").agg(
        F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias("y"),
        F.count(F.lit(1)).alias("n_events"),
    )
    drained = run_stream_to_df(totals, output_mode="update")
    w = Window.partitionBy("event_type", "user_id").orderBy(F.desc("n_events"))
    # lineage cut: the CI stage consumes the unit frame on both its
    # point and replicate branches; checkpointing the (bounded, one row
    # per key x unit) state avoids re-draining the sink twice and the
    # self-join reference conflict.
    units = (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", "user_id", "y")
        .localCheckpoint()
    )
    return bootstrap_ci_from_units(units, ["event_type"], "user_id").orderBy(
        "event_type"
    )


QUERIES["stream_bootstrap_ci"] = stream_bootstrap_ci


def stream_events_at_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time (SCD2) enrichment: the event STREAM
    joined per micro-batch against the static tier-history dimension
    on the closed-open interval condition, rolled up to
    (tier_at_event, event_type) counts in update mode.

    The stream-static join is stateless (each batch probes the static
    side; no watermark state), which is exactly how a PIT dimension
    lookup deploys — the dimension is the COMPACT change history, not
    the event log, so the per-batch non-equi probe is bounded by the
    dimension size.  pytest asserts the drained rollup equals the
    batch ``events_at_tier`` exactly.
    """
    from pyspark.sql import Window

    from ..plans.behavior import user_tier_history

    hist = user_tier_history(spark, sf_dir).select(
        F.col("user_id").alias("h_user"),
        "tier",
        "valid_from_us",
        "valid_to_us",
    )
    ev = _read_event_stream(spark, sf_dir).select(
        "user_id", F.expr("unix_micros(ts)").alias("us"), "event_type"
    )
    joined = ev.join(
        hist,
        (F.col("user_id") == F.col("h_user"))
        & (F.col("us") >= F.col("valid_from_us"))
        & (F.col("valid_to_us").isNull() | (F.col("us") < F.col("valid_to_us"))),
    )
    counts = joined.groupBy(
        F.col("tier").alias("tier_at_event"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = run_stream_to_df(counts, output_mode="update")
    w = Window.partitionBy("tier_at_event", "event_type").orderBy(
        F.desc("n_events")
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("tier_at_event", "event_type", "n_events")
        .orderBy("tier_at_event", "event_type")
    )


QUERIES["stream_events_at_tier"] = stream_events_at_tier


# ---- streaming token-budget gate ----------------------------------------


def budget_gate_stream_monitor(
    stream_docs: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming quota enforcement: admit documents while each source's
    RUNNING token total (carried across micro-batches) stays within
    ``budget`` — the ingest-side face of text.token_budget_gate, and
    bit-equal to it under id-ordered replay (pytest-asserted).

    Per batch everything except the per-source offset update is a
    distributed window pass (cumulative tokens in id order, admitted =
    carried + cum <= budget); only the |sources|-row aggregate reaches
    the driver, whose dict of offsets IS the operator state — bounded
    by the source catalog, never by data volume.  (On an unbounded
    source list this state moves into applyInPandasWithState; the
    carried-offset arithmetic is identical.)
    """
    from pyspark.sql import Window

    from ..operators.text import _SPARK_WORDS

    spark = stream_docs.sparkSession
    carried: dict[str, int] = {}
    totals: dict[str, list[int]] = {}  # src -> [n_docs, n_acc, tok, tok_acc]

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        toks = bdf.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("did"),
            F.expr(f"size({_SPARK_WORDS.replace('text', text_col)})")
            .cast("long")
            .alias("n_tok"),
        )
        if not carried:
            base = spark.createDataFrame([], "grp string, base long")
        else:
            base = spark.createDataFrame(
                [(k, v) for k, v in carried.items()], "grp string, base long"
            )
        w = (
            Window.partitionBy("grp")
            .orderBy("did")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = (
            toks.join(F.broadcast(base), "grp", "left")
            .na.fill({"base": 0})
            .select(
                "grp",
                "n_tok",
                (F.sum("n_tok").over(w) + F.col("base")).alias("cum"),
            )
        )
        agg = (
            cum.groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("cum") <= budget, 1).otherwise(0)).alias(
                    "n_acc"
                ),
                F.sum("n_tok").alias("tok"),
                F.sum(
                    F.when(F.col("cum") <= budget, F.col("n_tok")).otherwise(0)
                ).alias("tok_acc"),
            )
            .collect()
        )
        _ = batch_id
        for r in agg:
            g = r["grp"]
            carried[g] = carried.get(g, 0) + int(r["tok"])
            t = totals.setdefault(g, [0, 0, 0, 0])
            t[0] += int(r["n_docs"])
            t[1] += int(r["n_acc"])
            t[2] += int(r["tok"])
            t[3] += int(r["tok_acc"])

    _drain(spark, stream_docs.writeStream.foreachBatch(on_batch))
    return spark.createDataFrame(
        [
            (g, t[0], t[1], t[2], t[3])
            for g, t in sorted(totals.items())
        ],
        f"{group_col} string, n_docs long, n_accepted long,"
        " tokens_total long, tokens_accepted long",
    )


def stream_token_budget_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: documents replayed as 3 id-ordered micro-batches
    through the streaming token-budget gate (rows-only: carried-offset
    state is a streaming side effect; pytest asserts the final ledger
    is BIT-EQUAL to the one-shot batch gate)."""
    from ..operators.text import GATE_BUDGET_TOKENS

    raw = _read_replay(spark, sf_dir, "docs_all")
    return budget_gate_stream_monitor(raw, GATE_BUDGET_TOKENS).orderBy("source")


QUERIES["stream_token_budget_gate"] = stream_token_budget_gate


# ---- streaming ANN enrichment ---------------------------------------------


def ann_stream_enrich(
    stream_vecs: DataFrame,
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """Real-time similar-item lookup for a vector stream: every
    micro-batch of incoming embeddings runs the IVF cell equi-join
    against the STATIC corpus (broadcast centroids pick the probe
    cells) and emits each vector's top-k corpus neighbors — the
    'check new content against the index before admitting it' shape.

    Per-query results are independent of batching, so the drained
    stream is EXACTLY the batch `ivf_join` over the same vectors
    (pytest asserts row equality) — the streaming face costs no
    accuracy, only the per-batch trigger latency.  State: the static
    IVF index (centroid matrix + corpus cell assignment) is built
    ONCE before the stream starts; re-deriving it inside every
    micro-batch re-paid the O(|corpus| x nlist) assignment — the
    data-sized stage — per trigger."""
    from ..operators.similarity import ivf_build_index, ivf_join

    spark = stream_vecs.sparkSession
    index = ivf_build_index(corpus_df, centroids_df)
    rows: list = []

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        if not bdf.take(1):
            return
        got = ivf_join(bdf, k=k, nprobe=nprobe, index=index)
        for r in got.collect():
            rows.append(
                (int(batch_id), r["query_id"], r["neighbor_id"], float(r["cosine"]))
            )

    _drain(spark, stream_vecs.writeStream.foreachBatch(on_batch))
    return spark.createDataFrame(
        rows, "batch_id int, query_id long, neighbor_id long, cosine double"
    )


def _ann_stream_frames(spark: SparkSession, sf_dir: str):
    from ..sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = emb.where(F.col("vec_id") % 2 == 0)
    cents = emb.where(F.col("vec_id") % 50 == 0)
    return corpus.localCheckpoint(eager=False), cents


def stream_ann_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: odd-vec_id embeddings replayed as 2 micro-batches,
    each IVF-joined against the even-id static corpus (rows-only;
    pytest asserts exact equality with the one-shot batch ivf_join)."""
    corpus, cents = _ann_stream_frames(spark, sf_dir)
    raw = _read_replay(spark, sf_dir, "emb_odd").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = ann_stream_enrich(raw, corpus, cents)
    return out.orderBy("query_id", F.desc("cosine"), "neighbor_id")


QUERIES["stream_ann_enrich"] = stream_ann_enrich


def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of ``hll_portable_registers``: maintain the
    per-type portable-HLL register table as a streaming aggregation —
    groupBy(event_type, bucket) MAX(rho) over the batch face's own
    ``_hll_rho`` register stage, in complete mode, so each
    micro-batch folds its rows into at most types x 256 register rows
    of state (the mergeability contract live: MAX is the merge).

    rows-only (streaming); the pytest pins bit-equality of the final
    register table against the batch face — the distinct-count sketch
    you can keep continuously fresh at 100 TB because state never
    exceeds the register grid no matter the throughput.
    """
    from ..operators.sketches import _hll_rho

    regs = (
        _hll_rho(_read_event_stream(spark, sf_dir))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").cast("int").alias("reg"))
    )
    out = run_stream_to_df(regs, output_mode="complete")
    return out.orderBy("event_type", "bucket")


QUERIES["stream_hll_registers"] = stream_hll_registers
