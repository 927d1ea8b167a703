"""Structured Streaming tests: the streaming results must agree with
their batch equivalents on static input."""

import pytest
from pyspark.sql import functions as F

from skdist_spark.plans.windows import sessionize_events
from skdist_spark.sources.catalog import load_table
from skdist_spark.streaming import stream_sessionize, stream_windowed_counts


def test_stream_windowed_counts_matches_batch(spark, sf_dir):
    out = stream_windowed_counts(spark, sf_dir).collect()
    assert len(out) > 0
    ev = load_table(spark, "events", sf_dir)
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .orderBy("window_start", "event_type")
        .collect()
    )
    stream_counts = {(r.window_start, r.event_type): r.n_events for r in out}
    batch_counts = {(r.window_start, r.event_type): r.n_events for r in batch}
    assert stream_counts == batch_counts


def test_stream_append_windows_watermark_eviction(spark, sf_dir):
    """Append mode + watermark over the 4-file time-ordered replay:
    emitted windows must be exactly the batch windows whose end the
    final watermark passed, each exactly once — and strictly fewer than
    all windows (the still-open tail stays in state), proving the
    watermark actually evicts instead of being ignored."""
    from skdist_spark.streaming.ops import stream_append_windows

    out = stream_append_windows(spark, sf_dir).collect()
    assert len(out) > 0
    got = {(r.window_start, r.event_type): r.n_events for r in out}
    assert len(got) == len(out), "append emitted a window twice"

    ev = load_table(spark, "events", sf_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
        .collect()
    )
    import datetime

    wm = max_ts - datetime.timedelta(minutes=30)
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in batch
        if r.window_end <= wm
    }
    assert got == expected
    assert len(got) < len(batch), "no window stayed open -> watermark did nothing"


def test_stream_sessionize_agrees_with_batch(spark, sf_dir):
    out = stream_sessionize(spark, sf_dir).collect()
    assert len(out) > 0
    # streaming emits gap-CLOSED sessions; the open trailing session per
    # user stays in state. So streamed sessions == batch sessions minus
    # each user's last session.
    batch = sessionize_events(spark, sf_dir).collect()
    by_user_last = {}
    for r in batch:
        key = r.user_id
        if key not in by_user_last or r.session_idx > by_user_last[key].session_idx:
            by_user_last[key] = r
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch
        if by_user_last[r.user_id].session_idx != r.session_idx
    }
    got = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in out}
    assert got == expected


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    from skdist_spark.streaming.ops import stream_dedup_users

    out = {r.event_type: r.n_unique_users for r in stream_dedup_users(spark, sf_dir).collect()}
    ev = load_table(spark, "events", sf_dir)
    batch = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert out == batch


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    from skdist_spark.streaming.ops import stream_static_enrich

    out = {
        (r.c_mktsegment, r.event_type): r.n_events
        for r in stream_static_enrich(spark, sf_dir).collect()
    }
    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = {
        (r.c_mktsegment, r.event_type): r.n
        for r in ev.join(cust, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from skdist_spark.streaming.ops import stream_stream_join

    out = {
        r.user_id: r.n_click_attributed
        for r in stream_stream_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    batch = {
        r.user_id: r.n
        for r in purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch


def test_streaming_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    """File sink coverage: stream -> parquet sink (append, checkpointed)
    -> batch read-back matches the batch equivalent."""
    from skdist_spark.streaming.ops import _read_event_stream

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ev = _read_event_stream(spark, sf_dir).select("event_id", "event_type", "value")
    q = (
        ev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    n_batch = load_table(spark, "events", sf_dir).count()
    assert back.count() == n_batch
    assert set(back.columns) == {"event_id", "event_type", "value"}


def test_stream_minhash_pairs_cover_batch_pairs(spark, sf_dir):
    """Every batch-verified MinHash duplicate pair must be connected
    through the streaming candidate-edge graph (the stream emits star
    edges per LSH bucket, so connectivity — not pair identity — is the
    invariant)."""
    from skdist_spark.operators.dedup import dedup_minhash
    from skdist_spark.operators.graph import connected_components
    from skdist_spark.streaming.ops import stream_minhash_pairs

    edges = stream_minhash_pairs(spark, sf_dir)
    assert edges.count() > 0
    cc = {
        r.node: r.cluster_id
        for r in connected_components(edges, "canonical_id", "doc_id").collect()
    }
    for r in dedup_minhash(spark, sf_dir).collect():
        assert cc.get(r.doc_a) is not None and cc[r.doc_a] == cc.get(r.doc_b), (
            r.doc_a, r.doc_b,
        )


def test_stream_minhash_with_ttl_same_single_batch_result(spark, sf_dir):
    """Within one micro-batch no state expires, so TTL mode must emit
    the same edges as NoTimeout (validates the timeout wiring).

    ProcessingTimeTimeout queries never become idle under an
    availableNow drain (the timeout clock keeps scheduling batches), so
    the TTL run uses a manually-stopped continuous micro-batch query.
    """
    import time
    import uuid

    from skdist_spark.streaming.ops import (
        _DOCS_SCHEMA, _stage_table_dir, minhash_pairs_stream, run_stream_to_df,
    )

    docs = (
        spark.readStream.schema(_DOCS_SCHEMA).format("parquet")
        .load(_stage_table_dir(sf_dir, "documents"))
        .select("doc_id", "text")
    )
    plain = run_stream_to_df(minhash_pairs_stream(docs)).collect()

    name = f"ttl_sink_{uuid.uuid4().hex[:8]}"
    q = (
        minhash_pairs_stream(docs, state_ttl_minutes=60)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= len(plain):
                break
            time.sleep(1)
        with_ttl = spark.table(name).collect()
    finally:
        q.stop()
    key = lambda r: (r.canonical_id, r.doc_id, r.band_idx)
    assert sorted(map(key, plain)) == sorted(map(key, with_ttl))


def test_stream_to_partitioned_parquet(spark, sf_dir, tmp_path):
    import os

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming.ops import (
        _read_event_stream, stream_to_partitioned_parquet,
    )

    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    ev = _read_event_stream(spark, sf_dir).select("event_id", "event_type", "value")
    q = stream_to_partitioned_parquet(ev, out, "event_type", ckpt)
    q.awaitTermination()
    landed = spark.read.parquet(out)
    src = load_table(spark, "events", sf_dir)
    assert landed.count() == src.count()
    # hive-style partition dirs exist per event type
    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    types = {r.event_type for r in src.select("event_type").distinct().collect()}
    assert dirs == {f"event_type={t}" for t in types}
    # partition pruning: filtered read scans one partition
    plan = (
        landed.where("event_type = 'click'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_stream_rollup_maintenance_converges_to_batch(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from skdist_spark.plans.windows import time_bucket_rollup
    from skdist_spark.streaming.ops import stream_rollup_maintenance

    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    q = stream_rollup_maintenance(spark, sf_dir, out, ckpt)
    q.awaitTermination()
    maintained = {
        (r.bucket, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in spark.read.parquet(out).collect()
    }
    # n_users (exact distinct) is not incrementally maintainable with
    # bounded state; the maintained rollup carries the other measures
    batch = {
        (r.bucket, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in time_bucket_rollup(spark, sf_dir).collect()
    }
    assert maintained == batch


def test_rocksdb_state_store_same_results(spark, sf_dir):
    """A stateful streaming query under the RocksDB state store must
    produce exactly the default-provider result (provider changes the
    state BACKEND, never the semantics), and the conf must be restored
    after the scope exits."""
    from skdist_spark.streaming.ops import (
        ROCKSDB_STATE_PROVIDER, rocksdb_state, stream_dedup_users,
    )

    baseline = sorted(map(tuple, stream_dedup_users(spark, sf_dir).collect()))
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    with rocksdb_state(spark):
        assert spark.conf.get(conf_key) == ROCKSDB_STATE_PROVIDER
        rocks = sorted(map(tuple, stream_dedup_users(spark, sf_dir).collect()))
    assert spark.conf.get(conf_key, None) != ROCKSDB_STATE_PROVIDER
    assert rocks == baseline


def test_tws_sessionize_matches_apip_face(spark, sf_dir):
    """transformWithStateInPandas sessionizer must equal the
    applyInPandasWithState face (skipped where protobuf is absent;
    the gate must then raise a clear error instead of crashing the
    stream mid-query)."""
    import pytest

    from skdist_spark.streaming.ops import (
        stream_sessionize, stream_sessionize_tws, tws_available,
    )

    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            stream_sessionize_tws(spark, sf_dir)
        pytest.skip("protobuf not installed; TWS runtime unavailable")
    a = sorted(map(tuple, stream_sessionize(spark, sf_dir).collect()))
    b = sorted(map(tuple, stream_sessionize_tws(spark, sf_dir).collect()))
    assert a == b


def test_stream_sliding_users_matches_batch(spark, sf_dir):
    """Sliding-window streaming rollup must equal the equivalent batch
    computation (window slicing + HLL are engine-shared code paths)."""
    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming.ops import stream_sliding_users

    got = sorted(map(tuple, stream_sliding_users(spark, sf_dir).collect()))
    ev = load_table(spark, "events", sf_dir)
    want = sorted(
        map(
            tuple,
            ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.approx_count_distinct("user_id").alias("approx_users"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "approx_users")
            .collect(),
        )
    )
    assert got == want


def test_stream_user_ewma_matches_batch_fold(spark, sf_dir):
    """The streaming per-user EWMA state machine, replayed over the
    4-file time-ordered staging, must land on EXACTLY the batch
    left-fold result (same values, same counts) — state carries the
    fold across micro-batch boundaries."""
    from skdist_spark.plans.behavior import user_value_ewma
    from skdist_spark.streaming import ops

    got = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in ops.stream_user_ewma(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in user_value_ewma(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_user_balance_matches_batch_closed_form(spark, sf_dir):
    """The streaming clamped-balance state machine (incremental
    max(0, prev + delta) in integer cents), replayed over the 4-file
    time-ordered staging, must equal the batch running-min window
    identity EXACTLY — every user, all four statistics."""
    from skdist_spark.plans.behavior import user_balance_resets
    from skdist_spark.streaming import ops

    got = {
        r.user_id: (
            r.n_moves, r.final_balance_cents,
            r.peak_balance_cents, r.n_floor_hits,
        )
        for r in ops.stream_user_balance(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (
            r.n_moves, r.final_balance_cents,
            r.peak_balance_cents, r.n_floor_hits,
        )
        for r in user_balance_resets(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_dq_monitor_matches_batch_audit(spark, sf_dir):
    """Summed per-batch DQ violations must equal one batch pass over
    the whole table with the same constraints."""
    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming import ops

    got = {
        r.check_name: r.violations
        for r in ops.stream_dq_monitor(spark, sf_dir).collect()
    }
    ev = load_table(spark, "events", sf_dir)
    want = {}
    for name, pred in ops.DQ_STREAM_CHECKS:
        want[name] = ev.where(
            ~F.coalesce(F.expr(pred), F.lit(False))
        ).count()
    assert got == want


def test_stream_topk_users_matches_batch_topk(spark, sf_dir, tmp_path, monkeypatch):
    """The continuously maintained k-row leaderboard, after the 4-batch
    replay, must equal the exact batch top-k (the eviction rule is
    provably lossless for monotone counts), and the call must leave no
    snapshot or checkpoint directory behind."""
    import tempfile

    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming import ops

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    top = ops.stream_topk_users(spark, sf_dir)
    assert list(tmp_path.iterdir()) == []
    assert top.schema.simpleString() == "struct<user_id:bigint,n_events:bigint>"
    got = [(r.user_id, r.n_events) for r in top.collect()]
    want = [
        (r.user_id, r.n_events)
        for r in load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(20)
        .collect()
    ]
    assert got == want
    assert len(got) == min(
        20,
        load_table(spark, "events", sf_dir).select("user_id").distinct().count(),
    )


def test_stream_value_anomaly_moments_exact_and_counts_match_replay(spark, sf_dir):
    """Final streamed moments must equal the batch integer moments
    bit-for-bit (no Welford drift), and the per-batch anomaly counts
    must equal a pandas replay of the staged 4-file sequence."""
    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming import ops

    got = {r.event_type: r.asDict() for r in ops.stream_value_anomaly(spark, sf_dir).collect()}

    ev = load_table(spark, "events", sf_dir)
    want = {
        r["event_type"]: r.asDict()
        for r in ev.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sum_cents"),
            F.sum(F.expr("c * c")).alias("sumsq_cents"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for t in want:
        for col in ("n", "sum_cents", "sumsq_cents"):
            assert got[t][col] == want[t][col], (t, col)

    # replay the staged batch files in order with plain pandas
    import os

    import pandas as pd

    stage = ops._stage_replay(spark, sf_dir, "events")
    files = sorted(
        os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet")
    )
    state = {}
    anom = {}
    for f in files:
        pdf = pd.read_parquet(f)
        for t, grp in pdf.groupby("event_type"):
            n, s, ss = state.get(t, (0, 0, 0))
            cents = (grp["value"] * 100).round().astype("int64")
            if n >= 2:
                mean = s / n
                var = (n * ss - s * s) / (n * n)
                if var > 0.0:
                    z = (cents - mean) / (var ** 0.5)
                    anom[t] = anom.get(t, 0) + int((z.abs() > ops.ANOMALY_STREAM_Z).sum())
            state[t] = (n + len(cents), s + int(cents.sum()), ss + int((cents * cents).sum()))
    for t in got:
        assert got[t]["n_anomalies"] == anom.get(t, 0), t


def test_stream_session_windows_native_append(spark, sf_dir):
    """Native streaming session windows: every emitted session must be
    a CLOSED batch session (watermark passed its end), emitted exactly
    once, and sessions past the final watermark must be absent."""
    import datetime

    from pyspark.sql import functions as F

    from skdist_spark.plans.windows import sessionize_events
    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming import ops

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in ops.stream_session_windows(spark, sf_dir).collect()
    }
    out_rows = ops.stream_session_windows(spark, sf_dir).count()
    assert len(got) > 0

    batch = sessionize_events(spark, sf_dir).collect()
    max_ts = load_table(spark, "events", sf_dir).agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(minutes=ops.SESSION_GAP_MIN)
    gap = datetime.timedelta(minutes=ops.SESSION_GAP_MIN)
    closed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch
        if r.session_end + gap <= wm
    }
    open_tail = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch
        if r.session_end + gap > wm
    }
    # every closed session emitted exactly once; no open session leaked
    assert got & open_tail == set()
    missing = closed - got
    extra = got - closed - open_tail
    assert not extra, f"sessions not in batch result: {sorted(extra)[:3]}"
    # boundary sessions (end+gap == wm) may close on either side of the
    # exact watermark tick; allow only exact-boundary misses
    for m in missing:
        assert m[2] + gap == wm, m


def test_stream_enriched_rollup_converges_to_batch_join(spark, sf_dir, tmp_path):
    """The incrementally maintained JOIN view must converge to the
    batch enrich + rollup exactly."""
    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming.ops import stream_enriched_rollup_maintenance

    out, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")
    q = stream_enriched_rollup_maintenance(spark, sf_dir, out, ckpt)
    q.awaitTermination()
    maintained = {
        (r.bucket, r.c_mktsegment, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in spark.read.parquet(out).collect()
    }
    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = {
        (r.bucket, r.c_mktsegment, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in ev.join(cust, "user_id")
        .groupBy(
            F.date_trunc("DAY", F.col("ts")).alias("bucket"),
            "c_mktsegment",
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert maintained == batch


def test_stream_stream_left_join_outer_semantics(spark, sf_dir):
    """Left-outer stream-stream join: matched purchases must carry
    exactly their batch inner-join click counts; null-emitted
    purchases must have ZERO matches in the full batch data (the
    time-ordered replay makes a null row a proof, not a guess); and
    some purchases are withheld (the still-open tail) while others
    emit — i.e. the watermark really drove both emission and
    retention."""
    from skdist_spark.streaming.ops import stream_stream_left_join

    out = stream_stream_left_join(spark, sf_dir).collect()
    assert len(out) > 0
    got = {r.purchase_id: r.n_clicks for r in out}
    assert len(got) == len(out), "a purchase emitted twice"

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    batch = {
        r.purchase_id: r.n
        for r in purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
            "left_outer",
        )
        .groupBy("purchase_id")
        .agg(F.count("click_ts").alias("n"))
        .collect()
    }
    for pid, n in got.items():
        if n > 0:
            assert batch[pid] == n, f"purchase {pid}: stream {n} != batch {batch[pid]}"
        else:
            assert batch[pid] == 0, f"purchase {pid}: false unmatched (batch has {batch[pid]})"
    assert any(n == 0 for n in got.values()), "no unmatched purchase emitted"
    assert len(got) < len(batch), "tail not withheld -> watermark did nothing"


def test_psi_stream_monitor_zero_on_reference_and_flags_shift(spark, tmp_path):
    """A single-batch replay of the reference itself scores EXACTLY
    0.0 (formula parity with the batch face); a shifted batch trips
    the 0.25 drift flag; the 4-batch driver query emits one finite
    row per batch."""
    from skdist_spark.operators.stats import PSI_BINS
    from skdist_spark.streaming.ops import psi_stream_monitor, stream_psi_drift

    # reference: 100 rows per bin 0..9
    ref_df = spark.range(1000).selectExpr(f"CAST(id % {PSI_BINS} AS INT) AS bin")
    ref = [100] * PSI_BINS

    same_dir = str(tmp_path / "same")
    ref_df.coalesce(1).write.parquet(same_dir)
    stream = (
        spark.readStream.schema("bin int")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(same_dir)
    )
    out = psi_stream_monitor(stream, ref).collect()
    assert len(out) == 1
    assert out[0].n_rows == 1000
    assert out[0].psi == 0.0 and out[0].drifted is False

    # shifted: all mass in the top two bins
    shift_dir = str(tmp_path / "shift")
    spark.range(1000).selectExpr(
        f"CAST({PSI_BINS - 2} + id % 2 AS INT) AS bin"
    ).coalesce(1).write.parquet(shift_dir)
    stream2 = (
        spark.readStream.schema("bin int")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(shift_dir)
    )
    out2 = psi_stream_monitor(stream2, ref).collect()
    assert len(out2) == 1
    assert out2[0].psi > 0.25 and out2[0].drifted is True

    # driver query: 4 replay batches, all finite, none degenerate
    rows = stream_psi_drift(spark, "/root/testdata/sf0.001").collect()
    assert [r.batch_id for r in rows] == [0, 1, 2, 3]
    assert all(r.n_rows > 0 and r.psi >= 0.0 for r in rows)


def test_stream_filter_funnel_sums_equal_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming.ops import (
        ingest_funnel_counts,
        stream_filter_funnel,
    )

    out = stream_filter_funnel(spark, sf_dir).collect()
    assert out, "stream produced no funnel rows"
    # every batch's rows sum to its n_batch (accepted row closes the ledger)
    by_batch = {}
    for r in out:
        by_batch.setdefault(r.batch_id, []).append(r)
    assert len(by_batch) == 2  # two staged files -> two micro-batches
    for rows in by_batch.values():
        assert sum(r.n_dropped for r in rows) == rows[0].n_batch
    # summed per-batch drops == one-shot batch run over the same docs
    docs = load_table(spark, "documents", sf_dir)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    hashes = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    batch = {r.rule: r.n_dropped for r in ingest_funnel_counts(odd, hashes).collect()}
    streamed = {}
    for r in out:
        if r.rule != "accepted":
            streamed[r.rule] = streamed.get(r.rule, 0) + r.n_dropped
    assert streamed == batch


def test_stream_value_quantiles_rank_error_bounded(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming.ops import stream_value_quantiles

    out = stream_value_quantiles(spark, sf_dir).collect()
    assert len(out) == 4  # four staged files -> four micro-batches
    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id").select("value")
    vals = [r.value for r in ev.collect()]
    # reconstruct batch boundaries from the reported batch sizes (the
    # staged replay is total-ordered by (ts, event_id))
    start = 0
    for row in sorted(out, key=lambda r: r.batch_id):
        batch = sorted(vals[start:start + row.n_rows])
        start += row.n_rows
        n = len(batch)
        for est, target in ((row.p50, 0.5), (row.p90, 0.9), (row.p99, 0.99)):
            below = sum(1 for v in batch if v <= est)
            assert abs(below / n - target) <= 0.05, (row.batch_id, target)
    assert start == len(vals)  # batches exactly partition the stream


def test_stream_dedup_ttl_distinct_counts_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming.ops import stream_dedup_users_ttl

    got = {r.event_type: r.n_unique_users
           for r in stream_dedup_users_ttl(spark, sf_dir).collect()}
    ev = load_table(spark, "events", sf_dir)
    want = {r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == want


def test_stream_bootstrap_ci_equals_batch(spark):
    """The streaming bootstrap (incremental unit state + batch CI
    readout) must be BIT-EQUAL to the batch operator."""
    from skdist_spark.operators.stats import event_value_bootstrap
    from skdist_spark.streaming.ops import stream_bootstrap_ci

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in stream_bootstrap_ci(spark, sf).collect()]
    want = [tuple(r) for r in event_value_bootstrap(spark, sf).collect()]
    assert got == want and got


def test_stream_events_at_tier_equals_batch(spark):
    """Streaming PIT enrichment (stream-static interval join) must
    equal the batch SCD2 rollup exactly."""
    from skdist_spark.plans.behavior import events_at_tier
    from skdist_spark.streaming.ops import stream_events_at_tier

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in stream_events_at_tier(spark, sf).collect()]
    want = [tuple(r) for r in events_at_tier(spark, sf).collect()]
    assert got == want and got


def test_stream_token_budget_gate_equals_batch(spark, sf_dir):
    """The streaming gate's final per-source ledger (3 id-ordered
    micro-batches, carried offsets) must be BIT-EQUAL to the one-shot
    batch gate."""
    from skdist_spark.operators.text import budget_gate_summary
    from skdist_spark.streaming.ops import stream_token_budget_gate

    got = [tuple(r) for r in stream_token_budget_gate(spark, sf_dir).collect()]
    want = [tuple(r) for r in budget_gate_summary(spark, sf_dir).collect()]
    assert got == want
    # the gate actually gates: someone was dropped, someone admitted
    assert any(r[2] < r[1] for r in got)  # n_accepted < n_docs somewhere
    assert any(r[2] > 0 for r in got)


def test_stream_ann_enrich_equals_batch(spark, sf_dir):
    """Drained streaming ANN lookups == one-shot batch ivf_join over
    the same query vectors (per-query results are batching-invariant)."""
    from pyspark.sql import functions as F

    from skdist_spark.operators.similarity import ivf_join
    from skdist_spark.sources.catalog import load_table
    from skdist_spark.streaming.ops import _ann_stream_frames, stream_ann_enrich

    got = {
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9))
        for r in stream_ann_enrich(spark, sf_dir).collect()
    }
    corpus, cents = _ann_stream_frames(spark, sf_dir)
    queries = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("vec_id") % 2 == 1)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    want = {
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9))
        for r in ivf_join(queries, corpus, cents, k=3, nprobe=2).collect()
    }
    assert got == want and len(got) > 0


def test_stream_hll_registers_equals_batch(spark, sf_dir):
    """The streaming register table must be BIT-EQUAL to the batch
    portable-HLL face — max-merge across micro-batches is the same
    fold as the batch shuffle."""
    from skdist_spark.operators.sketches import hll_portable_registers
    from skdist_spark.streaming.ops import stream_hll_registers

    got = [
        (r.event_type, r.bucket, r.reg)
        for r in stream_hll_registers(spark, sf_dir).collect()
    ]
    want = [
        (r.event_type, r.bucket, r.reg)
        for r in hll_portable_registers(spark, sf_dir)
        .select("event_type", "bucket", "reg")
        .collect()
    ]
    assert got == want and len(got) > 0


def test_stage_stream_inputs_layout_and_reuse(spark, sf_dir):
    """The staging entry point bench.py calls before its timed region:
    every replay layout dir holds batch_0000... files with strictly
    ascending mtimes (the file source's replay order) and a _STAGED
    sentinel, and a second call reuses the stage without rewriting."""
    import os

    from skdist_spark.streaming.ops import stage_stream_inputs

    def snapshot(stages):
        return {
            stage: {f: os.stat(os.path.join(stage, f)).st_mtime_ns for f in os.listdir(stage)}
            for stage in stages.values()
        }

    stages = stage_stream_inputs(spark, sf_dir)
    assert stages
    first = snapshot(stages)
    for stage, files in first.items():
        assert "_STAGED" in files, stage
        batches = sorted(f for f in files if f.endswith(".parquet"))
        assert batches, stage
        assert batches == [f"batch_{i:04d}.parquet" for i in range(len(batches))]
        mtimes = [files[f] for f in batches]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:])), stage
    assert stage_stream_inputs(spark, sf_dir) == stages
    assert snapshot(stages) == first


def test_stage_stream_inputs_stages_both_symlink_tables(spark, tmp_path, monkeypatch):
    """``stage_stream_inputs`` stages the events and the documents
    directory (what the stream queries read) through the one stager."""
    import os
    import shutil

    from skdist_spark.streaming import ops

    monkeypatch.setattr(ops, "_REPLAY_LAYOUTS", {})
    sf_dir = str(tmp_path)
    for table in ("events", "documents"):
        os.makedirs(os.path.join(sf_dir, f"{table}.parquet"))
    stages = {table: ops._stage_table_dir(sf_dir, table) for table in ("events", "documents")}
    for stage in stages.values():
        shutil.rmtree(stage, ignore_errors=True)
    try:
        assert ops.stage_stream_inputs(spark, sf_dir) == {}
        assert stages["events"] == ops._stage_stream_dir(sf_dir)
        assert os.path.basename(stages["documents"]).startswith("skdist_stream_docs_")
        for table, stage in stages.items():
            link = os.path.join(stage, f"{table}.parquet")
            assert os.readlink(link) == os.path.join(sf_dir, f"{table}.parquet")
    finally:
        for stage in stages.values():
            shutil.rmtree(stage, ignore_errors=True)
