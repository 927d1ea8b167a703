"""Physical-plan assertions: the optimizations we designed for must
actually appear in the executed plan (pushdown, pruning, broadcast)."""

import pytest

from skdist_spark.plans import tpch


def _explain(spark, df, mode="formatted"):
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q6_filters_pushed_and_columns_pruned(spark, sf_dir):
    plan = _explain(spark, tpch.q6(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, "no PushedFilters in scan"
    line = pushed[0]
    assert "l_shipdate" in line and "l_discount" in line and "l_quantity" in line
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # only the 4 needed columns are read from a 11-column table, plus
    # the catalog's parallelism-floor partitioning key (l_orderkey —
    # sources/catalog._ensure_parallel; absent at real scale where the
    # scan already has splits)
    assert read.count(":") <= 6, read
    assert "l_returnflag" not in read


def test_q5_uses_broadcast_joins(spark, sf_dir):
    plan = _explain(spark, tpch.q5(spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    # map-side partial agg before the shuffle (HashAggregate x2)
    plan = _explain(spark, tpch.q1(spark, sf_dir), mode="simple")
    assert plan.count("HashAggregate") >= 2


def test_minhash_no_cartesian(spark, sf_dir):
    from skdist_spark.operators import dedup

    plan = _explain(spark, dedup.dedup_minhash(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_join(spark, sf_dir):
    # the bucketed rewrite must avoid the nested-loop plan a raw
    # interval predicate would produce
    from skdist_spark.plans import windows

    plan = _explain(spark, windows.range_join_clicks(spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q8_broadcasts_all_dims(spark, sf_dir):
    plan = _explain(spark, tpch.q8(spark, sf_dir), mode="simple")
    # 6 dim joins broadcast; only the fact-side joins shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_time_bucket_pushes_column_pruning(spark, sf_dir):
    from skdist_spark.plans import windows

    plan = _explain(spark, windows.time_bucket_rollup(spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    if read:  # events goes through the nanos-rebuild path; prune still applies
        assert "props" not in read[0]


def test_salted_agg_two_stage(spark, sf_dir):
    from skdist_spark.plans import windows

    plan = _explain(spark, windows.salted_event_totals(spark, sf_dir), mode="simple")
    # two aggregation levels (salted partial + merge), each with its own
    # partial/final pair
    assert plan.count("HashAggregate") >= 4


def test_ngram_jaccard_no_inferred_refilter(spark, sf_dir):
    # the explode_outer rewrite must keep the split/shingle pipeline
    # evaluated once — a plain explode reintroduces an inferred filter
    # that re-inlines the whole expression below the projections
    from skdist_spark.operators import dedup

    opt = (
        dedup.dedup_ngram_jaccard(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # one split per posting side + 2 for the candidate-verify columns,
    # plus the r6 _let() bindings (transform-over-singleton-array) which
    # add textual occurrences that each evaluate ONCE PER ROW by
    # construction — the per-element re-inlining this test guards
    # against is now structurally impossible at every bound site
    assert opt.count("split") <= 6, opt.count("split")


@pytest.mark.slow  # whole-registry sweep / multi-minute fit: run with -m slow (r9 lane split)
def test_no_oracle_query_has_cartesian_or_bnlj(spark, sf_dir):
    """Blanket audit: every oracle-checked DataFrame query must compile
    to a plan free of CartesianProduct and BroadcastNestedLoopJoin.
    (Rows-only ops like ann_topk/ann_ivf intentionally use a bounded
    broadcast cross join and are excluded by construction.)"""
    import __spark_entry__ as entry_mod

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    bad = {}
    for name in sorted(oracles):
        # cache-free compile: see test_plan_snapshots._current
        spark.catalog.clearCache()
        df = queries[name](spark, sf_dir)
        plan = _explain(spark, df, mode="simple")
        joins = [
            j for j in ("CartesianProduct", "BroadcastNestedLoopJoin") if j in plan
        ]
        # sanctioned bounded nested-loop shapes:
        #   q11/q22/tfidf_search/mixture_sample_sources/doc_perplexity/
        #   vocab_coverage/basket_part_affinity — broadcast of a
        #   ONE-row scalar aggregate;
        #   ann_topk — broadcast of the bounded (N_QUERIES) query side;
        #   ann_ivf — broadcast of the bounded 16-centroid table;
        #   dedup_embedding — block-pair triangle join over N/512 block
        #   descriptors (the blocked-GEMM task list, not row pairs)
        #   event_value_drift/event_value_pmi/user_skew_report — ONE-row
        #   scalar/marginal aggregates broadcast back;
        #   ann_ivf_join — the bounded 16-centroid table, as ann_ivf
        if joins and name not in (
            "q11", "q22", "ann_topk", "ann_ivf", "dedup_embedding", "tfidf_search",
            "mixture_sample_sources", "doc_perplexity", "vocab_coverage",
            "basket_part_affinity", "rfm_segments",
            "event_value_drift", "event_value_pmi", "user_skew_report",
            "ann_ivf_join",
            # one-row scalar broadcasts (corpus stats / totals)
            "bm25_search", "doc_perplexity_bigram", "source_token_budget",
            # bounded broadcast query sides (as ann_topk)
            "ann_filtered", "hybrid_search_rrf", "ann_diversified_exact",
            # one-row scalar broadcasts (grand totals)
            "value_benford", "event_value_chi2", "revenue_cusum",
            "supplier_concentration",
            # one-row scalar broadcasts: KMV union estimate / layout
            # min-max grid bounds
            "kmv_user_overlap", "zorder_layout", "hilbert_layout",
            # bounded broadcast query side (as ann_topk)
            "ann_int8",
            # one-row scalar broadcasts: gini moments / corpus-end
            # instant / 256-bucket DSIR stats + one-row totals
            "user_revenue_gini", "user_churn_survival", "user_churn_hazard",
            "churn_ab_logrank", "dsir_doc_weights",
            # one-row (n, sum) broadcasts for integer-centered terms
            "daily_revenue_acf", "click_purchase_ccf",
            # one-row horizon scalar (max week) broadcast
            "growth_accounting",
            # one-row grand-total broadcast
            "revenue_pareto",
            # one-row broadcasts: the query user's series + the exact
            # k-th-distance pruning threshold (PAA two-stage search)
            "user_series_topk",
            # bounded k-centroid broadcast (as ann_ivf)
            "embedding_silhouette",
            # bounded |groups|^2 pair fan-out broadcast (KS all-pairs)
            "source_length_ks",
            # one-row (N, V) totals broadcast, as doc_perplexity
            "doc_perplexity_filter",
            # one-row corpus-total broadcast into the funnel ledger
            "doc_filter_funnel",
            # one-row prior/total broadcasts (target + WoE encodings)
            "event_type_target_encoding",
            # one-row conformal calibration (q, n, coverage) broadcast
            "weekly_forecast_conformal",
            # one-row look-count broadcast over calendar-bounded rows
            "purchase_ab_sequential",
            # bounded broadcasts inherited from the composed ann faces
            # (query set + 16-centroid table, as ann_topk/ann_ivf)
            "ann_recall_eval", "ann_probe_sweep",
            # one-row match-count / truth-count broadcasts
            "blocking_eval", "bm25_eval",
            # one-row totals broadcast over the |combos| frame
            "customer_kanonymity",
            # one-row denominator / totals broadcast
            "source_neyman_allocation",
            # one-row moment-matched prior broadcast
            "part_return_rate_eb",
            # one-row corpus-count broadcast (as doc_perplexity)
            "doc_keyphrases",
            # calendar-bounded pair self-join (constant group key
            # folds the equi-condition away; O(d^2) by contract,
            # same posture as theil_sen on a single series)
            "daily_revenue_mannkendall",
            # bounded |sources|^2 pair fan-out broadcast (as source_length_ks)
            "source_token_js",
            # one-row edge-count (m) broadcast into the community rollup
            "brand_copurchase_modularity",
            # one-row class-totals broadcast over the threshold explode
            "customer_ldiversity",
            # calendar-bounded pair self-join (as daily_revenue_mannkendall)
            "daily_kendall",
            # bounded top-words x per-group-totals grid (both frames are
            # catalog-sized: |top_words| x |groups|)
            "source_style_delta",
            # one-row corpus-end instant broadcast into the SCD2 explode
            "tier_occupancy_by_day",
            # one-row (N, V) totals broadcast, inherited from the
            # perplexity scorer it ranks over (as doc_perplexity_filter)
            "doc_curriculum_phases",
            # one-row margins-list broadcast into the one-row cell fold
            "lsh_label_nmi",
            # one-row KM-total broadcast (inherited from km_survival)
            "user_churn_rmst",
            # one-row percentile-boundary-array broadcasts (two-phase
            # distributed rank, functions/global_rank.py)
            "purchase_uplift_qini", "peak_concurrent_sessions",
            "event_lateness_profile",
            # one-row k-centroid-array broadcasts, one per Lloyd round
            # (integer-exact quantized KMeans)
            "ml_kmeans_exact",
        ):
            bad[name] = joins
    assert not bad, bad


@pytest.mark.slow  # whole-registry sweep / multi-minute fit: run with -m slow (r9 lane split)
def test_no_oracle_query_has_unsanctioned_global_window(spark, sf_dir):
    """Blanket audit (the r3 verdict's missing CI gate): every
    oracle-checked query's plan must be free of partition-less ORDERED
    Window nodes — the Exchange-SinglePartition one-task shape — except
    the sanctioned bounded frames below, pinned to their EXACT node
    count so a new global window in a sanctioned query still fails."""
    import __spark_entry__ as entry_mod

    from skdist_spark.plans.lint import _global_windows

    # name -> exact allowed count of partition-less ordered Window
    # nodes.  Three sanctioned shapes:
    #  (a) two-phase-rank offsets: an exclusive prefix over ≤
    #      shuffle-partitions rows, one per helper instantiation
    #      (functions/global_rank.py) — gini 2x (m/top branches),
    #      pareto 2x + its 10-row decile cumsum, rfm 3 ntiles,
    #      qini 1 + its 10-row bin cumsum, lateness/peak 1 each;
    #  (b) calendar-bounded series: one row per day/week/stage/
    #      threshold — daily ACF/CCF/decompose/spearman/cusum/WoW,
    #      rolling_revenue, slo_burn_rate, KM survival ladders
    #      (churn family ranks distinct event DAYS), sequential-test
    #      look counts, funnel stages, threshold sweeps;
    #  (c) top-k / catalog-bounded frames: vocab top-V, zipf top
    #      ranks, per-query top-k RRF lists, |sources| budget ledger,
    #      top-k skew keys.
    sanctioned = {
        "churn_ab_logrank": 1, "click_purchase_ccf": 1,
        "daily_revenue_acf": 1, "daily_revenue_decompose": 2,
        # ml_kmeans_exact's 8-row seed ranking is a bounded top-k
        # window, but since the r7 localCheckpoint switch each round's
        # lineage is truncated, so NO window survives into the final
        # audited plan (same for the other integer-Lloyd faces) — it
        # needs no sanction entry anymore
        "daily_spearman": 2, "doc_filter_funnel": 1,
        "english_threshold_sweep": 1, "event_lateness_profile": 1,
        "hybrid_search_rrf": 2, "peak_concurrent_sessions": 1,
        "purchase_ab_sequential": 1, "purchase_uplift_qini": 2,
        # rfm (r9): the three per-dimension ranks fold into ONE
        # grouped two-phase call whose offset window is PARTITIONED by
        # the dimension id — no partition-less window remains, so rfm
        # needs no sanction entry anymore.
        # pareto/gini (r8 sixth session): the eager checkpoint of the
        # ranked/decile frames truncates the two-phase offset prefixes
        # out of the audited plan (the ml_kmeans_exact precedent
        # above); pareto keeps only its 10-row decile cumsum, gini
        # keeps none
        "revenue_cusum": 1, "revenue_pareto": 1,
        "rolling_revenue": 1, "slo_burn_rate": 1,
        "source_token_budget": 1, "user_churn_hazard": 2,
        "user_churn_rmst": 3, "user_churn_survival": 2,
        "user_skew_report": 1,
        "vocab_coverage": 1, "vocab_growth": 1,
        "weekly_revenue_wow": 1, "zipf_fit": 1,
    }
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    bad = {}
    for name in sorted(oracles):
        if name.startswith("stream_"):
            continue
        # cache-free compile: see test_plan_snapshots._current
        spark.catalog.clearCache()
        plan = (
            queries[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = _global_windows(plan)
        if n != sanctioned.get(name, 0):
            bad[name] = (n, sanctioned.get(name, 0))
    assert not bad, f"global-window count drift (got, sanctioned): {bad}"


def test_approx_distinct_within_error(spark, sf_dir):
    from skdist_spark.plans import windows

    exact = {
        r["event_type"]: r["n_users"]
        for r in windows.user_distinct_counts(spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in windows.approx_user_distinct(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(2, 0.05 * v), (k, v, approx[k])


def test_cms_never_underestimates_and_bounded(spark, sf_dir):
    from skdist_spark.plans import windows

    pdf = windows.heavy_hitters_cms(spark, sf_dir).toPandas()
    assert 1 <= len(pdf) <= windows.TOPK_USERS
    assert (pdf.cms_count >= pdf.exact_count).all()
    # CMS overestimate bound: with width 8192 and depth 4 the expected
    # additive error is ~2N/width per row; allow 3x slack
    n_total = sum(pdf.exact_count)
    slack = max(3, 6 * n_total / windows.CMS_WIDTH)
    assert ((pdf.cms_count - pdf.exact_count) <= slack).all()


def test_grouping_sets_single_expand_scan(spark, sf_dir):
    """GROUPING SETS must be one Expand over one scan, not 4 unioned scans."""
    from skdist_spark.plans import windows

    plan = windows.sales_grouping_sets(spark, sf_dir)._sc._jvm.PythonSQLUtils.explainString(
        windows.sales_grouping_sets(spark, sf_dir)._jdf.queryExecution(), "simple"
    )
    assert plan.count("Expand") == 1
    assert plan.count("FileScan") == 1


def test_approx_percentile_close_to_exact(spark, sf_dir):
    from skdist_spark.plans import windows

    exact = {
        r.o_orderpriority: (r.p50_total, r.p90_total)
        for r in windows.order_percentiles(spark, sf_dir).collect()
    }
    approx = {
        r.o_orderpriority: (r.p50_approx, r.p90_approx)
        for r in windows.order_percentiles_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, (p50, p90) in exact.items():
        a50, a90 = approx[k]
        assert abs(a50 - p50) / p50 < 0.05
        assert abs(a90 - p90) / p90 < 0.05


def test_profile_documents_single_job(spark, sf_dir):
    from skdist_spark.plans import windows

    df = windows.profile_documents(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_plan_lint_detects_and_clears(spark, sf_dir):
    """plan_lint flags cartesian products, row-wise Python UDFs, and
    unpushed filters on crafted plans, and reports clean for a
    pushdown-friendly scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from skdist_spark.plans.lint import assert_plan_clean, plan_lint
    from skdist_spark.sources.catalog import load_table

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    cart = a.join(b, F.expr("id != id2"))
    rules = {f["rule"] for f in plan_lint(cart)}
    assert "nested-loop-join" in rules or "cartesian-product" in rules

    slow = spark.range(10).select(udf(lambda x: x + 1, "long")("id"))
    assert {f["rule"] for f in plan_lint(slow)} >= {"rowwise-python-udf"}

    clean = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderkey") < 100)
        .select("o_orderkey", "o_totalprice")
    )
    assert plan_lint(clean) == []
    assert_plan_clean(clean)

    from pyspark.sql import Window

    glob = spark.range(100).orderBy("id").withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert {f["rule"] for f in plan_lint(glob)} >= {
        "single-partition-exchange",
        "global-window",
    }
    # a PARTITIONED window (even order-less) must NOT trip global-window
    parted = spark.range(100).withColumn(
        "mn", F.min("id").over(Window.partitionBy(F.col("id") % 7))
    )
    assert "global-window" not in {f["rule"] for f in plan_lint(parted)}

    import pytest as _pytest

    with _pytest.raises(AssertionError, match="plan lint"):
        assert_plan_clean(slow)


def test_generic_funnel_matches_fixed_and_respects_window(spark, sf_dir):
    from skdist_spark.plans.behavior import FUNNEL_STEPS, events_funnel, funnel
    from skdist_spark.sources.catalog import load_table

    # equivalence with the fixed 3-step query on real data
    ev = load_table(spark, "events", sf_dir)
    gen = {r["step_idx"]: r["n_completed"] for r in funnel(ev, list(FUNNEL_STEPS)).collect()}
    fixed = events_funnel(spark, sf_dir).collect()[0]
    assert gen[0] == fixed["n_users"]
    assert gen[1] == fixed["n_signup"]
    assert gen[2] == fixed["n_signup_click"]
    assert gen[3] == fixed["n_full_funnel"]

    # crafted: ordering and the conversion window are enforced
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def at(mins):
        return t0 + datetime.timedelta(minutes=mins)

    rows = [
        # user 1: full ordered funnel within 30 min
        (1, "a", at(0)), (1, "b", at(10)), (1, "c", at(20)),
        # user 2: steps out of order (b before a) -> stops after a
        (2, "b", at(0)), (2, "a", at(5)), (2, "c", at(-1)),
        # user 3: completes but step c lands outside the 30-min window
        (3, "a", at(0)), (3, "b", at(10)), (3, "c", at(60)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    no_window = {r["step_idx"]: r["n_completed"] for r in funnel(df, ["a", "b", "c"]).collect()}
    assert no_window == {0: 3, 1: 3, 2: 2, 3: 2}  # users 1 and 3 complete
    windowed = {
        r["step_idx"]: r["n_completed"]
        for r in funnel(df, ["a", "b", "c"], within_s=1800).collect()
    }
    assert windowed == {0: 3, 1: 3, 2: 2, 3: 1}  # user 3's c is too late


def test_generic_scd2_history(spark):
    import datetime

    from skdist_spark.plans.behavior import scd2_history

    t0 = datetime.datetime(2024, 1, 1)

    def at(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        (1, at(0), "bronze"), (1, at(10), "bronze"), (1, at(20), "gold"),
        (1, at(30), "gold"), (1, at(40), "bronze"),
        (2, at(5), "silver"),
    ]
    df = spark.createDataFrame(rows, "acct long, ts timestamp, plan string")
    hist = scd2_history(df, "acct", "ts", "plan").collect()
    by_acct = {}
    for r in hist:
        by_acct.setdefault(r["acct"], []).append(
            (r["plan"], r["valid_from_us"], r["valid_to_us"], r["is_current"])
        )
    us = lambda m: int((t0 + datetime.timedelta(minutes=m)).timestamp() * 1e6)
    assert [p for p, *_ in by_acct[1]] == ["bronze", "gold", "bronze"]
    assert by_acct[1][0][1:] == (us(0), us(20), False)
    assert by_acct[1][1][1:] == (us(20), us(40), False)
    assert by_acct[1][2][1:] == (us(40), None, True)
    assert by_acct[2] == [("silver", us(5), None, True)]


def test_balance_with_floor_matches_sequential_fold(spark):
    """The window identity bal_t = S_t - min(0, running_min(S)) must
    equal the naive sequential clamp max(0, prev + delta) row by row,
    including deep-negative runs and leading drains."""
    from skdist_spark.plans.behavior import balance_with_floor

    deltas = [5, -10, 3, -1, -4, 8, -2, -100, 7]
    rows = [(1, i, d) for i, d in enumerate(deltas)]
    # second id: all-negative then recovery
    rows += [(2, i, d) for i, d in enumerate([-5, -5, 4, -1, 10])]
    df = spark.createDataFrame(rows, "uid long, seq long, delta long")
    got = {
        (r.uid, r.seq): r.balance
        for r in balance_with_floor(df, "uid", ["seq"], "delta").collect()
    }
    for uid in (1, 2):
        bal = 0
        for i, d in enumerate([d for u, _, d in rows if u == uid]):
            bal = max(0, bal + d)
            assert got[(uid, i)] == bal, (uid, i)


def test_revenue_decomposition_reconstructs_delta(spark):
    """volume + price + interaction must reconstruct the exact delta
    (to output rounding) for every segment."""
    from skdist_spark.plans.tpch import revenue_change_decomposition

    for r in revenue_change_decomposition(spark, "/root/testdata/sf0.001").collect():
        recon = r.volume_effect + r.price_effect + r.interaction
        assert abs(recon - r.delta) < 0.01, r
        assert abs((r.rev_1997 - r.rev_1996) - r.delta) < 0.01, r


def test_event_lateness_profile_out_of_order_branch(spark, tmp_path):
    """The positive-lateness branch (absent from the driver's in-order
    test data) must bucket correctly on BOTH engines: sub-second
    disorder clamps to bucket 0 (it used to collide with the on-time
    sentinel -1 via floor(log2(x<1)) < 0), multi-second disorder lands
    in its log2 bucket, and Spark stays hash-identical to DuckDB."""
    import datetime

    import pandas as pd

    from skdist_spark.plans import windows as W
    from tests.oracle_utils import compare_query

    import __spark_entry__ as entry_mod

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    # arrival order = event_id; event 2 arrives 0.4 s late (clamps to
    # bucket 0), event 4 arrives 10 s late (bucket 3), events 5-6 are
    # increasingly late behind the running max set at event 3
    rows = [
        (0, at(0.0)), (1, at(5.0)), (2, at(4.6)), (3, at(20.0)),
        (4, at(10.0)), (5, at(1.0)), (6, at(18.5)), (7, at(21.0)),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts"])
    pdf["user_id"] = 1
    pdf["event_type"] = "click"
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    sf_dir = str(tmp_path)
    # single parquet FILE with microsecond timestamps, matching the
    # driver's table layout (a Spark write would make a directory,
    # which the DuckDB oracle's read_parquet cannot open)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    ts_idx = table.schema.get_field_index("ts")
    table = table.set_column(
        ts_idx, "ts", table.column("ts").cast(pa.timestamp("us"))
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    compare_query(
        spark,
        W.event_lateness_profile,
        entry_mod.oracle_sql()["event_lateness_profile"],
        sf_dir,
        "event_lateness_profile[out-of-order]",
    )
    got = {
        r.log2_lateness_s: r.n_events
        for r in W.event_lateness_profile(spark, sf_dir).collect()
    }
    # on-time: 0,1,3,7 -> 4 events; 0.4s -> bucket 0; 10s/19s -> 3,4;
    # 1.5s late at event 6 -> bucket 0 (20.0 - 18.5)
    assert got == {-1: 4, 0: 2, 3: 1, 4: 1}, got


@pytest.mark.parametrize(
    "query, module, api",
    [
        ("asof_join", "skdist_spark.operators.joins", "asof_join"),
        ("range_join_clicks", "skdist_spark.operators.joins", "interval_join"),
        ("salted_event_totals", "skdist_spark.operators.aggregates", "salted_agg"),
        ("user_retention", "skdist_spark.plans.behavior", "cohort_retention"),
        ("user_tier_history", "skdist_spark.plans.behavior", "scd2_history"),
        ("events_funnel", "skdist_spark.plans.behavior", "_funnel_counts"),
        # shared query inputs: one private builder per definition
        ("basket_triples", "skdist_spark.plans.tpch", "_copurchase_pairs"),
        ("part_cf_similarity", "skdist_spark.plans.tpch", "_basket_pairs"),
        ("churn_ab_logrank", "skdist_spark.operators.tsa", "_churn_spans"),
        ("user_churn_hazard", "skdist_spark.operators.tsa", "_risk_table"),
        ("weekly_revenue_forecast_hw", "skdist_spark.operators.tsa", "_weekly_order_revenue"),
        ("c4_quality_flags", "skdist_spark.operators.text", "_rule_ledger"),
        ("doc_filter_funnel", "skdist_spark.operators.text", "_funnel_signals"),
        ("doc_filter_funnel", "skdist_spark.operators.text", "_funnel_first_fail"),
        ("markov_predict_eval", "skdist_spark.plans.windows", "_transition_counts"),
        ("customer_ldiversity", "skdist_spark.operators.quality", "_customer_quasi"),
        ("daily_kendall", "skdist_spark.operators.stats", "_daily_clicks_revenue"),
        ("event_value_median_ci", "skdist_spark.operators.stats", "_event_value_micros"),
        ("event_value_winsorized", "skdist_spark.operators.stats", "_group_ranks"),
        ("doc_triangles", "skdist_spark.operators.graph", "_undirected"),
        ("hll_portable_rollup", "skdist_spark.operators.sketches", "_hll_rho"),
    ],
)
def test_registry_query_computes_through_its_api(spark, sf_dir, monkeypatch, query, module, api):
    """Each of these registry queries is its generic API, or the one
    private builder of an input it shares with other faces, plus a
    column readout, so the DuckDB oracle that checks the query checks
    the API or builder."""
    import importlib

    import __spark_entry__ as entry_mod

    mod = importlib.import_module(module)
    real, calls = getattr(mod, api), []

    def spy(*args, **kwargs):
        calls.append(api)
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, api, spy)
    entry_mod.queries()[query](spark, sf_dir)  # build only, nothing collected
    assert calls == [api]
