"""Unit tests for the statistical-monitoring operators
(operators/stats.py), the cross-corpus IVF join
(operators/similarity.ivf_join) and the left-fold cosine kernel every
Arrow-batch cosine goes through.  The fixed entry queries are covered
by the oracle parity lane; these exercise the generic APIs on crafted
frames where the right answer is known in closed form.
"""

import math

import numpy as np
from pyspark.sql import functions as F

from skdist_spark.operators.similarity import (
    TOP_K,
    _fold_dot,
    _fold_norms,
    _prune_top_m,
    cosine_topk,
    ivf_join,
)
from skdist_spark.operators.stats import group_trend, key_skew, pmi_table, psi_drift


def test_group_trend_exact_line(spark):
    # y = 3x + 7 exactly -> slope 3, intercept 7, r2 == 1 for group "a";
    # group "b" is constant-y (zero y-variance) and must be dropped
    rows = [("a", x, 3 * x + 7) for x in range(10)] + [("b", x, 5) for x in range(4)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r for r in group_trend(df, ["g"]).collect()}
    assert set(out) == {"a"}
    r = out["a"]
    assert r["n"] == 10
    assert abs(r["slope"] - 3.0) < 1e-12
    assert abs(r["intercept"] - 7.0) < 1e-12
    assert abs(r["r2"] - 1.0) < 1e-12


def test_group_trend_matches_numpy(spark):
    import numpy as np

    xs = [1, 5, 9, 14, 22, 31, 40, 41]
    ys = [11, 9, 25, 30, 21, 44, 57, 50]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "g string, x long, y long"
    )
    r = group_trend(df, ["g"]).collect()[0]
    slope, intercept = np.polyfit(np.array(xs, float), np.array(ys, float), 1)
    corr = np.corrcoef(xs, ys)[0, 1]
    assert abs(r["slope"] - slope) < 1e-9
    assert abs(r["intercept"] - intercept) < 1e-9
    assert abs(r["r2"] - corr * corr) < 1e-9


def test_psi_drift_identical_halves_is_zero(spark):
    # same distribution in both halves -> PSI exactly 0 (p == q per bin)
    rows = []
    for half in ("early", "late"):
        rows += [("t", b % 3, half) for b in range(30)]
    df = spark.createDataFrame(rows, "g string, bin int, half string")
    out = psi_drift(df, "g", "bin", "half").collect()
    assert len(out) == 1
    assert out[0]["psi"] == 0.0
    assert out[0]["n_early"] == 30 and out[0]["n_late"] == 30


def test_psi_drift_shifted_distribution_positive(spark):
    rows = [("g", 0, "early")] * 50 + [("g", 9, "late")] * 50
    df = spark.createDataFrame(rows, "g string, bin int, half string")
    out = psi_drift(df, "g", "bin", "half").collect()
    assert out[0]["psi"] > 1.0  # total mass swapped bins: massive drift


def test_pmi_independent_columns_near_zero(spark):
    # independent uniform columns -> every cell pmi == 0 exactly
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(25)]
    df = spark.createDataFrame(rows, "a string, b string")
    for r in pmi_table(df, "a", "b").collect():
        assert r["pmi"] == 0.0 and r["mi_contribution"] == 0.0


def test_pmi_perfect_association(spark):
    # a == b always -> pmi = ln(2) per diagonal cell
    rows = [("x", "x")] * 30 + [("y", "y")] * 30
    df = spark.createDataFrame(rows, "a string, b string")
    out = pmi_table(df, "a", "b").collect()
    assert len(out) == 2
    for r in out:
        assert abs(r["pmi"] - round(math.log(2.0), 6)) < 1e-9


def test_key_skew_shares(spark):
    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10
    df = spark.createDataFrame(rows, "k string")
    out = key_skew(df, ["k"], k=2).collect()
    assert [r["k"] for r in out] == ["hot", "warm"]
    assert out[0]["share_ppm"] == 600000
    assert out[1]["share_ppm"] == 300000
    assert all(r["total_rows"] == 100 for r in out)


def _unit_vecs(n, dims, seed_stride=7):
    # deterministic distinct directions on the unit sphere
    vecs = []
    for i in range(n):
        raw = [((i * seed_stride + j * 13) % 19) - 9.0 for j in range(dims)]
        nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
        vecs.append([x / nrm for x in raw])
    return vecs


def test_ivf_join_full_probe_equals_exact(spark):
    # with nprobe == nlist the IVF join degenerates to exhaustive search,
    # so it must return exactly the brute-force cosine top-k
    dims = 8
    corpus_rows = [(100 + i, v) for i, v in enumerate(_unit_vecs(40, dims))]
    query_rows = [(i, v) for i, v in enumerate(_unit_vecs(6, dims, seed_stride=11))]
    corpus = spark.createDataFrame(corpus_rows, "item_id long, vec array<double>")
    queries = spark.createDataFrame(query_rows, "item_id long, vec array<double>")
    cents = corpus.orderBy("item_id").limit(4)

    got = ivf_join(
        queries, corpus, cents, k=3, nprobe=4, id_col="item_id", vec_col="vec"
    ).collect()
    want = cosine_topk(
        queries, corpus, k=3, id_col="item_id", vec_col="vec"
    ).collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in got] == [
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g["cosine"] - w["cosine"]) < 1e-12


def test_ivf_join_partial_probe_recall(spark):
    # nprobe < nlist: results are a subset ranking with decent recall
    dims = 8
    corpus_rows = [(1000 + i, v) for i, v in enumerate(_unit_vecs(60, dims))]
    query_rows = [(i, v) for i, v in enumerate(_unit_vecs(8, dims, seed_stride=11))]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, v array<double>")
    queries = spark.createDataFrame(query_rows, "vec_id long, v array<double>")
    cents = corpus.orderBy("vec_id").limit(8)

    got = ivf_join(queries, corpus, cents, k=TOP_K, nprobe=3).collect()
    exact = cosine_topk(queries, corpus, k=TOP_K, vec_col="v").collect()
    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    # every query returns k candidates and overall recall is sane
    assert len(got) == 8 * TOP_K
    assert len(got_pairs & exact_pairs) / len(exact_pairs) >= 0.5
    # per-query ranks are contiguous from 1
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, TOP_K + 1)) for v in by_q.values())


def test_ivf_join_prebuilt_index_identical(spark):
    # the streaming replica builds the static index ONCE and serves
    # every micro-batch from it; the prebuilt-index path must return
    # row-for-row exactly what the inline path returns, including when
    # the SAME index is served twice (second serve reads the lazily
    # checkpointed cell assignment instead of re-scoring the corpus)
    from skdist_spark.operators.similarity import ivf_build_index

    dims = 8
    corpus_rows = [(1000 + i, v) for i, v in enumerate(_unit_vecs(60, dims))]
    query_rows = [(i, v) for i, v in enumerate(_unit_vecs(8, dims, seed_stride=11))]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, v array<double>")
    queries = spark.createDataFrame(query_rows, "vec_id long, v array<double>")
    cents = corpus.orderBy("vec_id").limit(8)

    want = [
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in ivf_join(queries, corpus, cents, k=TOP_K, nprobe=3).collect()
    ]
    idx = ivf_build_index(corpus, cents)
    for _ in range(2):
        got = [
            (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
            for r in ivf_join(queries, k=TOP_K, nprobe=3, index=idx).collect()
        ]
        assert got == want


def _left_fold(xs, ys):
    acc = 0.0
    for x, y in zip(xs, ys):
        acc += x * y
    return acc


def test_fold_kernel_equals_python_left_fold():
    # the kernel's doubles must be the strict left fold the SQL faces and
    # DuckDB compute, bit for bit; a matmul sums in another order (it
    # differs on this data), so it cannot stand in for the kernel
    rng = np.random.RandomState(7)
    A, B = rng.randn(6, 64), rng.randn(9, 64)
    want = np.array([[_left_fold(a, b) for b in B] for a in A])
    assert np.array_equal(_fold_dot(A, B), want)
    assert np.array_equal(
        _fold_norms(A), np.array([math.sqrt(_left_fold(a, a)) for a in A])
    )
    assert not np.array_equal(A @ B.T, want)


def test_prune_top_m_excludes_self_before_cut_and_ties_to_low_id():
    qids, ids = np.array([3, 100]), np.array([5, 3, 9, 1, 7])
    S = np.array(
        [
            [0.2, 0.9, 0.5, 0.5, 0.1],  # query 3: its best match is itself
            [0.4, 0.4, 0.4, 0.4, 0.4],  # query 100: all tied
        ]
    )

    def picks(m):
        r, c = _prune_top_m(qids, ids, S, m)
        return [(int(q), int(i)) for q, i in zip(qids[r], ids[c])]

    # the self match is dropped BEFORE the cut: query 3 still gets 2
    # others; equal scores go to the lower id
    assert picks(2) == [(3, 1), (3, 9), (100, 1), (100, 3)]
    # m beyond the candidates returns every candidate, in order
    assert picks(10) == [
        (3, 1), (3, 9), (3, 5), (3, 7),
        (100, 1), (100, 3), (100, 5), (100, 7), (100, 9),
    ]


def test_classification_report_crafted(spark):
    from skdist_spark.operators.quality import classification_report

    # labels: a x3 (2 correct), b x2 (1 correct, 1 -> c); c never a label
    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "c")]
    df = spark.createDataFrame(rows, "label STRING, pred STRING")
    out = {r["cls"]: r for r in classification_report(df, "label", "pred").collect()}
    assert set(out) == {"a", "b", "c", "(all)"}
    a = out["a"]
    assert (a["support"], a["predicted"], a["tp"]) == (3, 2, 2)
    assert a["precision_ppm"] == 1_000_000
    assert a["recall_ppm"] == 666_666
    b = out["b"]
    assert (b["support"], b["predicted"], b["tp"]) == (2, 2, 1)
    assert b["precision_ppm"] == 500_000 and b["recall_ppm"] == 500_000
    assert b["f1_ppm"] == 500_000
    c = out["c"]  # predicted-only class: recall undefined
    assert c["support"] == 0 and c["predicted"] == 1 and c["tp"] == 0
    assert c["recall_ppm"] is None and c["precision_ppm"] == 0
    assert c["f1_ppm"] is None
    allr = out["(all)"]
    assert allr["support"] == 5 and allr["tp"] == 3
    assert allr["recall_ppm"] == 600_000


def test_k_core_crafted_graph(spark):
    from skdist_spark.operators.graph import k_core

    # K4 clique (1-4) + pendant chain 4-5-6 + disjoint triangle 7-8-9:
    # 3-core = the K4 only; 2-core = K4 + triangle.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (7, 8), (8, 9), (7, 9)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    core3 = {r.node: r.core_degree for r in k_core(df, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
    core2 = {r.node: r.core_degree for r in k_core(df, k=2).collect()}
    assert set(core2) == {1, 2, 3, 4, 7, 8, 9}
    assert core2[7] == core2[8] == core2[9] == 2
    # k above the max clique peels everything
    assert k_core(df, k=5).count() == 0
    # pure distributed peel (local finish disabled) matches exactly
    dist3 = {
        r.node: r.core_degree
        for r in k_core(df, k=3, local_finish_edges=0).collect()
    }
    assert dist3 == core3
    assert k_core(df, k=5, local_finish_edges=0).count() == 0


def test_k_core_deep_peel_past_50_rounds(spark):
    """A 120-node path peels 2 ends per round (~60 rounds): the old
    50-round cap silently returned mid-peel survivors; the fixed-point
    contract must return the empty 2-core (a path has none)."""
    from skdist_spark.operators.graph import k_core

    edges = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    # local-finish path: trivially exact
    assert k_core(df, k=2).count() == 0
    # path + a triangle glued at node 0: the 2-core is just the triangle
    edges2 = edges + [(0, 200), (200, 201), (0, 201)]
    df2 = spark.createDataFrame(edges2, "src BIGINT, dst BIGINT")
    core = {r.node: r.core_degree for r in k_core(df2, k=2).collect()}
    assert core == {0: 2, 200: 2, 201: 2}


def test_part_kcore_oracle_depth_sentinel():
    """ADVICE r4: a too-shallow unroll of the k-core peel oracle must
    self-identify — it emits a (-1, -1) sentinel row when the last two
    rounds still differ, so a depth shortfall reads as an oracle
    problem instead of presenting as a Spark bug.  sf0.01's measured
    peel depth is 8: 2 rounds must flag, 10+ must not."""
    from skdist_spark.operators.graph import _part_kcore_oracle_sql

    from tests.oracle_utils import run_oracle

    sf = "/root/testdata/sf0.01"
    shallow = run_oracle(_part_kcore_oracle_sql(k=3, rounds=2), sf)
    assert ((shallow["node"] == -1) & (shallow["core_degree"] == -1)).any()
    deep = run_oracle(_part_kcore_oracle_sql(k=3, rounds=10), sf)
    assert not (deep["node"] == -1).any()


def test_markov_removal_effect_crafted(spark):
    from skdist_spark.plans.behavior import markov_removal_effect

    # channel 'a' carries every conversion; 'b' only dead ends
    rows = [
        ("START", "a", 10), ("a", "CONV", 10),
        ("START", "b", 10), ("b", "NULL", 10),
    ]
    trans = spark.createDataFrame(rows, "src STRING, dst STRING, n BIGINT")
    out = dict(
        (ch, (eff, share))
        for ch, eff, share in markov_removal_effect(trans, ("a", "b"))
    )
    assert out["a"] == (1.0, 1.0)
    assert out["b"] == (0.0, 0.0)


def test_markov_removal_effect_shared_path(spark):
    from skdist_spark.plans.behavior import markov_removal_effect

    # conversions flow START->a->b->CONV; removing either kills all
    rows = [("START", "a", 4), ("a", "b", 4), ("b", "CONV", 4)]
    trans = spark.createDataFrame(rows, "src STRING, dst STRING, n BIGINT")
    out = dict(
        (ch, (eff, share))
        for ch, eff, share in markov_removal_effect(trans, ("a", "b"))
    )
    assert out["a"][0] == 1.0 and out["b"][0] == 1.0
    assert abs(out["a"][1] - 0.5) < 1e-9 and abs(out["b"][1] - 0.5) < 1e-9


def test_hll_sketch_rollup_identity_and_error(spark):
    """Sketch-table rollup: weekly estimates from UNIONED daily HLL
    sketches must equal a directly-built weekly sketch bit-for-bit
    (merge identity) and sit within 5% of exact distinct counts."""
    from skdist_spark.operators.sketches import QUERIES

    out = QUERIES["user_sketch_rollup"](spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    assert all(r.merge_identity for r in out)
    for r in out:
        assert abs(r.est_distinct - r.exact_distinct) <= max(
            0.05 * r.exact_distinct, 2
        )


def test_observe_quality_zero_extra_scan(spark):
    """observe_quality counters ride the SAME action: the observation
    must report the exact row and violation counts of the job that
    consumed the frame, matching a dedicated range_check pass."""
    from skdist_spark.operators.quality import observe_quality, range_check
    from skdist_spark.sources.catalog import load_table

    orders = load_table(spark, "orders", "/root/testdata/sf0.001")
    constraints = {
        "price_positive": "o_totalprice > 0",
        "status_known": "o_orderstatus IN ('F', 'O', 'P')",
        "price_under_1k": "o_totalprice < 1000",
    }
    observed, obs = observe_quality(orders, constraints)
    # the "production job": an aggregation, not a DQ pass
    n = observed.count()
    got = obs.get
    assert got["n_rows"] == n
    for cname, pred in constraints.items():
        want = range_check(orders, pred, cname).collect()[0].violations
        assert got[f"viol_{cname}"] == want, cname
    assert got["viol_price_under_1k"] > 0  # the constraint actually bites


def test_table_fingerprint_tamper_detection(spark):
    """Merkle fingerprint: row order doesn't change any digest; a
    single tampered row changes the root and EXACTLY one bucket."""
    from skdist_spark.operators.quality import table_fingerprint

    rows = [(i, f"v{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v string")
    base = {r.bucket: r.digest for r in table_fingerprint(df, ["k", "v"]).collect()}
    shuffled = {
        r.bucket: r.digest
        for r in table_fingerprint(
            df.repartition(7).sortWithinPartitions(F.desc("k")), ["k", "v"]
        ).collect()
    }
    assert base == shuffled  # order-insensitive
    tampered_rows = [(i, "TAMPERED" if i == 123 else f"v{i}") for i in range(500)]
    tampered = {
        r.bucket: r.digest
        for r in table_fingerprint(
            spark.createDataFrame(tampered_rows, "k long, v string"), ["k", "v"]
        ).collect()
    }
    assert tampered["(root)"] != base["(root)"]
    diff = {b for b in base if base[b] != tampered.get(b)} - {"(root)"}
    # one changed row digest moves between at most two buckets
    assert 1 <= len(diff) <= 2


def test_ks_two_sample_matches_numpy_replay(spark):
    """KS statistic equals an independent numpy ECDF computation, and
    a genuinely shifted distribution trips the 0.05 reject flag."""
    import numpy as np

    from skdist_spark.operators.stats import ks_two_sample

    rng_a = [(i * 37) % 100 for i in range(120)]          # ~uniform 0..99
    rng_b = [((i * 41) % 100) + 60 for i in range(150)]   # shifted +60
    rng_c = [(i * 43) % 100 for i in range(80)]           # same law as a
    rows = (
        [("a", float(v)) for v in rng_a]
        + [("b", float(v)) for v in rng_b]
        + [("c", float(v)) for v in rng_c]
    )
    df = spark.createDataFrame(rows, "g string, x double")
    got = {(r.group_a, r.group_b): r for r in ks_two_sample(df, "g", "x").collect()}

    def ks_numpy(xs, ys):
        xs, ys = np.sort(xs), np.sort(ys)
        allv = np.union1d(xs, ys)
        fa = np.searchsorted(xs, allv, side="right") / len(xs)
        fb = np.searchsorted(ys, allv, side="right") / len(ys)
        return np.max(np.abs(fa - fb))

    for (ga, gb), (xs, ys) in {
        ("a", "b"): (rng_a, rng_b),
        ("a", "c"): (rng_a, rng_c),
        ("b", "c"): (rng_b, rng_c),
    }.items():
        r = got[(ga, gb)]
        assert abs(r.ks_d - ks_numpy(xs, ys)) < 1e-12, (ga, gb)
        assert r.n_a == len(xs) and r.n_b == len(ys)
        crit = 1.358 * np.sqrt((r.n_a + r.n_b) / (r.n_a * r.n_b))
        assert r.reject_05 == (r.ks_d > crit), (ga, gb)
    # the shifted pair must reject; the same-law pair must not
    assert got[("a", "b")].reject_05 is True
    assert got[("a", "c")].reject_05 is False


def test_target_encode_loo_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from skdist_spark.operators.stats import TE_SMOOTHING, target_encode_loo

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {"k": rng.choice(list("abc"), 60), "y": rng.rand(60).round(3)}
    )
    out = target_encode_loo(
        spark.createDataFrame(pdf), ["k"], "y"
    ).toPandas().sort_values(["k", "y"]).reset_index(drop=True)
    prior = pdf["y"].mean()
    grp = pdf.groupby("k")["y"].agg(["sum", "count"])
    expect = pdf.assign(
        enc=lambda d: (
            d["k"].map(grp["sum"]) - d["y"] + TE_SMOOTHING * prior
        ) / (d["k"].map(grp["count"]) - 1 + TE_SMOOTHING)
    ).sort_values(["k", "y"]).reset_index(drop=True)
    np.testing.assert_allclose(out["encoded_loo"], expect["enc"].round(6), atol=1e-6)
    # leakage check: two rows with same key but different y get DIFFERENT codes
    a = pdf[pdf.k == "a"]["y"]
    codes = out[out.k == "a"]["encoded_loo"]
    assert a.nunique() > 1 and codes.nunique() > 1


def test_woe_encode_known_values(spark):
    from skdist_spark.operators.stats import woe_encode
    import math

    df = spark.createDataFrame(
        [("x", 1)] * 8 + [("x", 0)] * 2 + [("y", 1)] * 2 + [("y", 0)] * 8,
        "k string, f int",
    )
    rows = {r.k: r for r in woe_encode(df, ["k"], "f").collect()}
    P, N, a = 10, 10, 0.5
    woe_x = math.log(((8 + a) / (P + 1)) / ((2 + a) / (N + 1)))
    assert abs(rows["x"].woe - round(woe_x, 6)) < 1e-9
    assert rows["x"].woe > 0 > rows["y"].woe
    # symmetric construction -> symmetric WoE
    assert abs(rows["x"].woe + rows["y"].woe) < 1e-9
