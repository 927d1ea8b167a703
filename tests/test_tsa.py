"""Generic-API tests for operators/tsa.py: the Holt recursion vs a
plain-Python replay, Welch's t-test vs hand-computed moments, and the
Kaplan-Meier table vs a textbook hand calculation."""

import math

from pyspark.sql import functions as F

from skdist_spark.operators import tsa


def _holt_reference(ys, alpha=0.5, beta=0.25, horizon=7):
    level, trend = ys[0], ys[1] - ys[0]
    fits = []
    for y in ys[1:]:
        fitted = level + trend
        new_level = alpha * y + (1.0 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1.0 - beta) * trend
        level = new_level
        fits.append(fitted)
    fc = [level + h * trend for h in range(1, horizon + 1)]
    return fits, fc


def test_holt_fit_matches_python_replay(spark):
    ys = [10.0, 12.0, 11.0, 15.0, 18.0, 17.0, 21.0, 25.0]
    series = spark.createDataFrame(
        [(i + 1, y) for i, y in enumerate(ys)], "t INT, y DOUBLE"
    )
    out = tsa.holt_fit(series, "t", "y").collect()
    fits_ref, fc_ref = _holt_reference(ys)
    fit_rows = [r for r in out if r["kind"] == "fit"]
    fc_rows = [r for r in out if r["kind"] == "forecast"]
    assert [r["t"] for r in fit_rows] == list(range(2, len(ys) + 1))
    for r, expect in zip(fit_rows, fits_ref):
        assert abs(r["yhat"] - round(expect, 4)) < 1e-9
    assert [r["t"] for r in fc_rows] == list(range(len(ys) + 1, len(ys) + 8))
    for r, expect in zip(fc_rows, fc_ref):
        assert abs(r["yhat"] - round(expect, 4)) < 1e-9
        assert r["y"] is None


def test_welch_t_test_matches_manual(spark):
    # units 2,4,... land in arm 0 and 1,3,... in arm 1 for the Knuth
    # split; just recompute the arms the same way and do the math
    rows = [(u, 1_000_000 * (u % 7 + 1)) for u in range(1, 41)]
    df = spark.createDataFrame(rows, "unit BIGINT, v BIGINT")
    out = tsa.welch_t_test(df, "unit", "v", []).collect()[0]
    arms = {0: [], 1: []}
    for u, v in rows:
        arms[((u * tsa._KNUTH) % tsa._MOD32) % 2].append(v / 1e6)
    means = {k: sum(v) / len(v) for k, v in arms.items()}
    vars_ = {
        k: sum((x - means[k]) ** 2 for x in v) / (len(v) - 1)
        for k, v in arms.items()
    }
    se2 = vars_[0] / len(arms[0]) + vars_[1] / len(arms[1])
    t_ref = (means[0] - means[1]) / math.sqrt(se2)
    assert out["n_a"] == len(arms[0]) and out["n_b"] == len(arms[1])
    assert abs(out["mean_a"] - means[0]) < 1e-5
    assert abs(out["mean_b"] - means[1]) < 1e-5
    assert abs(out["t_stat"] - t_ref) < 1e-4


def test_km_survival_textbook(spark):
    # classic toy: durations with events at t=2 (1 of 5 at risk),
    # t=4 (1 of 3): S(2)=0.8, S(4)=0.8*(2/3)
    spans = spark.createDataFrame(
        [(2, 1), (3, 0), (4, 1), (5, 0), (6, 0)], "duration INT, event INT"
    )
    out = {r["t"]: r for r in tsa.km_survival(spans).collect()}
    assert set(out) == {2, 4}
    assert out[2]["n_risk"] == 5 and out[2]["d"] == 1
    assert abs(out[2]["survival"] - 0.8) < 1e-9
    assert out[4]["n_risk"] == 3 and out[4]["d"] == 1
    assert abs(out[4]["survival"] - round(0.8 * (2 / 3), 6)) < 1e-9


def test_nelson_aalen_textbook(spark):
    # same toy: H(2) = 1/5, H(4) = 1/5 + 1/3
    spans = spark.createDataFrame(
        [(2, 1), (3, 0), (4, 1), (5, 0), (6, 0)], "duration INT, event INT"
    )
    out = {r["t"]: r for r in tsa.nelson_aalen(spans).collect()}
    assert set(out) == {2, 4}
    assert (out[2]["n_risk"], out[2]["d"], out[4]["n_risk"], out[4]["d"]) == (5, 1, 3, 1)
    assert abs(out[2]["cum_hazard"] - 0.2) < 1e-9
    assert abs(out[4]["cum_hazard"] - round(0.2 + 1 / 3, 6)) < 1e-9


def test_churn_faces_match_oracles_with_churned_users(spark, tmp_path):
    """The churn faces against their DuckDB oracles on an events table
    where users do churn: the shipped test tables have none (no user is
    inactive CHURN_GAP_DAYS before the corpus end), so there the KM and
    hazard tables are empty and the log-rank and RMST rows read no
    event.  Here both Knuth arms hold churned and censored users, with
    tied durations, a last activity exactly on the churn cut-off and
    durations that floor a fractional day."""
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import compare_query

    import __spark_entry__ as entry_mod

    t0 = datetime.datetime(2024, 1, 1)
    # (user_id, first day, last day); the corpus ends on day 60 at
    # 02:00, so a last activity on day 53 at 02:00 is exactly the
    # 7-day cut-off (churned) and day 54 is censored
    users = [
        (1, 0, 3), (2, 1, 4), (3, 0, 5), (4, 2, 12), (5, 5, 15), (6, 0, 20),
        (7, 10, 30), (8, 3, 11), (9, 40, 45), (10, 30, 58), (11, 50, 59),
        (12, 20, 60), (13, 55, 60), (14, 10, 57), (15, 45, 56), (16, 0, 60),
        (17, 40, 53), (18, 46, 54),
    ]
    rows = []
    for uid, first, last in users:
        # even users start at 20:00, so their span floors to one day
        # less than the day difference
        start = t0 + datetime.timedelta(days=first, hours=20 if uid % 2 == 0 else 1)
        end = t0 + datetime.timedelta(days=last, hours=2)
        for ts in (start, start + (end - start) / 2, end):
            rows.append((len(rows), uid, "click", ts, 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "value", "props"]
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    ts_idx = table.schema.get_field_index("ts")
    table = table.set_column(ts_idx, "ts", table.column("ts").cast(pa.timestamp("us")))
    pq.write_table(table, str(tmp_path / "events.parquet"))
    sf_dir = str(tmp_path)

    spans = {r["user_id"]: r for r in tsa._churn_spans(spark, sf_dir).collect()}
    arms = {0: set(), 1: set()}
    for uid, r in spans.items():
        arms[((uid * tsa._KNUTH) % tsa._MOD32) % 2].add(r["event"])
    assert arms == {0: {0, 1}, 1: {0, 1}}, arms
    assert spans[17]["event"] == 1 and spans[18]["event"] == 0
    assert (spans[4]["duration"], spans[5]["duration"]) == (9, 10)

    oracle = entry_mod.oracle_sql()
    faces = entry_mod.queries()
    for name in ("user_churn_survival", "user_churn_hazard", "churn_ab_logrank", "user_churn_rmst"):
        compare_query(spark, faces[name], oracle[name], sf_dir, f"{name}[churned]")
    assert len(faces["user_churn_survival"](spark, sf_dir).collect()) > 1
    assert len(faces["user_churn_hazard"](spark, sf_dir).collect()) > 1
    (lr,) = faces["churn_ab_logrank"](spark, sf_dir).collect()
    assert lr["o_a"] > 0 and lr["chi2"] is not None
    (rmst,) = faces["user_churn_rmst"](spark, sf_dir).collect()
    assert rmst["n_event_times"] > 1


def test_km_risk_decreases_with_censoring(spark):
    spans = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1), (3, 1)], "duration INT, event INT"
    )
    rows = tsa.km_survival(spans).collect()
    risks = [r["n_risk"] for r in rows]
    assert risks == sorted(risks, reverse=True)
    survs = [r["survival"] for r in rows]
    assert all(s1 >= s2 for s1, s2 in zip(survs, survs[1:]))


def test_cuped_matches_numpy(spark):
    import numpy as np

    rows = []
    for u in range(1, 101):
        x = 1_000_000 * (u % 11)
        y = x // 2 + 1_000_000 * (u % 7)
        rows.append((u, x, y))
    df = spark.createDataFrame(rows, "unit BIGINT, x BIGINT, y BIGINT")
    out = tsa.cuped_adjust(df, "unit", "x", "y").collect()[0]
    xs = np.array([r[1] for r in rows]) / 1e6
    ys = np.array([r[2] for r in rows]) / 1e6
    theta = np.cov(xs, ys, ddof=1)[0, 1] / np.var(xs, ddof=1)
    assert abs(out["theta"] - theta) < 1e-4
    arms = np.array([((u * tsa._KNUTH) % tsa._MOD32) % 2 for u, _, _ in rows])
    adj = ys - theta * (xs - xs.mean())
    adj_a = adj[arms == 0].mean()
    assert abs(out["adj_mean_a"] - adj_a) < 1e-4
    # x strongly predicts y here, so CUPED must shrink the variance
    assert out["var_reduction"] > 0.3


def _hw_reference(ys, m, alpha=0.5, beta=0.25, gamma=0.25, horizon=7):
    level = sum(ys[:m]) / m
    trend = (sum(ys[m : 2 * m]) / m - sum(ys[:m]) / m) / m
    season = [y - level for y in ys[:m]]
    fits = []
    for t in range(m + 1, len(ys) + 1):
        i = (t - 1) % m
        sprev = season[i]
        fits.append(level + trend + sprev)
        new_level = alpha * (ys[t - 1] - sprev) + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        season[i] = gamma * (ys[t - 1] - new_level) + (1 - gamma) * sprev
        level = new_level
    n = len(ys)
    fc = [
        level + h * trend + season[(n + h - 1) % m] for h in range(1, horizon + 1)
    ]
    return fits, fc


def test_holt_winters_matches_python_replay(spark):
    import math

    m = 4
    # two-period seasonal signal + trend + deterministic jitter
    ys = [
        100.0 + 2.0 * t + [10.0, -5.0, 3.0, -8.0][t % m] + (t * 7 % 5)
        for t in range(12)
    ]
    series = spark.createDataFrame(
        [(t + 1, y) for t, y in enumerate(ys)], "t INT, y DOUBLE"
    )
    out = tsa.holt_winters_fit(series, "t", "y", period=m).collect()
    fits_ref, fc_ref = _hw_reference(ys, m)
    fit_rows = [r for r in out if r["kind"] == "fit"]
    fc_rows = [r for r in out if r["kind"] == "forecast"]
    assert [r["t"] for r in fit_rows] == list(range(m + 1, len(ys) + 1))
    for r, expect in zip(fit_rows, fits_ref):
        assert math.isclose(r["yhat"], round(expect, 4), abs_tol=1e-9)
    for r, expect in zip(fc_rows, fc_ref):
        assert math.isclose(r["yhat"], round(expect, 4), abs_tol=1e-9)


def test_mann_whitney_matches_manual(spark):
    rows = [(u, (u * 3) % 13) for u in range(1, 61)]
    df = spark.createDataFrame(rows, "unit BIGINT, v BIGINT")
    out = tsa.mann_whitney_u(df, "unit", "v", []).collect()[0]
    # manual midrank computation
    arms = [((u * tsa._KNUTH) % tsa._MOD32) % 2 for u, _ in rows]
    vals = [v for _, v in rows]
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
            j += 1
        mid = (i + 1 + j + 1) / 2
        for k in range(i, j + 1):
            ranks[order[k]] = mid
        i = j + 1
    n_a = arms.count(0)
    r_a = sum(r for r, a in zip(ranks, arms) if a == 0)
    u_a = r_a - n_a * (n_a + 1) / 2
    assert out["n_a"] == n_a
    assert abs(out["u_a"] - u_a) < 1e-9
    assert abs(out["z"]) < 10  # sanity: finite, reasonable


def test_series_topk_lossless_vs_bruteforce(spark):
    """The PAA two-stage prune must return EXACTLY the brute-force
    top-k even with refine_m at its k minimum (the bound-threshold
    pass must rescue everything the seed pass missed)."""
    from pyspark.sql import functions as F

    from skdist_spark.operators.tsa import series_topk_similarity

    # 40 users x 28 days of crafted values: user u's day-d value is a
    # sinusoid-ish integer pattern; close ids have close shapes
    rows = []
    for u in range(40):
        for d in range(28):
            rows.append((u, f"2024-01-{d + 1:02d} 12:00:00",
                         float((u * 7 + d * 3) % 50 + (u % 5) * d)))
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))

    pruned = series_topk_similarity(
        df, "user_id", "ts", "value", query_id=0, k=5, refine_m=5
    ).collect()
    wide = series_topk_similarity(
        df, "user_id", "ts", "value", query_id=0, k=5, refine_m=1000
    ).collect()
    # refine_m=1000 refines everything -> brute force
    assert [(r.user_id, r.dist) for r in pruned] == [
        (r.user_id, r.dist) for r in wide
    ]
    assert len(pruned) == 5
    dists = [r.dist for r in pruned]
    assert dists == sorted(dists)
    # partition invariance: exact integers, any layout
    repart = series_topk_similarity(
        df.repartition(7), "user_id", "ts", "value", query_id=0, k=5, refine_m=5
    ).collect()
    assert [(r.user_id, r.dist) for r in repart] == [
        (r.user_id, r.dist) for r in pruned
    ]


def test_qini_curve_ranks_null_scores_last(spark):
    """A DESC score order puts NULL scores LAST (Spark and DuckDB
    alike), so units without a score fill the final bins.  The units
    here without a score are all treated converters: ranked right
    after the top scores instead, they would inflate the first bins'
    treated conversions."""
    import random

    import pandas as pd

    random.seed(31)
    rows = [
        (
            i,
            None if i % 13 == 0 else random.randint(0, 50),
            1 if i % 13 == 0 else random.randint(0, 1),
            1 if i % 13 == 0 else int(random.random() < 0.2),
        )
        for i in range(4000)
    ]
    units = spark.createDataFrame(
        rows, "unit_id long, score long, arm int, converted int"
    ).repartition(8)
    got = tsa.qini_curve(units, "score", "arm", "converted").collect()

    pdf = pd.DataFrame(rows, columns=["unit_id", "score", "arm", "converted"])
    pdf = pdf.sort_values(
        ["score", "unit_id"], ascending=[False, True], na_position="last"
    )
    pdf["bin"] = [
        (rn - 1) * tsa.QINI_BINS // len(pdf) for rn in range(1, len(pdf) + 1)
    ]
    treated = pdf["arm"] == 1
    pdf["n_t"], pdf["n_c"] = treated.astype(int), (~treated).astype(int)
    pdf["y_t"] = pdf["converted"] * pdf["n_t"]
    pdf["y_c"] = pdf["converted"] * pdf["n_c"]
    cum = pdf.groupby("bin")[["n_t", "n_c", "y_t", "y_c"]].sum().cumsum()
    exp = [(b, *map(int, r)) for b, r in zip(cum.index, cum.values)]
    assert [(r.bin, r.cn_t, r.cn_c, r.cy_t, r.cy_c) for r in got] == exp
