"""Distributed ALS == serial numpy ALS (same init, same accumulation
order), plus the driver-entry smoke."""

import numpy as np
import pytest

from skdist_spark.operators.recommend import (
    ALS_K,
    ALS_REG,
    ALS_SWEEPS,
    _init_factors_np,
    als_recommend_topk,
    als_rmse,
    als_train,
    ml_als_recommend,
)


def _serial_als(triples, k=ALS_K, reg=ALS_REG, sweeps=ALS_SWEEPS):
    """Reference ALS: plain dict-of-lists, item-sorted accumulation —
    the exact fold order the distributed solve uses."""
    users = sorted({u for u, _, _ in triples})
    items = sorted({i for _, i, _ in triples})
    item_f = {i: v for i, v in zip(items, _init_factors_np(np.array(items), k))}
    user_f = {}

    def solve(group, fixed):
        out = {}
        for sid, rows in group.items():
            rows = sorted(rows)  # by fixed id
            Q = np.vstack([fixed[f] for f, _ in rows])
            r = np.array([x for _, x in rows], dtype=np.float64)
            A = Q.T @ Q + reg * len(r) * np.eye(k)
            out[sid] = np.linalg.solve(A, Q.T @ r)
        return out

    by_user = {}
    by_item = {}
    for u, i, x in triples:
        by_user.setdefault(u, []).append((i, x))
        by_item.setdefault(i, []).append((u, x))
    for _ in range(sweeps):
        user_f = solve(by_user, item_f)
        item_f = solve(by_item, user_f)
    _ = users
    return user_f, item_f


@pytest.fixture(scope="module")
def ratings(spark):
    rows = [
        (1, 10, 5.0), (1, 11, 3.0), (1, 12, 1.0),
        (2, 10, 4.0), (2, 12, 2.0),
        (3, 11, 5.0), (3, 12, 4.0), (3, 13, 2.0),
        (4, 10, 1.0), (4, 13, 5.0),
    ]
    return spark.createDataFrame(rows, ["u", "i", "rating"]), rows


@pytest.mark.parametrize("factor_join", ["broadcast", "shuffled"])
def test_als_matches_serial_replay(spark, ratings, monkeypatch, factor_join):
    """Both factor-join strategies reproduce the serial replay; a zero
    broadcast bound forces the shuffled-hash join path (fixed-key
    ratings layout, solve_parts gather repartition)."""
    if factor_join == "shuffled":
        from skdist_spark.operators import recommend

        monkeypatch.setattr(recommend, "ALS_BROADCAST_MAX_ROWS", 0)
    df, rows = ratings
    uf, itf = als_train(df, "u", "i", "rating")
    uf_d = {r["id"]: np.array(r["factors"]) for r in uf.collect()}
    itf_d = {r["id"]: np.array(r["factors"]) for r in itf.collect()}
    uf_s, itf_s = _serial_als(rows)
    assert set(uf_d) == set(uf_s) and set(itf_d) == set(itf_s)
    for k_ in uf_s:
        np.testing.assert_allclose(uf_d[k_], uf_s[k_], rtol=0, atol=1e-12)
    for k_ in itf_s:
        np.testing.assert_allclose(itf_d[k_], itf_s[k_], rtol=0, atol=1e-12)


def test_als_rmse_decreases_vs_init(spark, ratings):
    df, rows = ratings
    uf, itf = als_train(df, "u", "i", "rating")
    rmse = als_rmse(df, uf, itf).collect()[0]
    assert rmse["n_ratings"] == len(rows)
    # must beat the trivial all-zeros predictor (RMS of the ratings)
    # by a wide margin even at 2 sweeps on this tiny matrix
    rms0 = float(np.sqrt(np.mean([x * x for _, _, x in rows])))
    assert 0 <= rmse["rmse"] < 0.6 * rms0


def test_als_topk_excludes_seen(spark, ratings):
    df, _ = ratings
    uf, itf = als_train(df, "u", "i", "rating")
    recs = als_recommend_topk(uf, itf, seen=df.select("u", "i"), top_k=2)
    got = recs.collect()
    seen = {(r["u"], r["i"]) for r in df.select("u", "i").collect()}
    for r in got:
        assert (r["user"], r["item"]) not in seen
        assert r["rank"] in (1, 2)


def test_ml_als_entry_smoke(spark, sf_dir):
    out = ml_als_recommend(spark, sf_dir).collect()
    assert len(out) == 1
    assert out[0]["n_ratings"] > 0
    assert out[0]["rmse"] is not None and out[0]["rmse"] >= 0


def test_ml_als_entry_deterministic(spark, sf_dir):
    a = ml_als_recommend(spark, sf_dir).collect()[0]
    b = ml_als_recommend(spark, sf_dir).collect()[0]
    assert a["n_ratings"] == b["n_ratings"]
    # factors are bit-deterministic; the RMSE sum is the only float
    # fold over partitions — allow ulp-level noise
    assert abs(a["rmse"] - b["rmse"]) < 1e-6


def test_init_factors_pure_function():
    a = _init_factors_np(np.array([1, 2, 3]))
    b = _init_factors_np(np.array([1, 2, 3]))
    np.testing.assert_array_equal(a, b)
    assert np.abs(a).max() <= 0.05
    assert a.shape == (3, ALS_K)
