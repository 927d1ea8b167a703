"""Local estimator library tests (no Spark needed)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from skdist_spark.ml import (
    DecisionTreeClassifier,
    DecisionTreeRegressor,
    DummyClassifier,
    GaussianNB,
    KFold,
    KNeighborsClassifier,
    LinearRegression,
    LogisticRegression,
    ParameterGrid,
    ParameterSampler,
    Ridge,
    StratifiedKFold,
    accuracy_score,
    clone,
    get_scorer,
    is_classifier,
    log_loss,
    roc_auc_score,
    train_test_split,
)


def _blobs(n=300, d=8, k=3, seed=0):
    rng = np.random.RandomState(seed)
    centers = rng.randn(k, d) * 4
    y = rng.randint(0, k, n)
    X = centers[y] + rng.randn(n, d)
    return X, y


@pytest.mark.parametrize(
    "est",
    [
        LogisticRegression(max_iter=300),
        DecisionTreeClassifier(max_depth=8),
        GaussianNB(),
        KNeighborsClassifier(),
    ],
)
def test_classifiers_learn_blobs(est):
    X, y = _blobs()
    est.fit(X, y)
    assert accuracy_score(y, est.predict(X)) > 0.9
    proba = est.predict_proba(X)
    assert proba.shape == (len(y), 3)
    np.testing.assert_allclose(proba.sum(axis=1), 1.0, atol=1e-6)


def test_classifiers_deterministic():
    X, y = _blobs()
    a = LogisticRegression().fit(X, y).predict_proba(X)
    b = LogisticRegression().fit(X, y).predict_proba(X)
    np.testing.assert_array_equal(a, b)


def test_regressors():
    rng = np.random.RandomState(0)
    X = rng.randn(200, 5)
    y = X @ np.array([1.0, -2.0, 0.5, 0, 3.0]) + 0.7
    for est in [LinearRegression(), Ridge(alpha=1e-6), DecisionTreeRegressor(max_depth=12)]:
        est.fit(X, y)
        assert est.score(X, y) > 0.95, type(est).__name__


def test_clone_and_params():
    est = LogisticRegression(C=2.5, max_iter=50)
    c = clone(est)
    assert c is not est and c.get_params()["C"] == 2.5
    est.set_params(C=9.0)
    assert c.C == 2.5
    assert is_classifier(est) and not is_classifier(LinearRegression())


def test_string_labels():
    X, y_int = _blobs(k=2)
    y = np.where(y_int == 0, "cat", "dog")
    m = LogisticRegression().fit(X, y)
    assert set(m.predict(X)) <= {"cat", "dog"}
    auc = roc_auc_score(y, m.predict_proba(X)[:, 1])
    assert auc > 0.9


@given(st.integers(min_value=2, max_value=8), st.integers(min_value=20, max_value=100))
@settings(max_examples=20, deadline=None)
def test_kfold_partitions(k, n):
    X = np.zeros(n)
    folds = list(KFold(n_splits=k).split(X))
    assert len(folds) == k
    all_test = np.concatenate([t for _, t in folds])
    assert sorted(all_test) == list(range(n))
    for train, test in folds:
        assert set(train) | set(test) == set(range(n))
        assert not set(train) & set(test)


def test_stratified_kfold_balance():
    y = np.array([0] * 50 + [1] * 10)
    for train, test in StratifiedKFold(5).split(np.zeros(60), y):
        assert (y[test] == 1).sum() == 2


def test_parameter_grid_and_sampler():
    grid = ParameterGrid({"a": [1, 2, 3], "b": ["x", "y"]})
    combos = list(grid)
    assert len(grid) == len(combos) == 6
    samp = list(ParameterSampler({"a": [1, 2, 3], "b": ["x", "y"]}, n_iter=4, random_state=0))
    assert len(samp) == 4 and all(s["a"] in (1, 2, 3) for s in samp)
    # deterministic under fixed seed
    samp2 = list(ParameterSampler({"a": [1, 2, 3], "b": ["x", "y"]}, n_iter=4, random_state=0))
    assert samp == samp2


def test_train_test_split_stratified():
    X, y = _blobs(n=100, k=2)
    X_tr, X_te, y_tr, y_te = train_test_split(X, y, test_size=0.2, random_state=0, stratify=y)
    assert len(X_te) + len(X_tr) == 100
    assert abs(np.mean(y_te) - np.mean(y)) < 0.15


def test_scorers():
    X, y = _blobs(k=2)
    m = LogisticRegression().fit(X, y)
    for name in ["accuracy", "f1", "f1_macro", "neg_log_loss", "roc_auc"]:
        s = get_scorer(name)(m, X, y)
        assert np.isfinite(s)
    assert get_scorer("neg_log_loss")(m, X, y) == -log_loss(y, m.predict_proba(X), labels=m.classes_)


def test_dummy():
    X, y = _blobs(k=2)
    d = DummyClassifier().fit(X, y)
    assert len(d.predict(X)) == len(y)


def test_time_series_split_no_future_leakage():
    import numpy as np

    from skdist_spark.ml.model_selection import TimeSeriesSplit

    X = np.arange(37)
    tss = TimeSeriesSplit(n_splits=4)
    folds = list(tss.split(X))
    assert len(folds) == 4
    prev_test_end = None
    for train, test in folds:
        assert train.max() < test.min()          # strictly before
        assert len(test) == 37 // 5
        assert np.array_equal(train, np.arange(len(train)))  # grows from 0
        if prev_test_end is not None:
            assert test.min() == prev_test_end   # contiguous windows
        prev_test_end = test.max() + 1


def test_time_series_split_gap_and_max_train():
    import numpy as np

    from skdist_spark.ml.model_selection import TimeSeriesSplit

    X = np.arange(40)
    tss = TimeSeriesSplit(n_splits=3, test_size=5, gap=2, max_train_size=10)
    for train, test in tss.split(X):
        assert test.min() - train.max() == 3  # gap of 2 rows skipped
        assert len(train) <= 10
        assert len(test) == 5


def test_gradient_boosting_regressor_beats_single_tree():
    import numpy as np

    from skdist_spark.ml.boosting import GradientBoostingRegressor
    from skdist_spark.ml.tree import DecisionTreeRegressor

    rng = np.random.RandomState(7)
    X = rng.uniform(-3, 3, size=(400, 2))
    y = np.sin(X[:, 0]) + 0.5 * X[:, 1] ** 2  # smooth nonlinear target
    Xt = rng.uniform(-3, 3, size=(200, 2))
    yt = np.sin(Xt[:, 0]) + 0.5 * Xt[:, 1] ** 2

    gb = GradientBoostingRegressor(n_estimators=80, learning_rate=0.2, max_depth=2)
    gb.fit(X, y)
    stump = DecisionTreeRegressor(max_depth=2).fit(X, y)
    mse_gb = float(np.mean((gb.predict(Xt) - yt) ** 2))
    mse_tree = float(np.mean((stump.predict(Xt) - yt) ** 2))
    assert mse_gb < 0.5 * mse_tree
    assert mse_gb < 0.1

    # determinism: refit gives identical predictions
    gb2 = GradientBoostingRegressor(n_estimators=80, learning_rate=0.2, max_depth=2)
    gb2.fit(X, y)
    assert np.array_equal(gb.predict(Xt), gb2.predict(Xt))


def test_gradient_boosting_classifier_accuracy_and_proba():
    import numpy as np

    from skdist_spark.ml.boosting import GradientBoostingClassifier

    rng = np.random.RandomState(11)
    X = rng.uniform(-2, 2, size=(500, 2))
    y = ((X[:, 0] ** 2 + X[:, 1] ** 2) < 2.0).astype(int)  # circular boundary
    gb = GradientBoostingClassifier(n_estimators=60, learning_rate=0.3, max_depth=2)
    gb.fit(X, y)
    acc = float(np.mean(gb.predict(X) == y))
    assert acc > 0.93
    proba = gb.predict_proba(X)
    assert proba.shape == (500, 2)
    assert np.allclose(proba.sum(axis=1), 1.0)
    assert np.all((proba >= 0) & (proba <= 1))


def test_gradient_boosting_in_dist_grid_search(spark):
    """The boosted estimator must speak enough protocol for the
    distributed meta-estimators to fan it out."""
    import numpy as np

    from skdist_spark.ml.boosting import GradientBoostingClassifier
    from skdist_spark.operators.search import DistGridSearchCV

    rng = np.random.RandomState(3)
    X = rng.uniform(-2, 2, size=(200, 2))
    y = ((X[:, 0] + X[:, 1]) > 0).astype(int)
    gs = DistGridSearchCV(
        GradientBoostingClassifier(n_estimators=10),
        {"learning_rate": [0.1, 0.5], "max_depth": [1, 2]},
        sc=spark,
        cv=3,
    )
    gs.fit(X, y)
    assert gs.best_params_["learning_rate"] in (0.1, 0.5)
    assert gs.best_score_ > 0.8
    assert len(gs.cv_results_["mean_test_score"]) == 4


def test_group_kfold_groups_never_straddle():
    import numpy as np

    from skdist_spark.ml import GroupKFold

    rng = np.random.RandomState(7)
    groups = rng.randint(0, 17, 120)
    X = np.arange(120).reshape(-1, 1)
    gkf = GroupKFold(n_splits=4)
    seen_test = []
    for train, test in gkf.split(X, groups=groups):
        # disjoint, complete
        assert set(train) | set(test) == set(range(120))
        assert not set(train) & set(test)
        # no group straddles the boundary
        assert not set(groups[train]) & set(groups[test])
        seen_test.extend(test)
    # every sample is in a test fold exactly once
    assert sorted(seen_test) == list(range(120))
    # deterministic: same input -> same folds
    a = [tuple(t) for _, t in GroupKFold(4).split(X, groups=groups)]
    b = [tuple(t) for _, t in GroupKFold(4).split(X, groups=groups)]
    assert a == b
    with pytest.raises(ValueError):
        list(GroupKFold(4).split(X))  # groups required
    with pytest.raises(ValueError):
        list(GroupKFold(40).split(X, groups=groups))  # more splits than groups


def test_grid_search_with_group_kfold(spark):
    import numpy as np

    from skdist_spark.ml import GroupKFold, LogisticRegression
    from skdist_spark.operators import DistGridSearchCV

    X, y = _blobs_ml(200, 5, 2)
    groups = np.arange(200) % 23
    grid = {"C": [0.1, 1.0]}
    local = DistGridSearchCV(
        LogisticRegression(), grid, sc=None, cv=GroupKFold(4)
    ).fit(X, y, groups=groups)
    dist = DistGridSearchCV(
        LogisticRegression(), grid, sc=spark, cv=GroupKFold(4)
    ).fit(X, y, groups=groups)
    assert dist.best_params_ == local.best_params_
    np.testing.assert_allclose(
        dist.cv_results_["mean_test_score"], local.cv_results_["mean_test_score"]
    )


def _blobs_ml(n, d, k, seed=3):
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(k, d) * 3
    y = rng.randint(0, k, n)
    return centers[y] + rng.randn(n, d), y


def test_permutation_importance_readout(spark):
    """The length-driven label: permuting f_len must cost real accuracy,
    the orthogonal ratios must not, and permuting is deterministic."""
    from skdist_spark.plans.ml_queries import ml_permutation_importance

    rows = {r.feature: r for r in
            ml_permutation_importance(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"f_len", "f_wlen", "f_distinct", "f_stop"}
    base = {r.baseline_acc_ppm for r in rows.values()}
    assert len(base) == 1 and base.pop() > 800_000
    assert rows["f_len"].importance_ppm > 100_000
    assert rows["f_len"].importance_ppm == max(
        r.importance_ppm for r in rows.values()
    )
    assert rows["f_wlen"].importance_ppm <= 20_000
    rows2 = {r.feature: r.importance_ppm for r in
             ml_permutation_importance(spark, "/root/testdata/sf0.001").collect()}
    assert rows2 == {k: v.importance_ppm for k, v in rows.items()}


def test_learning_curve_rises(spark):
    """More data must not hurt on the learnable target, the curve is
    deterministic, and sizes collapse to the corpus bound."""
    from skdist_spark.plans.ml_queries import ml_learning_curve

    rows = ml_learning_curve(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 1
    sizes = [r.train_size for r in rows]
    assert sizes == sorted(set(sizes))
    accs = [r.full_acc_ppm for r in rows]
    # curves wobble at tiny sizes; require no collapse and real signal
    assert accs[-1] >= accs[0] - 25_000
    assert max(accs) > 600_000  # learnable target: better than chance
    again = ml_learning_curve(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


# ---- exactness contract of the vectorized learner kernels -------------------


@pytest.mark.parametrize("k", range(1, 21))
def test_row_sum_bit_equal_to_numpy_sum(k):
    """Column adds below 8 columns, numpy's pairwise sum from 8 up: both
    sides of the branch give ``a.sum(axis=1)`` bit for bit."""
    from skdist_spark.ml.base import row_sum

    rng = np.random.RandomState(k)
    a = rng.standard_normal((2000, k)) * rng.lognormal(0, 6, (2000, k))
    a[0] = -0.0  # numpy sums a row of -0.0 to +0.0
    expected = a.sum(axis=1)
    got = row_sum(a)
    assert got.dtype == expected.dtype and got.shape == expected.shape
    assert got.tobytes() == expected.tobytes()
    # and along the last axis of a 3-D block, as the split search uses it
    b = a.reshape(4, 500, k)
    assert row_sum(b).tobytes() == b.sum(axis=-1).tobytes()


def _reference_best_split(est, X, y, sw, feats, n_out):
    """One feature at a time: sort, 1-D prefix impurities, argmax."""
    is_clf = isinstance(est, DecisionTreeClassifier)

    def prefix(ys, ws):
        if is_clf:
            n = len(ys)
            onehot = np.zeros((n, n_out))
            onehot[np.arange(n), ys] = ws
            cum = np.cumsum(onehot, axis=0)[:-1]
            wl = np.cumsum(ws)[:-1]
            total_c = np.bincount(ys, weights=ws, minlength=n_out)
            wr = ws.sum() - wl
            with np.errstate(divide="ignore", invalid="ignore"):
                gini_l = wl - np.sum(cum**2, axis=1) / np.where(wl > 0, wl, 1)
                gini_r = wr - np.sum((total_c - cum) ** 2, axis=1) / np.where(wr > 0, wr, 1)
            return gini_l, gini_r
        wy, wy2 = ws * ys, ws * ys**2
        cw, cy, cy2 = np.cumsum(ws)[:-1], np.cumsum(wy)[:-1], np.cumsum(wy2)[:-1]
        tw, ty, ty2 = ws.sum(), wy.sum(), wy2.sum()
        with np.errstate(divide="ignore", invalid="ignore"):
            sse_l = cy2 - cy**2 / np.where(cw > 0, cw, 1)
            rw = tw - cw
            sse_r = (ty2 - cy2) - (ty - cy) ** 2 / np.where(rw > 0, rw, 1)
        return sse_l, sse_r

    best_gain, best = 1e-12, None
    parent_imp = est._impurity_total(y, sw, n_out)
    total_w = sw.sum()
    for f in feats:
        order = np.argsort(X[:, f], kind="mergesort")
        xs, ys, ws = X[order, f], y[order], sw[order]
        cut = xs[:-1] != xs[1:]
        if not cut.any():
            continue
        left_imp, right_imp = prefix(ys, ws)
        gain = parent_imp - (left_imp + right_imp)
        gain[~cut] = -np.inf
        i = int(np.argmax(gain))
        if gain[i] > best_gain * total_w:
            best_gain = gain[i] / total_w
            best = (f, (xs[i] + xs[i + 1]) / 2.0, best_gain)
    return best


def _split_case(kind, n, d, k, weights, seed):
    rng = np.random.RandomState(seed)
    X = rng.standard_normal((n, d)) * 2
    if kind == "ints":
        X = np.round(X)  # a few levels per feature: many ties
    y = rng.randint(0, k, n) if k else X @ rng.standard_normal(d) + rng.standard_normal(n)
    if weights == "float":
        sw = rng.uniform(0.1, 3.0, n)
    elif weights == "bootstrap":
        sw = np.bincount(rng.randint(0, n, n), minlength=n).astype(np.float64)
    else:
        sw = np.ones(n)
    return X, y, sw


@pytest.mark.parametrize("k", [2, 4, 9, 0])  # 0: the regressor
@pytest.mark.parametrize("kind", ["float", "ints"])
@pytest.mark.parametrize("weights", ["ones", "float", "bootstrap"])
def test_best_split_matches_per_feature_reference(k, kind, weights):
    est = DecisionTreeClassifier() if k else DecisionTreeRegressor()
    n_out = k or 1
    for seed, n in enumerate((2, 3, 17, 240)):
        X, y, sw = _split_case(kind, n, 7, k, weights, seed)
        for feats in (np.arange(7), np.array([5, 0, 3]), np.array([2])):
            got = est._best_split(X, y, sw, feats, n_out)
            want = _reference_best_split(est, X, y, sw, feats, n_out)
            assert (got is None) == (want is None), (seed, feats)
            if want is not None:
                assert got[0] == want[0]
                assert np.float64(got[1]).tobytes() == np.float64(want[1]).tobytes()
                assert np.float64(got[2]).tobytes() == np.float64(want[2]).tobytes()


def test_min_samples_leaf_scores_only_valid_positions():
    """The best split among positions leaving min_samples_leaf rows a
    side is taken, not refused because a better invalid one exists."""
    X = np.arange(42, dtype=np.float64).reshape(-1, 1)
    y = np.isin(np.arange(42), [0, 2, 40, 41]).astype(int)
    one = DecisionTreeClassifier(max_depth=1, min_samples_leaf=1).fit(X, y)
    assert one.tree_.feature[0] == 0 and one.tree_.threshold[0] == 39.5
    three = DecisionTreeClassifier(max_depth=1, min_samples_leaf=3).fit(X, y)
    assert three.tree_.feature[0] == 0 and three.tree_.threshold[0] == 2.5
    assert sorted(np.bincount(three.apply(X))[1:]) == [3, 39]


@pytest.mark.parametrize("leaf", [3, 5, 13])
@pytest.mark.parametrize("k", [3, 0])
def test_min_samples_leaf_root_split_matches_brute_force(leaf, k):
    """Root split against every threshold scored from scratch; every
    leaf of the grown tree keeps at least ``leaf`` rows. The two rows
    lowest on feature 0 get a heavy label of their own, so the best
    split overall isolates them and is too small."""
    X, y, sw = _split_case("float", 120, 4, k, "float", leaf)
    low = np.argsort(X[:, 0])[:2]
    y[low] = k if k else y.max() + 40
    sw[low] = 30.0
    k = k and k + 1
    est = DecisionTreeClassifier if k else DecisionTreeRegressor

    def impurity(rows):
        w = sw[rows]
        if k:
            p = np.bincount(y[rows], weights=w, minlength=k) / w.sum()
            return w.sum() * (1 - np.sum(p**2))
        return np.sum(w * (y[rows] - np.average(y[rows], weights=w)) ** 2)

    best = None
    for f in range(4):
        xs = np.unique(X[:, f])
        for thr in (xs[:-1] + xs[1:]) / 2:
            left = X[:, f] <= thr
            if min(left.sum(), (~left).sum()) < leaf:
                continue
            child = impurity(np.flatnonzero(left)) + impurity(np.flatnonzero(~left))
            if best is None or child < best[0] - 1e-9:
                best = (child, f, thr)
    root = est(max_depth=1, min_samples_leaf=leaf).fit(X, y, sample_weight=sw)
    assert (root.tree_.feature[0], root.tree_.threshold[0]) == best[1:]
    sizes = np.bincount(est(min_samples_leaf=leaf).fit(X, y, sample_weight=sw).apply(X))
    assert sizes[sizes > 0].min() >= leaf


@pytest.mark.parametrize("cls", [DecisionTreeClassifier, DecisionTreeRegressor])
def test_min_samples_leaf_counts_positive_weight_rows(cls):
    """Bootstrap counts as weights: a zero-weight row is out of the
    sample, so every leaf holds min_samples_leaf rows of positive weight;
    all-positive weights grow the tree that unit weights grow."""
    rng = np.random.RandomState(0)
    X = rng.standard_normal((300, 4))
    y = rng.randint(0, 3, 300) if cls is DecisionTreeClassifier else X @ rng.standard_normal(4)
    counts = np.bincount(rng.randint(0, 300, 300), minlength=300).astype(np.float64)
    tree = cls(min_samples_leaf=5, random_state=0).fit(X, y, sample_weight=counts)
    leaves = tree.apply(X)
    per_leaf = np.bincount(leaves[counts > 0])
    assert per_leaf[np.unique(leaves)].min() >= 5
    assert len(np.unique(leaves)) > 4
    ones = cls(min_samples_leaf=5, random_state=0).fit(X, y, sample_weight=np.ones(300))
    unweighted = cls(min_samples_leaf=5, random_state=0).fit(X, y)
    assert _tree_arrays(ones) == _tree_arrays(unweighted)


@pytest.mark.parametrize("cls", [DecisionTreeClassifier, DecisionTreeRegressor])
def test_min_samples_split_counts_positive_weight_rows(cls):
    """Bootstrap counts as weights: only rows of positive weight count
    toward min_samples_split, so no split node holds fewer sampled rows;
    all-positive weights grow the tree that unit weights grow."""
    rng = np.random.RandomState(0)
    X = rng.standard_normal((300, 4))
    y = rng.randint(0, 3, 300) if cls is DecisionTreeClassifier else X @ rng.standard_normal(4)
    counts = np.bincount(rng.randint(0, 300, 300), minlength=300).astype(np.float64)
    t = cls(min_samples_split=20, random_state=0).fit(X, y, sample_weight=counts).tree_
    # every node each sampled row passes through, leaves included
    n_pos = np.zeros(len(t.feature), dtype=np.int64)
    for row in X[counts > 0]:
        node = 0
        while True:
            n_pos[node] += 1
            if t.feature[node] < 0:
                break
            go_left = row[t.feature[node]] <= t.threshold[node]
            node = t.left[node] if go_left else t.right[node]
    split = np.asarray(t.feature) >= 0
    assert split.sum() > 4
    assert n_pos[split].min() >= 20
    ones = cls(min_samples_split=20, random_state=0).fit(X, y, sample_weight=np.ones(300))
    unweighted = cls(min_samples_split=20, random_state=0).fit(X, y)
    assert _tree_arrays(ones) == _tree_arrays(unweighted)


@pytest.mark.parametrize("split, leaf", [(2, 1), (20, 5)])
@pytest.mark.parametrize("cls", [DecisionTreeClassifier, DecisionTreeRegressor])
def test_bootstrap_weights_fit_in_bag_rows_only(cls, split, leaf):
    """Rows of zero weight are out of the fit: bootstrap counts as
    weights grow the tree that the in-bag rows alone, weighted by their
    counts, grow (thresholds, values and the feature draws alike)."""
    rng = np.random.RandomState(4)
    X = np.round(rng.standard_normal((400, 6)) * 3)  # ties across the bag edge
    y = rng.randint(0, 3, 400) if cls is DecisionTreeClassifier else X @ rng.standard_normal(6)
    counts = np.bincount(rng.randint(0, 400, 400), minlength=400).astype(np.float64)
    bag = counts > 0
    make = lambda: cls(min_samples_split=split, min_samples_leaf=leaf,
                       max_features=0.5, random_state=1)
    full = make().fit(X, y, sample_weight=counts)
    in_bag = make().fit(X[bag], y[bag], sample_weight=counts[bag])
    assert (~bag).sum() > 100 and len(full.tree_.feature) > 9
    assert _tree_arrays(full) == _tree_arrays(in_bag)


def _tree_arrays(est):
    t = est.tree_
    return (np.asarray(t.feature).tobytes(), np.asarray(t.threshold).tobytes(),
            np.asarray(t.left).tobytes(), np.asarray(t.right).tobytes(),
            np.asarray(t.value).tobytes(), est.feature_importances_.tobytes())


@pytest.mark.parametrize("k", [4, 9, 0])
def test_split_search_feature_chunks_give_same_tree(monkeypatch, k):
    """A block budget far below one node's size splits every node's
    feature set into chunks of one or two features; the tree is the same."""
    from skdist_spark.ml import tree as tree_mod

    X, y, sw = _split_case("ints", 400, 6, k, "bootstrap", 7)
    make = (lambda: DecisionTreeClassifier(max_depth=6, max_features=0.5, random_state=2)) if k \
        else (lambda: DecisionTreeRegressor(max_depth=6, random_state=2))
    whole = make().fit(X, y, sample_weight=sw)
    n_out = k or 1
    monkeypatch.setattr(tree_mod, "_SPLIT_BLOCK_ELEMS", 2 * 400 * n_out)
    chunked = make().fit(X, y, sample_weight=sw)
    monkeypatch.setattr(tree_mod, "_SPLIT_BLOCK_ELEMS", 1)
    single = make().fit(X, y, sample_weight=sw)
    assert len(whole.tree_.feature) > 7
    assert _tree_arrays(chunked) == _tree_arrays(whole)
    assert _tree_arrays(single) == _tree_arrays(whole)


def test_tree_predict_matches_per_row_lookup():
    X, y, sw = _split_case("float", 500, 5, 4, "float", 3)
    clf = DecisionTreeClassifier(max_depth=5).fit(X, y, sample_weight=sw)
    nodes = clf.apply(X)
    per_row = np.array([clf.tree_.value[i] for i in nodes], dtype=np.float64)
    assert clf.predict_proba(X).tobytes() == per_row.tobytes()
    X, y_reg, _ = _split_case("float", 500, 5, 0, "ones", 3)
    reg = DecisionTreeRegressor(max_depth=5).fit(X, y_reg)
    nodes = reg.apply(X)
    per_row = np.array([reg.tree_.value[i][0] for i in nodes])
    assert reg.predict(X).tobytes() == per_row.tobytes()


@pytest.mark.parametrize("k", [2, 4, 9])
def test_softmax_bit_equal_to_axis_reductions(k):
    from skdist_spark.ml.linear import _softmax

    rng = np.random.RandomState(k)
    z = rng.standard_normal((1000, k)) * 30
    shifted = z - z.max(axis=1, keepdims=True)
    e = np.exp(shifted)
    expected = e / e.sum(axis=1, keepdims=True)
    assert _softmax(z.copy()).tobytes() == expected.tobytes()
