"""Distributed meta-estimator tests (mirrors reference test suites
skdist/distribute/tests/test_search.py, test_multiclass.py,
test_ensemble.py, test_eliminate.py, test_predict.py)."""

import pickle

import numpy as np
import pytest

from skdist_spark.ml import (
    DecisionTreeClassifier,
    DecisionTreeRegressor,
    LogisticRegression,
    Ridge,
    log_loss,
)
from skdist_spark.ml.base import clone
from skdist_spark.operators import (
    DistExtraTreesClassifier,
    DistExtraTreesRegressor,
    DistFeatureEliminator,
    DistGridSearchCV,
    DistMultiModelSearch,
    DistOneVsOneClassifier,
    DistOneVsRestClassifier,
    DistRandomForestClassifier,
    DistRandomForestRegressor,
    DistRandomTreesEmbedding,
    DistRandomizedSearchCV,
    get_prediction_udf,
)


def _blobs(n=240, d=6, k=3, seed=1):
    rng = np.random.RandomState(seed)
    centers = rng.randn(k, d) * 4
    y = rng.randint(0, k, n)
    X = centers[y] + rng.randn(n, d)
    return X, y


@pytest.fixture(scope="module")
def data():
    return _blobs()


def test_grid_search_spark_matches_local(spark, data):
    X, y = data
    grid = {"C": [0.1, 1.0], "max_iter": [60, 120]}
    local = DistGridSearchCV(LogisticRegression(), grid, sc=None, cv=3).fit(X, y)
    dist = DistGridSearchCV(LogisticRegression(), grid, sc=spark, cv=3).fit(X, y)
    assert dist.best_params_ == local.best_params_
    np.testing.assert_allclose(
        dist.cv_results_["mean_test_score"], local.cv_results_["mean_test_score"]
    )
    assert dist.best_score_ > 0.8
    assert len(dist.cv_results_["params"]) == 4
    assert set(dist.cv_results_) >= {
        "mean_test_score", "std_test_score", "rank_test_score",
        "mean_fit_time", "params", "param_C",
    }
    # spark artifacts stripped -> picklable (reference README guarantee)
    blob = pickle.dumps(dist)
    assert pickle.loads(blob).predict(X).shape == y.shape


def test_grid_search_multimetric(spark, data):
    """Multimetric scoring (reference utils.py:18-143): per-metric
    cv_results_ columns, refit by the named metric, and each metric's
    column equal to the same search run single-metric."""
    X, y = data
    grid = {"C": [0.1, 1.0], "max_iter": [60, 120]}
    m = DistGridSearchCV(
        LogisticRegression(), grid, sc=spark, cv=3,
        scoring=["accuracy", "f1_macro"], refit="accuracy",
        return_train_score=True,
    ).fit(X, y)
    assert m.multimetric_ is True
    for metric in ("accuracy", "f1_macro"):
        for key in (f"mean_test_{metric}", f"std_test_{metric}",
                    f"rank_test_{metric}", f"split0_test_{metric}",
                    f"mean_train_{metric}"):
            assert key in m.cv_results_, key

    for metric in ("accuracy", "f1_macro"):
        single = DistGridSearchCV(
            LogisticRegression(), grid, sc=None, cv=3, scoring=metric
        ).fit(X, y)
        np.testing.assert_allclose(
            m.cv_results_[f"mean_test_{metric}"],
            single.cv_results_["mean_test_score"],
        )

    # refit metric drives best_* and score()
    acc = DistGridSearchCV(
        LogisticRegression(), grid, sc=None, cv=3, scoring="accuracy"
    ).fit(X, y)
    assert m.best_params_ == acc.best_params_
    assert m.best_score_ == acc.best_score_
    assert m.score(X, y) == pytest.approx(
        m.scorer_["accuracy"](m.best_estimator_, X, y)
    )

    # dict scoring with a callable scorer
    m2 = DistGridSearchCV(
        LogisticRegression(), {"C": [0.1, 1.0]}, sc=spark, cv=3,
        scoring={"acc": "accuracy", "neg_ll": "neg_log_loss"}, refit="neg_ll",
    ).fit(X, y)
    assert "mean_test_neg_ll" in m2.cv_results_
    assert m2.best_estimator_ is not None

    # invalid refit must fail loudly
    with pytest.raises(ValueError, match="refit"):
        DistGridSearchCV(
            LogisticRegression(), grid, cv=3,
            scoring=["accuracy", "f1_macro"], refit=True,
        ).fit(X, y)


def _noisy(n=240, d=5, k=3, seed=6):
    """Overlapping classes, so fold scores vary and weights change them."""
    rng = np.random.RandomState(seed)
    X = rng.randn(n, d)
    y = np.argmax(X[:, :k] + rng.randn(n, k) * 0.8, axis=1)
    return X, y, rng.uniform(0.2, 3.0, n)


def _cv_folds(X, y, cv=3):
    from skdist_spark.ml.model_selection import check_cv

    return list(check_cv(cv, y, classifier=True).split(X, y))


def test_grid_search_preds(spark, data):
    X, y = data
    m = DistGridSearchCV(
        LogisticRegression(), {"C": [1.0]}, sc=spark, cv=3, preds=True
    ).fit(X, y)
    assert m.get_preds().shape == (len(y), 3)
    local = DistGridSearchCV(
        LogisticRegression(), {"C": [1.0]}, sc=None, cv=3, preds=True
    ).fit(X, y)
    assert m.get_preds().tobytes() == local.get_preds().tobytes()
    m.drop_preds()
    assert m.get_preds() is None

    # the fold fits take the search's fit params, sliced to the fold
    X, y, sw = _noisy()
    grid = {"C": [0.05, 1.0]}
    kw = dict(cv=3, preds=True, scoring="neg_log_loss")
    dist = DistGridSearchCV(LogisticRegression(max_iter=80), grid, sc=spark, **kw)
    dist.fit(X, y, sample_weight=sw)
    serial = DistGridSearchCV(LogisticRegression(max_iter=80), grid, sc=None, **kw)
    serial.fit(X, y, sample_weight=sw)
    by_hand = np.vstack([
        LogisticRegression(max_iter=80, **dist.best_params_)
        .fit(X[tr], y[tr], sample_weight=sw[tr]).predict_proba(X[te])
        for tr, te in _cv_folds(X, y)
    ])
    assert dist.preds_.shape == (len(y), 3)
    assert dist.preds_.tobytes() == serial.preds_.tobytes()
    assert dist.preds_.tobytes() == by_hand.tobytes()


def test_search_slices_sample_weight_to_fold(spark):
    """A per-row fit param is cut to each fold's train rows (scikit-learn's
    rule); the full-data refit gets all of it, other params pass through."""
    X, y, sw = _noisy()
    grid = {"C": [0.05, 1.0]}
    m = DistGridSearchCV(
        LogisticRegression(max_iter=80), grid, sc=spark, cv=3, scoring="neg_log_loss"
    ).fit(X, y, sample_weight=sw)
    folds = _cv_folds(X, y)
    for ci, C in enumerate(grid["C"]):
        for fi, (tr, te) in enumerate(folds):
            est = LogisticRegression(max_iter=80, C=C).fit(X[tr], y[tr], sample_weight=sw[tr])
            want = -log_loss(y[te], est.predict_proba(X[te]), labels=est.classes_)
            got = m.cv_results_[f"split{fi}_test_score"][ci]
            assert np.isfinite(got)
            np.testing.assert_allclose(got, want, rtol=1e-12)
    best = LogisticRegression(max_iter=80, **m.best_params_).fit(X, y, sample_weight=sw)
    assert m.best_estimator_.coef_.tobytes() == best.coef_.tobytes()

    # the feature eliminator's subset fits take the same slice
    e = DistFeatureEliminator(
        LogisticRegression(max_iter=80), sc=spark, min_features_to_select=3, step=2, cv=3
    ).fit(X, y, sample_weight=sw)
    keep = e.best_features_
    want = np.mean([
        LogisticRegression(max_iter=80).fit(X[tr][:, keep], y[tr], sample_weight=sw[tr])
        .score(X[te][:, keep], y[te])
        for tr, te in folds
    ])
    np.testing.assert_allclose(e.best_score_, want, rtol=1e-12)


def test_fold_fit_params_slices_per_row_params_only():
    from skdist_spark.operators._engine import fold_fit_params

    X = np.zeros((5, 2))
    idx = np.array([0, 3])
    out = fold_fit_params(
        X, {"sample_weight": np.arange(5.0), "groups": list("abcde"), "n": 5, "tag": "x"}, idx
    )
    assert out["sample_weight"].tolist() == [0.0, 3.0]
    assert list(out["groups"]) == ["a", "d"]
    assert out["n"] == 5 and out["tag"] == "x"


def test_randomized_search(spark, data):
    X, y = data
    m = DistRandomizedSearchCV(
        LogisticRegression(),
        {"C": [0.01, 0.1, 1.0, 10.0], "lr": [0.05, 0.1, 0.2]},
        sc=spark,
        n_iter=5,
        cv=3,
        random_state=42,
    ).fit(X, y)
    assert len(m.cv_results_["params"]) == 5
    assert m.best_score_ > 0.8


def test_multi_model_search(spark, data):
    X, y = data
    models = [
        ("lr", LogisticRegression(), {"C": [0.1, 1.0]}),
        ("tree", DecisionTreeClassifier(), {"max_depth": [3, 6]}),
    ]
    m = DistMultiModelSearch(models, sc=spark, n=2, cv=3, random_state=0).fit(X, y)
    assert m.best_model_name_ in ("lr", "tree")
    assert 0 < m.best_score_ <= 1
    assert len(m.cv_results_["model_name"]) == 4
    assert m.predict(X).shape == y.shape


@pytest.mark.parametrize("weighted", [False, True])
def test_multi_model_search_exact(spark, weighted):
    """Spark and serial fits agree bit for bit, and every candidate's
    mean score is the mean of hand-made fold fits (weights sliced)."""
    X, y, sw = _noisy()
    fit_params = {"sample_weight": sw} if weighted else {}
    models = [
        ("lr", LogisticRegression(max_iter=80), {"C": [0.05, 1.0]}),
        ("tree", DecisionTreeClassifier(random_state=0), {"max_depth": [2, 4, 6]}),
    ]
    kw = dict(n=2, cv=3, random_state=3, scoring="neg_log_loss")
    dist = DistMultiModelSearch(models, sc=spark, **kw).fit(X, y, **fit_params)
    serial = DistMultiModelSearch(models, sc=None, **kw).fit(X, y, **fit_params)
    assert dist.cv_results_ == serial.cv_results_
    for attr in ("best_index_", "best_model_index_", "best_model_name_",
                 "best_params_", "best_score_"):
        assert getattr(dist, attr) == getattr(serial, attr), attr
    assert dist.predict_proba(X).tobytes() == serial.predict_proba(X).tobytes()

    res = dist.cv_results_
    assert res["model_index"] == [0, 0, 1, 1]
    for ci, (mi, params) in enumerate(zip(res["model_index"], res["params"])):
        fold_scores = []
        for tr, te in _cv_folds(X, y):
            est = clone(models[mi][1]).set_params(**params)
            est.fit(X[tr], y[tr], **{k: v[tr] for k, v in fit_params.items()})
            fold_scores.append(-log_loss(y[te], est.predict_proba(X[te]), labels=est.classes_))
        np.testing.assert_allclose(res["mean_test_score"][ci], np.mean(fold_scores), rtol=1e-12)
    assert dist.best_index_ == int(np.argmax(res["mean_test_score"]))
    best = clone(models[dist.best_model_index_][1]).set_params(**dist.best_params_)
    best.fit(X, y, **fit_params)
    assert dist.predict_proba(X).tobytes() == best.predict_proba(X).tobytes()


def test_multi_model_search_without_refit_raises_like_grid_search(data):
    X, y = data
    models = [("lr", LogisticRegression(), {"C": [0.1, 1.0]})]
    m = DistMultiModelSearch(models, n=2, cv=3, refit=False).fit(X, y)
    g = DistGridSearchCV(LogisticRegression(), {"C": [0.1, 1.0]}, cv=3, refit=False).fit(X, y)
    with pytest.raises(RuntimeError) as grid_err:
        g.predict(X)
    with pytest.raises(RuntimeError) as multi_err:
        m.predict(X)
    assert str(multi_err.value) == str(grid_err.value)


class _FailsAtHalf(LogisticRegression):
    """A LogisticRegression whose fit raises at C=0.5."""

    def fit(self, X, y, sample_weight=None):
        if self.C == 0.5:
            raise ValueError("fit fails at C=0.5")
        return super().fit(X, y, sample_weight)


@pytest.mark.parametrize("on_spark", [False, True])
def test_failed_candidate_never_wins_the_search(spark, data, on_spark):
    """A failed fit scores NaN (``error_score``): its candidates tie at
    the worst rank, and the best index follows the rank, so neither
    search picks (nor refits) a failed candidate."""
    X, y = data
    sc = spark if on_spark else None
    grid = DistGridSearchCV(
        _FailsAtHalf(max_iter=80), {"C": [1.0, 0.5, 2.0], "max_iter": [40, 80]}, sc=sc, cv=3
    ).fit(X, y)
    res = grid.cv_results_
    failed = [i for i, p in enumerate(res["params"]) if p["C"] == 0.5]
    assert failed == [2, 3] and np.isnan(res["mean_test_score"][failed]).all()
    assert list(res["rank_test_score"][failed]) == [5, 5]
    assert res["rank_test_score"][grid.best_index_] == 1
    assert grid.best_score_ == np.nanmax(res["mean_test_score"])
    assert grid.best_params_["C"] != 0.5

    models = [
        ("failing", _FailsAtHalf(max_iter=80), {"C": [0.5]}),
        ("tree", DecisionTreeClassifier(random_state=0), {"max_depth": [2, 4]}),
    ]
    multi = DistMultiModelSearch(models, sc=sc, n=2, cv=3, random_state=0).fit(X, y)
    res = multi.cv_results_
    assert np.isnan(res["mean_test_score"][0])
    assert res["rank_test_score"][0] == 3
    assert multi.best_model_name_ == "tree" and res["rank_test_score"][multi.best_index_] == 1
    assert multi.best_score_ == np.nanmax(res["mean_test_score"])


def test_ovr(spark, data):
    X, y = data
    m = DistOneVsRestClassifier(LogisticRegression(), sc=spark).fit(X, y)
    assert len(m.estimators_) == 3
    acc = np.mean(m.predict(X) == y)
    assert acc > 0.85
    proba = m.predict_proba(X)
    np.testing.assert_allclose(proba.sum(axis=1), 1.0, atol=1e-6)
    # meta-estimator base: inner grid search unwraps to best_estimator_
    inner = DistGridSearchCV(LogisticRegression(), {"C": [0.1, 1.0]}, cv=3)
    m2 = DistOneVsRestClassifier(inner, sc=spark).fit(X, y)
    assert type(m2.estimators_[0]).__name__ == "LogisticRegression"


def test_ovr_max_negatives(spark, data):
    X, y = data
    m = DistOneVsRestClassifier(
        LogisticRegression(), sc=spark, max_negatives=1.5, method="ratio", random_state=0
    ).fit(X, y)
    assert np.mean(m.predict(X) == y) > 0.7

    # a per-row fit param is cut to the down-sampled rows of each class
    X, y, sw = _noisy()
    m = DistOneVsRestClassifier(
        LogisticRegression(max_iter=80), sc=spark, max_negatives=1.0, random_state=0
    ).fit(X, y, sample_weight=sw)
    for cls, est in zip(m.classes_, m.estimators_):
        y_bin = (y == cls).astype(np.int64)
        pos, neg = np.flatnonzero(y_bin == 1), np.flatnonzero(y_bin == 0)
        assert len(pos) < len(neg)  # the down-sampling path runs
        neg = np.random.RandomState(0).choice(neg, size=len(pos), replace=False)
        idx = np.sort(np.concatenate([pos, neg]))
        want = LogisticRegression(max_iter=80).fit(X[idx], y_bin[idx], sample_weight=sw[idx])
        assert est.coef_.tobytes() == want.coef_.tobytes()


def test_ovo(spark, data):
    X, y = data
    m = DistOneVsOneClassifier(LogisticRegression(), sc=spark).fit(X, y)
    assert len(m.estimators_) == 3  # C(3,2)
    assert np.mean(m.predict(X) == y) > 0.85

    # a per-row fit param is cut to each class pair's rows
    X, y, sw = _noisy()
    m = DistOneVsOneClassifier(LogisticRegression(max_iter=80), sc=spark)
    m.fit(X, y, sample_weight=sw)
    for (a, b), est in zip(m.pairs_, m.estimators_):
        idx = np.flatnonzero((y == a) | (y == b))
        want = LogisticRegression(max_iter=80).fit(
            X[idx], (y[idx] == b).astype(np.int64), sample_weight=sw[idx]
        )
        assert est.coef_.tobytes() == want.coef_.tobytes()


def test_forest_classifier(spark, data):
    X, y = data
    m = DistRandomForestClassifier(
        n_estimators=20, sc=spark, max_depth=6, random_state=7
    ).fit(X, y)
    assert len(m.estimators_) == 20
    assert np.mean(m.predict(X) == y) > 0.9
    # determinism under fixed seed
    m2 = DistRandomForestClassifier(
        n_estimators=20, sc=spark, max_depth=6, random_state=7
    ).fit(X, y)
    np.testing.assert_array_equal(m.predict_proba(X), m2.predict_proba(X))


def test_forest_classifier_spark_matches_serial(spark, data):
    """A forest's trees fit the same on Spark tasks as serially."""
    X, y = data
    kw = dict(n_estimators=6, max_depth=6, max_features=0.5, min_samples_leaf=3, random_state=7)
    dist = DistRandomForestClassifier(sc=spark, **kw).fit(X, y)
    serial = DistRandomForestClassifier(sc=None, **kw).fit(X, y)
    assert dist.predict_proba(X).tobytes() == serial.predict_proba(X).tobytes()
    for a, b in zip(dist.estimators_, serial.estimators_):
        assert (a.tree_.threshold, a.tree_.feature) == (b.tree_.threshold, b.tree_.feature)


def test_forest_regressor(spark):
    rng = np.random.RandomState(3)
    X = rng.randn(300, 5)
    y = X @ np.array([2.0, -1.0, 0.5, 0.0, 1.0]) + 0.1 * rng.randn(300)
    m = DistRandomForestRegressor(n_estimators=20, sc=spark, max_depth=8, random_state=1).fit(X, y)
    assert m.score(X, y) > 0.8


def _tree_output(model, X):
    return model.predict_proba(X) if hasattr(model, "predict_proba") else model.predict(X)


@pytest.mark.parametrize("cls", [DistRandomForestClassifier, DistRandomForestRegressor,
                                 DistExtraTreesClassifier, DistExtraTreesRegressor])
def test_forest_trees_use_sample_weight(spark, cls):
    """Each tree fits with its bootstrap counts times ``sample_weight``
    (the weights alone without bootstrap), seeded as the forest seeds it."""
    X, y, sw = _noisy()
    regress = cls in (DistRandomForestRegressor, DistExtraTreesRegressor)
    if regress:
        y = X @ np.arange(1.0, 6.0) + np.random.RandomState(0).randn(len(y))
    tree_cls = DecisionTreeRegressor if regress else DecisionTreeClassifier
    kw = dict(n_estimators=4, max_depth=5, max_features=0.6, random_state=3)
    seeds = [int(s) % (2**31 - 1) for s in np.random.SeedSequence(3).generate_state(4)]
    plain = cls(sc=spark, **kw).fit(X, y)
    weighted = cls(sc=spark, **kw).fit(X, y, sample_weight=sw)
    for w, forest in ((None, plain), (sw, weighted)):
        for seed, tree in zip(seeds, forest.estimators_):
            tree_w = w
            if forest.bootstrap:
                counts = np.bincount(np.random.RandomState(seed).randint(0, len(y), len(y)),
                                     minlength=len(y)).astype(np.float64)
                tree_w = counts if w is None else counts * w
            want = tree_cls(max_depth=5, max_features=0.6, random_state=seed)
            want.fit(X, y, sample_weight=tree_w)
            assert _tree_output(tree, X).tobytes() == _tree_output(want, X).tobytes()
    assert _tree_output(weighted, X).tobytes() != _tree_output(plain, X).tobytes()


def test_random_trees_embedding(spark, data):
    X, _ = data
    m = DistRandomTreesEmbedding(n_estimators=8, sc=spark, max_depth=4, random_state=0).fit(X)
    T = m.transform(X)
    assert T.shape == (len(X), m.n_output_features_)
    # exactly one active leaf per tree per row
    assert np.all(T.sum(axis=1) == 8)


@pytest.mark.parametrize("leaf", [1, 3])
def test_random_trees_embedding_trees_use_sample_weight(spark, leaf):
    """Each tree is a max_features=1 regressor on uniform noise drawn
    from its seed, fit on ``sample_weight`` (no bootstrap); without
    weights it is the tree the embedding always grew."""
    X, _, sw = _noisy()
    kw = dict(n_estimators=4, max_depth=4, min_samples_leaf=leaf, random_state=5)
    seeds = [int(s) % (2**31 - 1) for s in np.random.SeedSequence(5).generate_state(4)]
    plain = DistRandomTreesEmbedding(sc=spark, **kw).fit(X)
    weighted = DistRandomTreesEmbedding(sc=spark, **kw).fit(X, sample_weight=sw)
    for w, emb in ((None, plain), (sw, weighted)):
        for seed, tree in zip(seeds, emb.estimators_):
            want = DecisionTreeRegressor(max_depth=4, max_features=1, min_samples_leaf=leaf,
                                         random_state=seed)
            want.fit(X, np.random.RandomState(seed).uniform(size=len(X)), sample_weight=w)
            assert tree.predict(X).tobytes() == want.predict(X).tobytes()
            assert np.asarray(tree.tree_.threshold).tobytes() == \
                np.asarray(want.tree_.threshold).tobytes()
    assert plain.transform(X).tobytes() != weighted.transform(X).tobytes()


def test_random_trees_embedding_transform_matches_per_row_mapping():
    """One-hot leaf columns: trees in order, each tree's leaves in node-id order."""
    X, _, _ = _noisy()
    m = DistRandomTreesEmbedding(n_estimators=6, max_depth=4, random_state=2).fit(X)
    want = np.zeros((len(X), m.n_output_features_))
    offset = 0
    for est in m.estimators_:
        leaves = sorted(i for i, f in enumerate(est.tree_.feature) if f == -1)
        column = {node: offset + j for j, node in enumerate(leaves)}
        for i, node in enumerate(est.apply(X)):
            want[i, column[int(node)]] = 1.0
        offset += len(leaves)
    assert offset == m.n_output_features_
    assert m.transform(X).tobytes() == want.tobytes()
    assert m.transform(X[:7]).tobytes() == want[:7].tobytes()


def test_feature_eliminator(spark):
    rng = np.random.RandomState(0)
    X_good, y = _blobs(n=200, d=4, k=2, seed=5)
    X = np.hstack([X_good, rng.randn(200, 6)])  # 6 noise features
    m = DistFeatureEliminator(
        LogisticRegression(), sc=spark, min_features_to_select=2, step=2, cv=3
    ).fit(X, y)
    assert m.n_features_ <= 10
    assert m.best_score_ > 0.85
    assert m.predict(X).shape == y.shape


@pytest.mark.parametrize("weighted", [False, True])
def test_feature_eliminator_exact(spark, weighted):
    """Spark and serial fits agree bit for bit, and every keep-set's
    score is the mean of hand-made fold fits on its columns."""
    X, y, sw = _noisy(d=7)
    fit_params = {"sample_weight": sw} if weighted else {}
    kw = dict(min_features_to_select=3, step=2, cv=3, scoring="neg_log_loss")
    dist = DistFeatureEliminator(LogisticRegression(max_iter=80), sc=spark, **kw)
    dist.fit(X, y, **fit_params)
    serial = DistFeatureEliminator(LogisticRegression(max_iter=80), sc=None, **kw)
    serial.fit(X, y, **fit_params)
    assert dist.scores_ == serial.scores_
    assert dist.best_score_ == serial.best_score_
    assert dist.best_features_.tolist() == serial.best_features_.tolist()
    assert dist.best_estimator_.coef_.tobytes() == serial.best_estimator_.coef_.tobytes()

    # keep-sets by hand: drop the 2, then 4 features of least squared coef
    coef = LogisticRegression(max_iter=80).fit(X, y, **fit_params).coef_
    ranks = np.argsort((coef**2).sum(axis=0))
    keep_sets = [np.delete(np.arange(7), ranks[:r]) for r in (0, 2, 4)]
    assert len(dist.scores_) == len(keep_sets)
    for keep, got in zip(keep_sets, dist.scores_):
        fold_scores = []
        for tr, te in _cv_folds(X, y):
            est = LogisticRegression(max_iter=80).fit(
                X[tr][:, keep], y[tr], **{k: v[tr] for k, v in fit_params.items()}
            )
            fold_scores.append(
                -log_loss(y[te], est.predict_proba(X[te][:, keep]), labels=est.classes_)
            )
        np.testing.assert_allclose(got, np.mean(fold_scores), rtol=1e-12)
    best = int(np.argmax(dist.scores_))
    assert dist.best_features_.tolist() == keep_sets[best].tolist()
    want = LogisticRegression(max_iter=80).fit(X[:, keep_sets[best]], y, **fit_params)
    assert dist.best_estimator_.coef_.tobytes() == want.coef_.tobytes()


@pytest.mark.parametrize("weighted", [False, True])
def test_searches_spark_match_serial_exactly(spark, weighted):
    """Grid and randomized search: every non-timing ``cv_results_``
    column, ``best_*`` and ``preds_`` are equal with and without Spark."""
    X, y, sw = _noisy()
    fit_params = {"sample_weight": sw} if weighted else {}
    kw = dict(cv=3, scoring=["accuracy", "neg_log_loss"], refit="neg_log_loss",
              return_train_score=True, preds=True)
    makers = [
        lambda sc: DistGridSearchCV(
            LogisticRegression(max_iter=80), {"C": [0.05, 1.0]}, sc=sc, **kw),
        lambda sc: DistRandomizedSearchCV(
            LogisticRegression(max_iter=80), {"C": [0.01, 0.1, 1.0], "lr": [0.05, 0.1]},
            sc=sc, n_iter=3, random_state=4, **kw),
    ]
    for make in makers:
        dist = make(spark).fit(X, y, **fit_params)
        serial = make(None).fit(X, y, **fit_params)
        keys = [k for k in serial.cv_results_ if not k.endswith("_time")]
        assert keys == [k for k in dist.cv_results_ if not k.endswith("_time")]
        for k in keys:
            got, want = dist.cv_results_[k], serial.cv_results_[k]
            if isinstance(want, np.ndarray) and want.dtype != object:
                assert got.dtype == want.dtype and got.tobytes() == want.tobytes(), k
            else:
                assert list(got) == list(want), k
        assert (dist.best_index_, dist.best_params_, dist.best_score_) == (
            serial.best_index_, serial.best_params_, serial.best_score_)
        assert dist.preds_.tobytes() == serial.preds_.tobytes()
        assert dist.best_estimator_.coef_.tobytes() == serial.best_estimator_.coef_.tobytes()


def test_prediction_udf_numpy(spark, data):
    import pandas as pd
    from pyspark.sql import functions as F

    X, y = data
    model = LogisticRegression().fit(X, y)
    sdf = spark.createDataFrame(pd.DataFrame(X, columns=[f"f{i}" for i in range(X.shape[1])]))
    predict = get_prediction_udf(model, method="predict")
    predict_proba = get_prediction_udf(model, method="predict_proba")
    cols = [F.col(c) for c in sdf.columns]
    out = (
        sdf.withColumn("pred", predict(*cols))
        .withColumn("scores", predict_proba(*cols))
        .select("pred", "scores")
        .toPandas()
    )
    assert len(out) == len(X)
    local_preds = model.predict(X)
    np.testing.assert_array_equal(np.sort(out["pred"].unique()), np.unique(local_preds))
    agree = np.mean(out["pred"].values == local_preds)
    assert agree > 0.99  # row order preserved in local mode
    np.testing.assert_allclose(np.vstack(out["scores"].values).sum(axis=1), 1.0, atol=1e-6)


def test_prediction_udf_rejects_unknown_method(data):
    model = LogisticRegression().fit(*data)
    with pytest.raises(ValueError, match="Unknown method"):
        get_prediction_udf(model, method="decision_function")


def test_prediction_udf_text(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    # hashing-features text classifier through the 'text' feature path
    class HashModel:
        classes_ = np.array(["neg", "pos"])

        def predict(self, texts):
            return np.where([("good" in t) for t in texts], "pos", "neg")

    sdf = spark.createDataFrame(pd.DataFrame({"txt": ["good day", "bad day"] * 10}))
    predict = get_prediction_udf(HashModel(), method="predict", feature_type="text")
    out = sdf.withColumn("pred", predict(F.col("txt"))).toPandas()
    assert set(out["pred"]) == {"pos", "neg"}


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    from collections import defaultdict

    from skdist_spark.operators import similarity

    ex, iv = defaultdict(set), defaultdict(set)
    for r in similarity.ann_topk(spark, sf_dir).collect():
        ex[r.query_id].add(r.neighbor_id)
    for r in similarity.ann_ivf(spark, sf_dir).collect():
        iv[r.query_id].add(r.neighbor_id)
    assert set(iv) == set(ex)
    assert all(len(v) == similarity.TOP_K for v in iv.values())
    recalls = [len(ex[q] & iv[q]) / len(ex[q]) for q in ex]
    # nprobe/nlist = 4/16 on weakly-clustered synthetic vectors; the
    # floor guards the plumbing (cell assignment + probing), not tuning
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_generic_dedup_apis_on_renamed_frame(spark, sf_dir):
    """The DataFrame-level dedup APIs must work on arbitrary column
    names, and agree with the fixed driver queries on the same data."""
    from pyspark.sql import functions as F

    from skdist_spark.operators import dedup
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("my_id"),
        F.col("text").alias("body"),
        F.col("source").alias("bucket"),
    )
    got = {r.my_id: r.is_dup for r in dedup.exact_dedup(docs, "my_id", "body").collect()}
    want = {r.doc_id: r.is_dup for r in dedup.dedup_exact(spark, sf_dir).collect()}
    assert got == want

    got_p = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_dedup(docs, "my_id", "body").collect()
    }
    want_p = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_minhash(spark, sf_dir).collect()
    }
    assert got_p == want_p

    got_j = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_dedup(docs, "my_id", "body", "bucket").collect()
    }
    want_j = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert got_j == want_j

    emb = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("v")
    )
    got_e = {
        (r.vec_a, r.vec_b) for r in dedup.embedding_dedup(emb, "eid", "v").collect()
    }
    want_e = {
        (r.vec_a, r.vec_b) for r in dedup.dedup_embedding(spark, sf_dir).collect()
    }
    assert got_e == want_e


def test_cosine_topk_generic_matches_ann_topk(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark.operators import similarity
    from skdist_spark.operators.similarity import cosine_topk
    from skdist_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("v")
    )
    queries = emb.where(F.col("eid") < similarity.N_QUERIES)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(queries, emb, id_col="eid", vec_col="v").collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in similarity.ann_topk(spark, sf_dir).collect()
    }
    assert got == want


def test_chunk_documents_covers_all_tokens(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark.operators.text import (
        CHUNK_STRIDE, CHUNK_TOKENS, chunk_documents,
    )
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    chunks = chunk_documents(docs).toPandas()
    toks = docs.select(
        "doc_id",
        F.size(F.expr("filter(split(trim(text), '\\\\s+'), x -> x != '')")).alias("n"),
    ).toPandas()
    n_by_doc = dict(zip(toks.doc_id, toks.n))
    for doc_id, grp in chunks.groupby("doc_id"):
        n = n_by_doc[doc_id]
        # every token position is inside some chunk window
        last_start = grp.chunk_id.max() * CHUNK_STRIDE
        assert last_start < n <= last_start + CHUNK_TOKENS
        # all but the last chunk are full-width
        full = grp[grp.chunk_id < grp.chunk_id.max()]
        assert (full.n_chunk_tokens == CHUNK_TOKENS).all() or n <= CHUNK_TOKENS


def test_sample_stratified_deterministic(spark, sf_dir):
    from skdist_spark.operators.text import (
        SAMPLE_DEFAULT_PERMILLE, SAMPLE_PERMILLE, sample_stratified,
    )
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    a = sample_stratified(docs, "doc_id", "lang", SAMPLE_PERMILLE, SAMPLE_DEFAULT_PERMILLE)
    b = sample_stratified(docs, "doc_id", "lang", SAMPLE_PERMILLE, SAMPLE_DEFAULT_PERMILLE)
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in b.collect())
    assert ids_a == ids_b and 0 < len(ids_a) < docs.count()


def test_edit_distance_join_matches_bruteforce(spark):
    """PassJoin losslessness: the segment-pigeonhole candidate join
    must find EXACTLY the pairs a brute-force O(n^2) levenshtein scan
    finds — same pairs, same distances — over a small-alphabet corpus
    dense in near-duplicates, including empty and length-<d strings
    (the segment-boundary edge cases)."""
    import itertools
    import random

    from skdist_spark.operators.setsim import edit_distance_join

    rng = random.Random(42)
    alphabet = "abc "
    rows = [
        (
            i,
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12))),
            rng.randint(0, 1),
        )
        for i in range(250)
    ]
    df = spark.createDataFrame(rows, "id int, s string, blk int")
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in edit_distance_join(
            df, "id", "s", max_dist=2, block_cols=("blk",)
        ).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {
        (ia, ib, lev(sa, sb))
        for (ia, sa, ba), (ib, sb, bb) in itertools.combinations(rows, 2)
        if ba == bb and lev(sa, sb) <= 2
    }
    assert got == want
    assert len(want) > 50  # the corpus actually exercises the join


def test_kmv_overlap_matches_exact_at_small_cardinality(spark, sf_dir):
    from skdist_spark.operators import sketches

    est = sketches.kmv_user_overlap(spark, sf_dir).collect()[0]
    exact = sketches.user_overlap_exact(spark, sf_dir).collect()[0]
    # below k the sketch holds every member -> estimates are exact
    assert est.est_click_users == exact.n_click_users
    assert est.est_union_users == exact.n_union_users
    assert est.est_intersect_users == exact.n_intersect_users


def test_kmv_estimator_error_bound_high_cardinality(spark):
    from pyspark.sql import functions as F

    from skdist_spark.operators.sketches import KMV_K, kmv_sketch

    n = 50_000
    df = spark.range(n).select(
        F.lit("s").alias("set_id"), F.col("id").alias("member")
    )
    sk = kmv_sketch(df, "set_id", "member")
    row = sk.groupBy("set_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("h").alias("vk")
    ).collect()[0]
    assert row.cnt == KMV_K
    est = (KMV_K - 1) * 2**32 / row.vk
    # KMV relative std error ~ 1/sqrt(k) ~= 6.3%; allow 4 sigma
    assert abs(est - n) / n < 0.25, est


def test_connected_components_synthetic(spark):
    from skdist_spark.operators.graph import connected_components

    # two chains and a singleton-free triangle: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src bigint, dst bigint",
    )
    got = {
        r.node: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # forced distributed label propagation must agree with the
    # union-find local finish exactly
    dist = {
        r.node: r.cluster_id
        for r in connected_components(edges, local_finish_edges=0).collect()
    }
    assert dist == got
    # string node ids exercise the schema-preserving local finish
    sedges = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("p", "q")], "src string, dst string"
    )
    sgot = {
        r.node: r.cluster_id for r in connected_components(sedges).collect()
    }
    assert sgot == {"x": "x", "y": "x", "z": "x", "p": "p", "q": "p"}


def test_kmeans_inertia_decreases_and_covers_all(spark, sf_dir):
    import numpy as np

    from skdist_spark.operators.clustering import dist_kmeans, kmeans_assign
    from skdist_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()

    def inertia(iters):
        c = dist_kmeans(emb, k=4, max_iterations=iters)
        a = kmeans_assign(emb, c)
        assert a.count() == n
        return a.agg({"sq_dist": "sum"}).collect()[0][0]

    i1, i5 = inertia(1), inertia(5)
    assert i5 <= i1 + 1e-9, (i1, i5)


def test_salted_join_matches_plain_join(spark, sf_dir):
    from skdist_spark.operators.joins import salted_join
    from skdist_spark.sources.catalog import load_table

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    r = cust.withColumnRenamed("c_custkey", "o_custkey")
    plain = sorted(
        (x.o_orderkey, x.c_mktsegment)
        for x in orders.join(r, "o_custkey").collect()
    )
    salted = sorted(
        (x.o_orderkey, x.c_mktsegment)
        for x in salted_join(orders, r, "o_custkey").collect()
    )
    assert plain == salted and len(plain) > 0
    # left join keeps unmatched rows exactly once
    some = r.where("c_mktsegment = 'BUILDING'")
    plain_l = sorted(
        (x.o_orderkey, x.c_mktsegment)
        for x in orders.join(some, "o_custkey", "left").collect()
    )
    salted_l = sorted(
        (x.o_orderkey, x.c_mktsegment)
        for x in salted_join(orders, some, "o_custkey", how="left").collect()
    )
    assert plain_l == salted_l


def test_train_test_split_deterministic_partition(spark, sf_dir):
    from skdist_spark.operators.sampling import train_test_split_df
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    tr, te = train_test_split_df(docs, "doc_id", 0.25)
    n, ntr, nte = docs.count(), tr.count(), te.count()
    assert ntr + nte == n
    assert set(r.doc_id for r in tr.collect()).isdisjoint(
        r.doc_id for r in te.collect()
    )
    # repartitioning must not change membership
    tr2, _ = train_test_split_df(docs.repartition(13), "doc_id", 0.25)
    assert sorted(r.doc_id for r in tr2.collect()) == sorted(
        r.doc_id for r in tr.collect()
    )
    assert 0.10 < nte / n < 0.40


def test_pack_sequences_respects_budget(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark.operators.text import (
        PACK_BUDGET, chunk_documents, pack_sequences,
    )
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    chunks = chunk_documents(docs).withColumn(
        "chunk_uid", F.col("doc_id") * 10000 + F.col("chunk_id")
    )
    packed = pack_sequences(chunks, "chunk_uid", "n_chunk_tokens")
    n_items = chunks.count()
    assert packed.count() == n_items  # every chunk assigned exactly once
    assert packed.select("chunk_uid").distinct().count() == n_items
    fills = (
        packed.join(chunks.select("chunk_uid", "n_chunk_tokens"), "chunk_uid")
        .groupBy("bin_id")
        .agg(
            F.sum("n_chunk_tokens").alias("fill"),
            F.max("n_chunk_tokens").alias("biggest"),
        )
        .collect()
    )
    for r in fills:
        # a bin may exceed budget only when a single oversized item owns it
        assert r.fill <= PACK_BUDGET or r.biggest > PACK_BUDGET
    # packing efficiency: average fill of multi-item bins is decent
    multi = [r.fill for r in fills if r.fill <= PACK_BUDGET]
    if multi:
        assert sum(multi) / len(multi) > PACK_BUDGET * 0.5


def test_corpus_pipeline_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark import pipeline
    from skdist_spark.operators.text import PACK_BUDGET
    from skdist_spark.sources.catalog import load_table

    out = pipeline.corpus_pipeline(spark, sf_dir).toPandas()
    assert len(out) > 0
    # benchmark docs (doc_id % 20 == 0) never appear in the corpus
    assert (out.doc_id % 20 != 0).all()
    # chunk ids contiguous from 0 per doc
    for doc_id, grp in out.groupby("doc_id"):
        assert sorted(grp.chunk_id) == list(range(len(grp)))
    # bin budget respected (oversized single chunks impossible: chunk
    # windows are CHUNK_TOKENS <= budget)
    fills = out.groupby("bin_id").n_chunk_tokens.sum()
    assert (fills <= PACK_BUDGET).all()
    # every surviving doc passed the language + quality + dedup gates:
    # spot-check that known-duplicate texts collapsed to one doc
    docs = load_table(spark, "documents", sf_dir)
    kept_ids = set(out.doc_id)
    texts = {
        r.doc_id: r.text
        for r in docs.where(F.col("doc_id").isin(list(kept_ids))).collect()
    }
    assert len(set(texts.values())) == len(texts), "identical texts survived dedup"


def test_kmeans_farthest_init_spreads_centers(spark, sf_dir):
    import numpy as np

    from skdist_spark.operators.clustering import dist_kmeans, kmeans_assign
    from skdist_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    c_first = dist_kmeans(emb, k=4, max_iterations=3, init="first")
    c_far = dist_kmeans(emb, k=4, max_iterations=3, init="farthest")
    assert c_far.shape == c_first.shape
    # farthest-first seeds are pairwise distinct and well spread
    d = ((c_far[:, None, :] - c_far[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d, np.inf)
    assert d.min() > 0
    # both converge to full coverage
    n = emb.count()
    assert kmeans_assign(emb, c_far).count() == n


def test_pagerank_uniform_on_cycle(spark):
    """On a directed cycle every node's rank must be exactly 1/N."""
    from skdist_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}
    for v in ranks.values():
        assert abs(v - 0.25) < 1e-9


def test_triangle_count_matches_bruteforce(spark):
    """Degree-oriented triangle counts must equal brute-force
    enumeration over all node triples on a random graph (hubs, leaves,
    duplicate + reversed edges included)."""
    import itertools

    import numpy as np

    from skdist_spark.operators.graph import triangle_count

    rng = np.random.RandomState(5)
    n = 30
    edges = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(120, 2)) if a != b]
    edges += [(0, i) for i in range(1, 12)]  # a hub
    edges += [(b, a) for a, b in edges[:10]]  # reversed duplicates
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}

    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
        adj[a].discard(a)
        adj[b].discard(b)
    expected: dict[int, int] = {}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                expected[v] = expected.get(v, 0) + 1
    assert got == expected
    assert sum(expected.values()) % 3 == 0 and expected, "fixture needs triangles"


def test_connected_components_star_matches_union_find(spark):
    """Star-contraction components must equal a python union-find AND
    the label-propagation operator on a random graph, including a node
    whose only edge is a self-loop (its own component)."""
    import numpy as np

    from skdist_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = np.random.RandomState(11)
    n, m = 80, 55
    edges = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2)) if a != b]
    edges.append((n, n))
    df = spark.createDataFrame(edges, "src long, dst long")

    parent = list(range(n + 1))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    touched = {v for e in edges for v in e}
    comp_min = {}
    for v in touched:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    expected = {v: comp_min[find(v)] for v in touched}

    star = {r.node: r.cluster_id for r in connected_components_star(df).collect()}
    assert star == expected
    prop = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert prop == expected


def test_connected_components_star_converges_fast_on_chain(spark):
    """A 200-node path graph has diameter 199 — label propagation needs
    ~200 rounds, star contraction must finish in O(log^2 n) (<= 10
    rounds here) with the correct single component."""
    from skdist_spark.operators.graph import _star_components

    n = 200
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    labels, rounds = _star_components(df, "src", "dst", max_iterations=50)
    out = {r.node: r.cluster_id for r in labels.collect()}
    assert out == {i: 0 for i in range(n)}
    assert rounds <= 10, rounds


def test_get_oof_matches_serial_reference_loop(spark):
    """Distributed get_oof must reproduce the reference's serial KFold
    loop (skdist/distribute/ensemble.py:130-151) bit-for-bit, and the
    sc=None path must agree with the distributed path."""
    import numpy as np

    from skdist_spark.ml.model_selection import KFold
    from skdist_spark.ml.tree import DecisionTreeClassifier
    from skdist_spark.operators.ensemble import get_oof

    rng = np.random.RandomState(7)
    X = rng.normal(size=(120, 5))
    y = (X[:, 0] + X[:, 1] > 0).astype(int)
    clf = DecisionTreeClassifier(max_depth=3, random_state=0)

    model, oof = get_oof(clf, X, y, n_splits=4, sc=spark)

    expected = np.zeros((len(y), 2))
    for tr, te in KFold(n_splits=4).split(X):
        c = DecisionTreeClassifier(max_depth=3, random_state=0)
        c.fit(X[tr], y[tr])
        expected[te] = c.predict_proba(X[te])
    assert np.array_equal(oof, expected)

    full = DecisionTreeClassifier(max_depth=3, random_state=0)
    full.fit(X, y)
    assert np.array_equal(model.predict(X), full.predict(X))

    model2, oof2 = get_oof(clf, X, y, n_splits=4, sc=None)
    assert np.array_equal(oof, oof2)
    assert np.array_equal(model2.predict(X), model.predict(X))


def test_get_single_oof_semantics():
    """get_single_oof fits on the train slice only and returns the test
    index unchanged with one proba row per held-out sample."""
    import numpy as np

    from skdist_spark.ml.tree import DecisionTreeClassifier
    from skdist_spark.operators.ensemble import get_single_oof

    rng = np.random.RandomState(3)
    X = rng.normal(size=(60, 4))
    y = (X[:, 0] > 0).astype(int)
    train_idx = np.arange(0, 40)
    test_idx = np.arange(40, 60)
    out_idx, proba = get_single_oof(
        DecisionTreeClassifier(max_depth=3, random_state=0), X, y, train_idx, test_idx
    )
    assert np.array_equal(out_idx, test_idx)
    assert proba.shape == (20, 2)
    ref = DecisionTreeClassifier(max_depth=3, random_state=0)
    ref.fit(X[train_idx], y[train_idx])
    assert np.array_equal(proba, ref.predict_proba(X[test_idx]))


def test_pagerank_precision_on_large_graph(spark):
    """Ranks near 1/N = 5e-5 must not quantize: a decimal(28,12) x
    decimal(28,12) product demotes to decimal(38,6) and rounds every
    contribution at 1e-6 (zeroing ranks below ~1e-5 entirely); the
    fixed operator multiplies at decimal(18,12) so the product keeps
    scale 24. Verified against a sparse numpy power iteration."""
    import numpy as np

    from skdist_spark.operators.graph import pagerank

    n, iters, damp = 20_000, 10, 0.85
    src = np.repeat(np.arange(n), 2)
    dst = np.concatenate([(np.arange(n) * 7 + 1) % n, (np.arange(n) * 13 + 5) % n])
    dst = dst.reshape(2, n).T.ravel()
    df = spark.createDataFrame(
        [(int(s), int(t)) for s, t in zip(src, dst)], "src long, dst long"
    )
    got = np.zeros(n)
    for r in pagerank(df, iterations=iters).collect():
        got[r.node] = r.rank

    out_deg = np.bincount(src, minlength=n)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, rank[src] / out_deg[src])
        dangling = rank[out_deg == 0].sum()
        rank = (1 - damp) / n + damp * (contrib + dangling / n)
    assert np.abs(got - rank).max() < 1e-9


def test_pagerank_multi_edges_keep_all_contributions(spark):
    """Multi-edges (two rows with the same src AND dst) each carry a
    contribution in the distributed plan (one product per edge ROW);
    the bounded driver replay must accumulate them too — its first cut
    keyed a dict on (src, dst) and silently dropped duplicates."""
    from skdist_spark.operators.graph import pagerank

    # node 0 -> 1 twice plus 0 -> 2: node 1 must receive 2/3 of node
    # 0's rank share, not 1/3; 1 and 2 both feed back to 0
    rows = [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)]
    df = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=8).collect()}
    damp, n = 0.85, 3
    rank = {v: 1.0 / n for v in range(n)}
    for _ in range(8):
        contrib = {
            0: rank[1] + rank[2],
            1: 2.0 * rank[0] / 3.0,
            2: rank[0] / 3.0,
        }
        rank = {v: (1 - damp) / n + damp * contrib[v] for v in range(n)}
    for v in range(n):
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])


def test_salted_agg_degenerate_salt_is_loud(spark):
    """With no non-group columns a derived salt would be constant (one
    reducer for the hot key) — the operator must refuse, not silently
    degrade."""
    import pytest as _pytest

    from skdist_spark.operators.aggregates import salted_agg

    df = spark.createDataFrame([("a",), ("b",)], "k string")
    with _pytest.raises(ValueError, match="salt"):
        salted_agg(df, ["k"])


def test_pagerank_matches_numpy_power_iteration(spark):
    """Distributed ranks must match a dense numpy power iteration on a
    small weighted graph with a dangling node."""
    import numpy as np

    from skdist_spark.operators.graph import pagerank

    edges = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 1.0), ("c", "d", 3.0),  # d is dangling (no out-edges)
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.node: r.rank for r in pagerank(df, weight="w", iterations=25).collect()}

    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n, damp = len(nodes), 0.85
    M = np.zeros((n, n))
    for s, t, w in edges:
        M[idx[t], idx[s]] += w
    col_sums = M.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(25):
        contrib = np.zeros(n)
        dangling = 0.0
        for j in range(n):
            if col_sums[j] > 0:
                contrib += M[:, j] / col_sums[j] * r[j]
            else:
                dangling += r[j]
        r = (1 - damp) / n + damp * (contrib + dangling / n)
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-6, (v, got[v], r[idx[v]])


def test_ann_pq_recall_vs_exact(spark, sf_dir):
    """PQ codes with per-query lookup tables must recover a meaningful
    share of the exact cosine top-k (floor guards the train/encode/ADC
    plumbing, not tuning), deterministically."""
    from collections import defaultdict

    from skdist_spark.operators import similarity

    ex, pq = defaultdict(set), defaultdict(set)
    for r in similarity.ann_topk(spark, sf_dir).collect():
        ex[r.query_id].add(r.neighbor_id)
    rows1 = similarity.ann_pq(spark, sf_dir).collect()
    for r in rows1:
        pq[r.query_id].add(r.neighbor_id)
    assert set(pq) == set(ex)
    assert all(len(v) == similarity.TOP_K for v in pq.values())
    recalls = [len(ex[q] & pq[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.3, recalls
    assert similarity.ann_pq(spark, sf_dir).collect() == rows1  # deterministic


def test_incremental_dedup_matches_full_corpus_pairs(spark, sf_dir):
    """Batch-vs-corpus dedup must drop exactly the new docs that the
    FULL-corpus run links to an old doc (exact text match or a verified
    MinHash pair), and keep everything else."""
    from pyspark.sql import functions as F

    from skdist_spark.operators.dedup import incremental_dedup, minhash_dedup
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)

    kept = {r.doc_id for r in incremental_dedup(new, old).select("doc_id").collect()}
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    assert kept <= new_ids

    # expected drops from the FULL-corpus faces
    old_rows = old.select("doc_id", "text").collect()
    new_rows = new.select("doc_id", "text").collect()
    old_texts = {r.text for r in old_rows}
    exact_drops = {r.doc_id for r in new_rows if r.text in old_texts}
    old_ids = {r.doc_id for r in old_rows}
    near_drops = set()
    for r in minhash_dedup(docs).collect():
        if r.doc_a in new_ids and r.doc_b in old_ids:
            near_drops.add(r.doc_a)
        elif r.doc_b in new_ids and r.doc_a in old_ids:
            near_drops.add(r.doc_b)
    expected_kept = new_ids - exact_drops - near_drops
    assert kept == expected_kept


def test_semantic_dedup_matches_bruteforce_within_cells(spark, sf_dir):
    """dedup_semantic must return EXACTLY the brute-force cosine pairs
    restricted to vectors sharing a k-means cell (the SemDeDup
    contract: full precision, recall bounded by cell co-location)."""
    import numpy as np

    from skdist_spark.operators import dedup
    from skdist_spark.operators.clustering import dist_kmeans
    from skdist_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)

    fit = emb.orderBy("vec_id").limit(dedup.SEMDEDUP_FIT_N)
    centroids = dist_kmeans(fit, k=dedup.SEMDEDUP_K, max_iterations=dedup.SEMDEDUP_ITERS)
    d2 = ((x**2).sum(1)[:, None] - 2 * x @ centroids.T
          + (centroids**2).sum(1)[None, :])
    cell = d2.argmin(axis=1)

    cos = xn @ xn.T
    expected = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
            if cell[i] == cell[j] and cos[i, j] >= dedup.COSINE_THRESHOLD:
                expected.add((int(a), int(b)))

    got = dedup.dedup_semantic(spark, sf_dir).collect()
    assert {(r.vec_a, r.vec_b) for r in got} == expected
    for r in got:
        i = int(np.where(ids == r.vec_a)[0][0])
        j = int(np.where(ids == r.vec_b)[0][0])
        assert abs(r.cosine - cos[i, j]) < 1e-9


def test_semantic_lloyd_fit_chunked_matches_dense():
    """_lloyd_fit's block-streamed argmin must equal the dense-matrix
    Lloyd it replaced, even when the budget forces many tiny blocks."""
    import numpy as np

    from skdist_spark.operators.dedup import _lloyd_fit

    rng = np.random.default_rng(7)
    x = rng.normal(size=(200, 8)).astype(np.float64)
    k, iters = 13, 4

    centroids = x[:k].copy()
    for _ in range(iters):
        d2 = ((x * x).sum(1)[:, None] - 2.0 * (x @ centroids.T)
              + (centroids * centroids).sum(1)[None, :])
        assign = d2.argmin(axis=1)
        new_c = centroids.copy()
        for c in range(k):
            m = assign == c
            if m.any():
                new_c[c] = x[m].mean(axis=0)
        if float(np.abs(new_c - centroids).max()) < 1e-6:
            centroids = new_c
            break
        centroids = new_c

    got = _lloyd_fit(x, k, iters, budget=16)  # blocks of 1 row
    assert np.allclose(got, centroids, atol=1e-12)


@pytest.mark.slow  # whole-registry sweep / multi-minute fit: run with -m slow (r9 lane split)
def test_semantic_lloyd_fit_survives_max_k():
    """The SEMDEDUP_MAX_K cell cap must fit without materializing the
    dense (fit_n x k) slab — dense at k = 65,536 would be ~34 GB here
    (and ~137 GB at fit_n = 4k); the chunked fit stays under the
    128 MiB block budget."""
    import numpy as np

    from skdist_spark.operators.dedup import SEMDEDUP_MAX_K, _lloyd_fit

    rng = np.random.default_rng(11)
    x = rng.normal(size=(SEMDEDUP_MAX_K, 4)).astype(np.float64)
    centroids = _lloyd_fit(x, SEMDEDUP_MAX_K, iters=1)
    assert centroids.shape == (SEMDEDUP_MAX_K, 4)
    assert np.isfinite(centroids).all()


def test_embedding_pca_exact_aligns_with_numpy(spark, sf_dir):
    """The integer power-iteration face must land on the TRUE leading
    eigenvector of the quantized scatter (|cos| >= 0.95 at the pinned
    round count), not just be deterministic — the recurrence is
    oracle-pinned; this test pins that it MEANS PCA."""
    import numpy as np

    from skdist_spark.operators import decomp
    from skdist_spark.sources.catalog import load_table

    rows = load_table(spark, "embeddings", sf_dir).select("embedding").collect()
    x = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64)
        * decomp.PCX_QUANT
    )
    n = len(x)
    scat = n * (x.T @ x) - np.outer(x.sum(0), x.sum(0))
    _, eigvecs = np.linalg.eigh(scat)
    top = eigvecs[:, -1]

    got = decomp.embedding_pca_exact(spark, sf_dir).collect()
    v = np.array([r.loading for r in sorted(got, key=lambda r: r.pos)],
                 dtype=np.float64)
    assert len(got) == decomp.EMB_COV_DIM
    assert len({(r.rq_num, r.rq_den) for r in got}) == 1  # scalar pair
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos >= 0.95, cos


def test_pcx_power_iteration_refuses_bigint_overflow():
    """VERDICT r7 watch #1: the integer-exact face is BIGINT-bounded
    (scatter terms n*s_ij - s_i*s_j and both factors must stay under
    2^63, i.e. n up to ~2.9e9 rows at the 2^10 quant).  Python computes
    them fine in arbitrary precision, but the DuckDB oracle face would
    overflow — so past the bound the recurrence must refuse loudly
    (the KMV non-integral fail-fast precedent), never let the two
    engines silently diverge."""
    import pytest as _pytest

    from skdist_spark.operators.decomp import _pcx_power_iteration

    # a legal moment row with nonzero scatter: well under the bound
    ok = [(0, 0, 3, 1, 1, 5)]  # scatter 3*5 - 1 = 14
    v, rq_num, rq_den = _pcx_power_iteration(ok)
    assert rq_den > 0

    # n ~ 4e9 rows at max |q| = 2^10 per component: n*s_ij alone
    # crosses 2^63 — must raise, naming the contract
    n_big = 4_000_000_000
    s = n_big * 1024  # every component at the quant ceiling
    s_ij = n_big * 1024 * 1024
    bad = [(0, 0, n_big, s, s, s_ij)]
    assert n_big * s_ij >= 1 << 63  # the premise the guard checks
    with _pytest.raises(ValueError, match="2\\^63"):
        _pcx_power_iteration(bad)


def test_embedding_pca_matches_numpy(spark, sf_dir):
    """Distributed covariance PCA must match a local full-matrix numpy
    PCA: same projections (after the deterministic sign convention) and
    same explained variance."""
    import numpy as np

    from skdist_spark.operators import decomp
    from skdist_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)

    mean, comps, evals = decomp.fit_pca(emb)
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)

    cov = np.cov(x, rowvar=False, ddof=1)
    le, lv = np.linalg.eigh(cov)
    order = np.argsort(le)[::-1][: decomp.N_COMPONENTS]
    ref = lv[:, order].T.copy()
    for i in range(ref.shape[0]):
        j = int(np.abs(ref[i]).argmax())
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(evals, le[order], rtol=1e-9)
    assert np.allclose(comps, ref, atol=1e-8)

    proj = {r.vec_id: (r.pc1, r.pc2) for r in decomp.embedding_pca(spark, sf_dir).collect()}
    ref_proj = (x - x.mean(axis=0)) @ ref.T
    for k, vid in enumerate(ids):
        assert abs(proj[vid][0] - ref_proj[k, 0]) < 1e-5
        assert abs(proj[vid][1] - ref_proj[k, 1]) < 1e-5


def test_dup_span_stats_flags_planted_duplicate(spark):
    """A doc sharing a long run of words with another doc must show a
    high dup fraction; fully unique docs must show zero."""
    from skdist_spark.operators.dedup import dup_span_stats

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, shared + " one two"),
            (2, shared + " three four"),
            (3, "totally unrelated words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_stats(df).collect()}
    assert out[3].n_dup_spans == 0
    assert out[1].n_dup_spans > 0 and out[2].n_dup_spans > 0
    assert out[1].dup_fraction > 0.5


def test_remove_dup_spans_crafted(spark):
    """Span removal drops EXACTLY the tokens covered by cross-doc
    5-gram duplicates: docs 1/2 share an 8-word run (every token of it
    sits inside a duplicated 5-gram in both docs) while their unique
    tails survive; a unique doc and a 4-word doc are untouched."""
    import hashlib

    from skdist_spark.operators.dedup import remove_dup_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, shared + " one two"),
            (2, shared + " three four"),
            (3, "totally unrelated words with no overlap at all here"),
            (4, "tiny doc no grams"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_dup_spans(df).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (out[1].n_tokens, out[1].n_removed) == (10, 8)
    assert out[1].clean_md5 == md5("one two")
    assert (out[2].n_tokens, out[2].n_removed) == (10, 8)
    assert out[2].clean_md5 == md5("three four")
    assert out[3].n_removed == 0
    assert out[3].clean_md5 == md5("totally unrelated words with no overlap at all here")
    assert (out[4].n_tokens, out[4].n_removed) == (4, 0)
    assert out[4].clean_md5 == md5("tiny doc no grams")
    # identical docs: everything 5+ words long is removed from both
    dup = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
    )
    res = {r.doc_id: r for r in remove_dup_spans(dup).collect()}
    assert res[1].n_removed == 6 and res[1].clean_md5 == md5("")
    assert res[2].n_removed == 6


def test_blocklist_filter_crafted(spark):
    from skdist_spark.operators.text import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "DUP slow dup clean words here now ok"),   # 3/8 blocked
            (2, "all clean words in this document"),       # 0 blocked
            (3, ""),                                       # empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in blocklist_filter(df).collect()}
    assert (out[1].n_tokens, out[1].n_blocked) == (8, 3)
    assert out[1].blocked_permille == 375 and out[1].dropped is True
    assert out[2].n_blocked == 0 and out[2].dropped is False
    assert out[3].n_tokens == 0 and out[3].dropped is False


def test_keyword_tag_crafted(spark):
    from skdist_spark.operators.text import keyword_tag

    df = spark.createDataFrame(
        [
            (1, "scan the table then JOIN and scan again"),
            (2, "nothing relevant whatsoever"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.tag): r.n_hits for r in keyword_tag(df).collect()}
    assert got == {(1, "exec"): 3, (1, "storage"): 1}


def test_weighted_sample_k_contract(spark):
    """A-ES weighted sampling: deterministic across partitionings,
    exactly k per group, weight-monotone in aggregate (heavy rows win
    far more slots than light rows across many groups), and
    non-positive weights excluded."""
    from pyspark.sql import functions as F

    from skdist_spark.operators.sampling import weighted_sample_k

    rows = [
        (g * 1000 + i, f"g{g}", 100.0 if i < 10 else 1.0)
        for g in range(40)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    out1 = weighted_sample_k(df, "grp", "id", "w", 5).collect()
    out2 = weighted_sample_k(df.repartition(13), "grp", "id", "w", 5).collect()
    assert sorted((r.id, r.sample_rank) for r in out1) == sorted(
        (r.id, r.sample_rank) for r in out2
    )
    per_group = {}
    heavy = 0
    for r in out1:
        per_group[r.grp] = per_group.get(r.grp, 0) + 1
        if r.w == 100.0:
            heavy += 1
    assert all(v == 5 for v in per_group.values())
    # heavy rows are 1/3 of the population but carry ~97% of the mass;
    # with w=100 vs 1 they should take the large majority of 200 slots
    assert heavy > 150, heavy

    with_zero = spark.createDataFrame(
        [(1, "g", 0.0), (2, "g", -3.0), (3, "g", 1.0)], "id long, grp string, w double"
    )
    kept = weighted_sample_k(with_zero, "grp", "id", "w", 5).collect()
    assert [r.id for r in kept] == [3]


def test_bfs_distances_on_chain_and_fork(spark):
    """Multi-source BFS: hand-checked distances on a chain with a fork
    and a disconnected island; unreachable nodes absent."""
    from pyspark.sql import functions as F

    from skdist_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (8, 9)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.distance for r in bfs_distances(edges, seeds).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 3}

    two_seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got2 = {r.node: r.distance for r in bfs_distances(edges, two_seeds).collect()}
    assert got2 == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0, 6: 3}

    # the driver frontier finish and the distributed rounds must agree
    # (local_finish_edges=0 forces the distributed path — the
    # connected_components test convention)
    got_dist = {
        r.node: r.distance
        for r in bfs_distances(edges, two_seeds, local_finish_edges=0).collect()
    }
    assert got_dist == got2


def test_dup_span_stats_span_count_formula(spark):
    """n_spans per doc must equal max(n_words - SPAN_N + 1, 1) — the
    positional n-gram count identity."""
    from skdist_spark.operators.dedup import SPAN_N, dup_span_stats

    texts = [
        (1, "a"),                      # fewer words than the span width
        (2, "a b c d e"),              # exactly SPAN_N words
        (3, " ".join(f"w{i}" for i in range(37))),
        (4, "  x   y  z  "),           # ragged whitespace
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: r.n_spans for r in dup_span_stats(df).collect()}
    for doc_id, text in texts:
        n_words = len(text.split())
        assert got[doc_id] == max(n_words - SPAN_N + 1, 1), (doc_id, n_words)


def test_doc_logprob_bounds_and_token_identity(spark):
    """Perplexity >= 1 always; n_tokens equals the whitespace token
    count; a word-frequency-skewed corpus scores the rare-word doc
    strictly higher perplexity than the common-word doc."""
    from skdist_spark.operators.lm import doc_logprob

    rows = [
        (1, "the " * 50 + "the"),
        (2, "zyxw qpvu zyxw qpvu zyxw"),
        (3, "the the the zyxw"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in doc_logprob(df).collect()}
    for doc_id, text in rows:
        assert got[doc_id].n_tokens == len(text.split())
        assert got[doc_id].perplexity >= 1.0
    assert got[2].perplexity > got[1].perplexity


def test_ewma_bounds(spark):
    """The EWMA of any value sequence stays inside [min, max] of the
    sequence, and a constant sequence folds to the constant."""
    from skdist_spark.plans.behavior import user_value_ewma
    from skdist_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    out = {r.user_id: r.ewma_value for r in user_value_ewma(spark, "/root/testdata/sf0.001").collect()}
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in ev.groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for uid, ew in out.items():
        lo, hi = bounds[uid]
        assert lo - 1e-6 <= ew <= hi + 1e-6, (uid, ew, lo, hi)

    const = spark.createDataFrame(
        [(1, i, "2024-01-01 00:0%d:00" % i, 7.5) for i in range(5)],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    from skdist_spark.plans.behavior import EWMA_ALPHA
    from pyspark.sql import Window
    # reuse the exported fold through a temp view is overkill; assert via
    # the generic invariant instead: constant input -> constant output
    seq = const.groupBy("user_id").agg(
        F.expr("sort_array(collect_list(struct(ts, event_id, value)))").alias("seq")
    )
    folded = seq.selectExpr(
        f"aggregate(slice(seq, 2, size(seq) - 1), seq[0].value,"
        f" (acc, x) -> acc * (1 - {EWMA_ALPHA}) + x.value * {EWMA_ALPHA}) AS v"
    ).collect()[0].v
    assert abs(folded - 7.5) < 1e-12


def test_parse_image_and_audio_meta_from_real_headers(spark):
    """Header parsing is REAL decode: crafted PNG/GIF/JPEG/WAV bytes
    round-trip their true dimensions / stream parameters; junk bytes
    yield nulls."""
    import struct

    from skdist_spark.operators.multimodal import parse_audio_meta, parse_image_meta

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 640, 480, 8, 6, 0, 0, 0) + b"\0" * 8
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\0" * 8
    jpeg = (
        b"\xff\xd8"                                   # SOI
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\0" + b"\0" * 9   # APP0
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\0" * 2          # SOF0
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 8000) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        + b"data" + struct.pack("<I", 8000) + b"\0" * 8
    )
    df = spark.createDataFrame(
        [("png", bytearray(png)), ("gif", bytearray(gif)),
         ("jpg", bytearray(jpeg)), ("junk", bytearray(b"not media"))],
        "path string, content binary",
    )
    got = {r.path: r for r in parse_image_meta(df).collect()}
    assert (got["png"].format, got["png"].width, got["png"].height) == ("png", 640, 480)
    assert (got["gif"].format, got["gif"].width, got["gif"].height) == ("gif", 320, 200)
    assert (got["jpg"].format, got["jpg"].width, got["jpg"].height) == ("jpeg", 1920, 1080)
    assert got["junk"].format is None and got["junk"].width is None

    adf = spark.createDataFrame(
        [("wav", bytearray(wav)), ("junk", bytearray(b"xx"))],
        "path string, content binary",
    )
    agot = {r.path: r for r in parse_audio_meta(adf).collect()}
    r = agot["wav"]
    assert (r.channels, r.sample_rate) == (2, 44100)
    assert r.n_frames == 8000 // 4 and abs(r.duration_s - 2000 / 44100) < 1e-6
    assert agot["junk"].channels is None


def test_pixel_codecs_roundtrip_pure():
    """BMP and PPM/PGM pixel codecs are REAL: crafted rasters encode ->
    decode byte-exact, including BMP row padding and bottom-up order."""
    import numpy as np

    from skdist_spark.operators.multimodal import (
        decode_pixels, encode_bmp, encode_ppm, resize_nearest,
    )

    # width 5 forces BMP 4-byte row padding (5*3=15 -> stride 16)
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    fmt, back = decode_pixels(encode_bmp(px))
    assert fmt == "bmp" and np.array_equal(back, px)
    fmt, back = decode_pixels(encode_ppm(px))
    assert fmt == "ppm" and np.array_equal(back, px)
    gray = rng.integers(0, 256, size=(3, 7, 1), dtype=np.uint8)
    fmt, back = decode_pixels(encode_ppm(gray))
    assert fmt == "pgm" and np.array_equal(back, gray)
    # PPM comments + multi-whitespace header still parse
    body = b"P6\n# a comment\n 5  4\n255\n" + px.tobytes()
    fmt, back = decode_pixels(body)
    assert fmt == "ppm" and np.array_equal(back, px)
    # junk and compressed containers refuse (fall back to stub path)
    assert decode_pixels(b"\x89PNG\r\n\x1a\nXXXX") == (None, None)
    assert decode_pixels(b"hello world") == (None, None)
    # nearest-neighbor resize: 4x4 checkerboard halved = exact corners
    cb = np.zeros((4, 4, 3), dtype=np.uint8)
    cb[::2, ::2] = 255
    cb[1::2, 1::2] = 255
    small = resize_nearest(cb, 2, 2)
    assert np.array_equal(small[..., 0], np.array([[255, 255], [255, 255]]))


def test_png_decode_real_pixels():
    """PNG decode is REAL: zlib-inflated IDAT + scanline unfiltering.
    Filters Sub/Up/Average/Paeth are checked against hand-computed
    reconstructions; encoder round-trips cover gray/RGB/RGBA/palette."""
    import struct
    import zlib

    import numpy as np

    from skdist_spark.operators.multimodal import (
        decode_pixels, decode_png_pixels, encode_png,
    )

    def png(w, h, color_type, raw_rows, extra=b""):
        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(bytes(raw_rows))) + chunk(b"IEND", b"")
        )

    # Sub filter (grayscale 4x1): raw [1,10,5,3] -> cumsum [1,11,16,19]
    px = decode_png_pixels(png(4, 1, 0, bytes([1, 1, 10, 5, 3])))
    assert px[..., 0].tolist() == [[1, 11, 16, 19]]
    # Up filter: row2 = row1 + raw
    px = decode_png_pixels(
        png(4, 2, 0, bytes([0, 10, 20, 30, 40]) + bytes([2, 1, 1, 1, 1]))
    )
    assert px[..., 0].tolist() == [[10, 20, 30, 40], [11, 21, 31, 41]]
    # Average filter: rec[i] = raw + (left + up)//2
    px = decode_png_pixels(
        png(4, 2, 0, bytes([0, 10, 20, 30, 40]) + bytes([3, 5, 5, 5, 5]))
    )
    assert px[..., 0].tolist() == [[10, 20, 30, 40], [10, 20, 30, 40]]
    # Paeth filter, hand-walked predictor
    px = decode_png_pixels(
        png(4, 2, 0, bytes([0, 10, 20, 30, 40]) + bytes([4, 1, 2, 3, 4]))
    )
    assert px[..., 0].tolist() == [[10, 20, 30, 40], [11, 22, 33, 44]]
    # palette (color_type 3): indices look up PLTE triples
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )
    px = decode_png_pixels(
        png(3, 1, 3, bytes([0, 0, 1, 2]), extra=chunk(b"PLTE", plte))
    )
    assert px.tolist() == [[[255, 0, 0], [0, 255, 0], [0, 0, 255]]]
    # encoder round-trips, both filters, all channel counts
    rng = np.random.default_rng(3)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(5, 7, ch), dtype=np.uint8)
        for ft in (0, 2):
            back = decode_png_pixels(encode_png(img, filter_type=ft))
            assert np.array_equal(back, img), (ch, ft)
    # Adam7 interlaced round trip: odd sizes exercise empty/ragged
    # passes; interlaced and progressive decodes must agree exactly
    for shape in ((13, 11, 3), (3, 2, 1), (8, 8, 4), (1, 9, 3)):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for ft in (0, 2):
            back = decode_png_pixels(encode_png(img, filter_type=ft, interlace=True))
            assert np.array_equal(back, img), (shape, ft)
    # decode_pixels integration: PNG now yields real pixels
    fmt, back = decode_pixels(encode_png(rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)))
    assert fmt == "png" and back.shape == (4, 4, 3)
    # 16-bit / interlaced / truncated still refuse cleanly
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16) + chunk(b"IEND", b"")
    assert decode_png_pixels(bad) is None
    assert decode_pixels(b"\x89PNG\r\n\x1a\nXXXX") == (None, None)


def test_gif_decode_real_pixels():
    """GIF decode is REAL LZW: random index frames round-trip through
    the standard encoder (which exercises dictionary growth and the
    4096-entry clear path), palettes map exactly, animated GIFs yield
    every frame, and hand-checkable streams decode as expected."""
    import numpy as np

    from skdist_spark.operators.multimodal import (
        _gif_lzw_decode, _gif_lzw_encode, decode_gif_frames,
        decode_pixels, encode_gif,
    )

    # LZW layer alone: growth-forcing random indices round-trip
    rng = np.random.default_rng(11)
    for min_code in (2, 4, 8):
        n_sym = 1 << min_code
        idx = rng.integers(0, n_sym, size=5000, dtype=np.uint8).tobytes()
        back = _gif_lzw_decode(min_code, _gif_lzw_encode(min_code, idx), len(idx))
        assert back == idx, min_code
    # long runs push the dictionary to 4096 and force a mid-stream clear
    runs = (b"\x00" * 9000) + (b"\x01" * 9000) + bytes(range(256)) * 40
    back = _gif_lzw_decode(8, _gif_lzw_encode(8, runs), len(runs))
    assert back == runs

    # full container: 4-color palette, exact pixel recovery
    palette = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], np.uint8
    )
    frame = rng.integers(0, 4, size=(11, 13), dtype=np.uint8)
    w, h, frames = decode_gif_frames(encode_gif([frame], palette))
    assert (w, h, len(frames)) == (13, 11, 1)
    assert np.array_equal(frames[0], palette[frame])
    # animated: every frame comes back in order
    clip = [rng.integers(0, 4, size=(6, 7), dtype=np.uint8) for _ in range(5)]
    w, h, frames = decode_gif_frames(encode_gif(clip, palette))
    assert (w, h, len(frames)) == (7, 6, 5)
    for got, idxf in zip(frames, clip):
        assert np.array_equal(got, palette[idxf])
    # decode_pixels integration: gif -> first frame RGB
    fmt, px = decode_pixels(encode_gif([frame], palette))
    assert fmt == "gif" and np.array_equal(px, palette[frame])
    # junk after the magic refuses cleanly
    assert decode_gif_frames(b"GIF89a\x00\x00") == (None, None, None)


def test_resize_images_true_pixels(spark):
    """resize_images produces the EXACT nearest-neighbor raster (checked
    value-for-value after re-decoding its P6 output); compressed/junk
    payloads pass through byte-identical with decoded=false."""
    import numpy as np

    from skdist_spark.operators.multimodal import (
        decode_pixels, encode_bmp, resize_images, resize_nearest,
    )

    yy, xx = np.mgrid[0:12, 0:16]
    px = np.stack(
        [(xx * 255) // 15, (yy * 255) // 11, (xx + yy) % 256], axis=-1
    ).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(px))), (2, bytearray(b"not an image"))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in resize_images(df, max_side=8).collect()}
    r1 = got[1]
    assert (r1.format, r1.width, r1.height, r1.decoded) == ("bmp", 8, 6, True)
    fmt, small = decode_pixels(bytes(r1.payload))
    assert fmt == "ppm"
    assert np.array_equal(small, resize_nearest(px, 8, 6))
    r2 = got[2]
    assert r2.decoded is False and bytes(r2.payload) == b"not an image"


def test_extract_features_real_pixels_vs_stub(spark):
    """extract_features uses TRUE luminance histograms when the payload
    decodes (uniform gray image -> all mass in one bin) and the
    documented byte-histogram stub otherwise."""
    import numpy as np

    from skdist_spark.operators.multimodal import (
        FEATURE_DIM, encode_bmp, extract_features,
    )

    gray = np.full((6, 6, 3), 130, dtype=np.uint8)  # luma 130 -> bin 8
    df = spark.createDataFrame(
        [
            (1, "image/bmp", bytearray(encode_bmp(gray))),
            (2, "text/plain", bytearray(b"plain text payload")),
        ],
        "doc_id long, media_type string, payload binary",
    )
    got = {r.doc_id: r for r in extract_features(df).collect()}
    feats1 = got[1].features
    assert len(feats1) == FEATURE_DIM
    assert feats1[8] == 1.0 and sum(feats1) == 1.0  # real pixels, one bin
    # stub path (byte histogram): ASCII text mass sits in bins 2-7
    assert abs(sum(got[2].features) - 1.0) < 1e-12 and got[2].features[8] == 0


def test_audio_features_real_pcm(spark):
    """audio_features computes TRUE signal statistics: a full-scale
    440 Hz sine has RMS ~1/sqrt(2) and ZCR ~2*f/rate per window;
    silence has RMS 0; non-PCM payloads yield no rows."""
    import numpy as np

    from skdist_spark.operators.multimodal import (
        decode_wav_pcm, encode_wav_pcm16,
    )
    from skdist_spark.operators.multimodal import audio_features

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sine = np.sin(2 * np.pi * 440 * t).reshape(-1, 1)
    silence = np.zeros((rate // 2, 1))
    wav_sine = encode_wav_pcm16(sine, rate)
    wav_silence = encode_wav_pcm16(silence, rate)
    # pure round trip first
    r, back = decode_wav_pcm(wav_sine)
    assert r == rate and back.shape == (rate, 1)
    assert float(np.abs(back[:, 0] - sine[:, 0]).max()) < 1e-4  # 16-bit quant

    df = spark.createDataFrame(
        [
            (1, bytearray(wav_sine)),
            (2, bytearray(wav_silence)),
            (3, bytearray(b"not audio at all")),
        ],
        "doc_id long, payload binary",
    )
    out = audio_features(df).collect()
    by_doc = {}
    for row in out:
        by_doc.setdefault(row.doc_id, []).append(row)
    assert 3 not in by_doc  # junk refused, no fake rows
    # 1s at 100ms windows -> 10 windows
    assert len(by_doc[1]) == 10
    for row in by_doc[1]:
        assert abs(row.rms - 1 / np.sqrt(2)) < 0.01
        assert abs(row.zcr - 2 * 440 / rate) < 0.02
    assert all(row.rms == 0.0 for row in by_doc[2])


def test_video_keyframes_real_y4m(spark):
    """video_keyframes extracts REAL luma frames from Y4M: crafted
    frames with known mean luma round-trip exactly, the sampled
    indices span the clip, and the inter-frame MAD matches the
    constructed luma steps."""
    import hashlib

    import numpy as np

    from skdist_spark.operators.multimodal import (
        decode_y4m_frames, encode_y4m, video_keyframes,
    )

    w, h = 16, 8
    frames = [np.full((h, w), 10 * (i + 1), dtype=np.uint8) for i in range(7)]
    clip = encode_y4m(frames, w, h)
    dw, dh, back = decode_y4m_frames(clip)
    assert (dw, dh, len(back)) == (w, h, 7)
    assert all(np.array_equal(a, b) for a, b in zip(back, frames))

    df = spark.createDataFrame(
        [(1, bytearray(clip)), (2, bytearray(b"mp4 junk"))],
        "doc_id long, payload binary",
    )
    out = [r for r in video_keyframes(df, n_frames=4).collect() if r.doc_id == 1]
    assert [r.frame_idx for r in out] == [0, 2, 4, 6]
    for r in out:
        assert (r.width, r.height) == (w, h)
        assert r.mean_luma == 10.0 * (r.frame_idx + 1)
        assert r.frame_md5 == hashlib.md5(frames[r.frame_idx].tobytes()).hexdigest()
    # constant-luma steps of 20 between sampled frames
    assert out[0].mad_prev is None
    assert all(r.mad_prev == 20.0 for r in out[1:])
    assert not [r for r in video_keyframes(df).collect() if r.doc_id == 2]


def test_multimodal_pixels_query_runs(spark):
    from skdist_spark.operators.multimodal import multimodal_pixels

    out = multimodal_pixels(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    r = out[0]
    # every third doc is a baseline JPEG, the rest BMP — both decode real
    assert r.format == ("jpeg" if r.doc_id % 3 == 0 else "bmp")
    assert {row.format for row in out} == {"bmp", "jpeg"}
    assert 1 <= r.width <= 8 and 1 <= r.height <= 8
    assert 0.0 <= r.luma_bin0 + r.luma_bin_last <= 1.0
    # deterministic: second run identical
    again = multimodal_pixels(spark, "/root/testdata/sf0.001").collect()
    assert out == again


def test_bpe_train_matches_python_reference(spark):
    """Distributed BPE must learn EXACTLY the merges a pure-Python
    reference learns on the same corpus (greedy left-to-right merge
    application, lexicographic tie-break)."""
    from collections import Counter

    from skdist_spark.operators.lm import bpe_train
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select("text")
    texts = [r.text for r in docs.collect()]

    vocab = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            vocab[tuple(w)] += 1

    def ref_merges(vocab, n):
        out = []
        for _ in range(n):
            pairs = Counter()
            for sym, cnt in vocab.items():
                for i in range(len(sym) - 1):
                    pairs[(sym[i], sym[i + 1])] += cnt
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), cnt = best
            out.append((l, r, l + r, cnt))
            new_vocab = Counter()
            for sym, c in vocab.items():
                merged, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                        merged.append(l + r)
                        i += 2
                    else:
                        merged.append(sym[i])
                        i += 1
                new_vocab[tuple(merged)] += c
            vocab = new_vocab
        return out

    want = ref_merges(vocab, 10)
    got = bpe_train(docs, n_merges=10)
    assert got == want, f"\ngot ={got}\nwant={want}"


def test_bpe_encode_matches_python_reference(spark):
    """bpe_encode must tokenize exactly like sequentially applying the
    learned merges in pure Python (greedy left-to-right per merge)."""
    from skdist_spark.operators.lm import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "the theme there"), (2, "a banana bandana"), (3, "xyz")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=4)
    assert merges, "expected at least one merge on this corpus"

    def apply_merges(word):
        sym = list(word)
        for l, r, m, _ in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(m)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    got = {r.doc_id: (list(r.tokens), r.n_tokens) for r in bpe_encode(df, merges).collect()}
    for doc_id, text in [(1, "the theme there"), (2, "a banana bandana"), (3, "xyz")]:
        want = [t for w in text.lower().split() for t in apply_merges(w)]
        assert got[doc_id] == (want, len(want)), (doc_id, got[doc_id], want)


def test_kmv_join_keys_estimate_error_bound(spark, sf_dir):
    """The join-key estimator must land within KMV error of the exact
    distinct-key overlap between orders and lineitem."""
    from pyspark.sql import functions as F

    from skdist_spark.operators.sketches import kmv_join_keys_estimate
    from skdist_spark.sources.catalog import load_table

    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    est = kmv_join_keys_estimate(orders, "o_orderkey", lineitem, "l_orderkey").collect()[0]

    n_o = orders.select("o_orderkey").distinct().count()
    n_l = lineitem.select("l_orderkey").distinct().count()
    n_common = (
        orders.select(F.col("o_orderkey").alias("k"))
        .distinct()
        .join(lineitem.select(F.col("l_orderkey").alias("k")).distinct(), "k")
        .count()
    )
    for got, want in [
        (est["est_left_keys"], n_o),
        (est["est_right_keys"], n_l),
        (est["est_common_keys"], n_common),
    ]:
        assert abs(got - want) / max(want, 1) < 0.15, (got, want)


def test_dist_stacking_classifier(spark):
    """Stacking over distributed OOF features: must beat-or-match the
    weakest base, produce calibrated probabilities, and survive
    pickling after fit (spark handle stripped)."""
    import pickle

    import numpy as np

    from skdist_spark.ml.linear import LogisticRegression
    from skdist_spark.ml.naive_bayes import GaussianNB
    from skdist_spark.ml.tree import DecisionTreeClassifier
    from skdist_spark.operators.ensemble import DistStackingClassifier

    rng = np.random.RandomState(5)
    X = rng.uniform(-2, 2, size=(300, 4))
    y = ((X[:, 0] * X[:, 1] + X[:, 2]) > 0).astype(int)  # interaction target

    stack = DistStackingClassifier(
        estimators=[
            ("tree", DecisionTreeClassifier(max_depth=3)),
            ("nb", GaussianNB()),
        ],
        final_estimator=LogisticRegression(),
        n_splits=4,
        sc=spark,
    ).fit(X, y)

    acc_stack = float(np.mean(stack.predict(X) == y))
    accs_base = [
        float(np.mean(m.predict(X) == y)) for m in stack.named_estimators_.values()
    ]
    assert acc_stack >= min(accs_base) - 0.02
    assert acc_stack > 0.8
    proba = stack.predict_proba(X)
    assert proba.shape == (300, 2) and np.allclose(proba.sum(axis=1), 1.0)

    blob = pickle.dumps(stack)
    stack2 = pickle.loads(blob)
    assert np.array_equal(stack2.predict(X), stack.predict(X))


def test_dist_stacking_matches_serial(spark):
    """Distributed fold fits must produce the same stacked model as the
    serial path (sc=None): identical predictions."""
    import numpy as np

    from skdist_spark.ml.tree import DecisionTreeClassifier
    from skdist_spark.operators.ensemble import DistStackingClassifier

    rng = np.random.RandomState(9)
    X = rng.uniform(-1, 1, size=(150, 3))
    y = (X.sum(axis=1) > 0).astype(int)
    kw = dict(
        estimators=[("t", DecisionTreeClassifier(max_depth=2))], n_splits=3
    )
    dist = DistStackingClassifier(sc=spark, **kw).fit(X, y)
    ser = DistStackingClassifier(sc=None, **kw).fit(X, y)
    assert np.array_equal(dist.predict(X), ser.predict(X))
    assert np.allclose(dist.predict_proba(X), ser.predict_proba(X))


def test_ann_int8_recall_vs_exact(spark, sf_dir):
    """4x-compressed int8 ranking must land close to the float cosine
    ranking (high top-k overlap)."""
    from skdist_spark.operators.similarity import TOP_K, ann_int8, ann_topk

    got = {(r.query_id, r.neighbor_id) for r in ann_int8(spark, sf_dir).collect()}
    exact = {(r.query_id, r.neighbor_id) for r in ann_topk(spark, sf_dir).collect()}
    assert len(got) == len(exact)
    assert len(got & exact) / len(exact) >= 0.8


def test_winnowing_guarantee_shared_run(spark):
    """Winnowing's positional guarantee: docs sharing a run of
    >= K + W - 1 words share at least one fingerprint."""
    from skdist_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    shared = " ".join(f"tok{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "zeta " + shared + " omega"),
            (3, "entirely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r.doc_id: set(r.fps)
        for r in winnow_fingerprints(docs).collect()
    }
    assert fps[1] & fps[2], "guaranteed shared fingerprint missing"
    pairs = {
        (r.doc_a, r.doc_b) for r in winnow_candidate_pairs(docs).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnowing_density_and_short_docs(spark):
    """Fingerprint density ~ 2/(w+1) of k-grams; degenerate docs
    (fewer words than k) still emit exactly one fingerprint."""
    from skdist_spark.operators.dedup import WINNOW_W, winnow_fingerprints

    long_text = " ".join(f"w{i * 7 % 997}" for i in range(500))
    docs = spark.createDataFrame(
        [(1, long_text), (2, "tiny"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fps for r in winnow_fingerprints(docs).collect()}
    n_kgrams = 500 - 3
    density = len(out[1]) / n_kgrams
    # SWA'03: expected density 2/(w+1); allow generous slack
    assert 0.5 * 2 / (WINNOW_W + 1) < density < 4 / (WINNOW_W + 1)
    assert len(out[2]) == 1 and len(out[3]) == 1


def test_silhouette_separated_vs_mixed_clusters(spark):
    """Well-separated crafted clusters score near +1; scrambled labels
    on the same points go negative. Values match a numpy replay of the
    same centroid-silhouette definition."""
    import numpy as np
    from pyspark.sql import functions as F

    from skdist_spark.operators.similarity import silhouette_score

    rng = np.random.RandomState(7)
    centers = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for lbl, c in centers.items():
        for i in range(40):
            v = (np.array(c) + rng.normal(0, 0.05, 3)).tolist()
            rows.append((lbl * 40 + i, lbl, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    good = silhouette_score(df).collect()
    assert all(r.mean_silhouette > 0.9 for r in good)
    assert all(r.n_negative == 0 for r in good)

    # numpy replay of the same definition (micro-unit quantization,
    # exact-sum centroids, centroid distances)
    # the column is array<float>: quantize through float32 like Spark
    pts = {(r[0]): (r[1], np.floor(
        np.array(r[2], dtype=np.float32).astype(np.float64) * 1e6))
           for r in rows}
    sums, ns = {}, {}
    for _, (lbl, xq) in pts.items():
        sums[lbl] = sums.get(lbl, 0) + xq
        ns[lbl] = ns.get(lbl, 0) + 1
    cents = {lbl: sums[lbl] / ns[lbl] for lbl in sums}
    agg = {lbl: [0, 0] for lbl in cents}
    for _, (lbl, xq) in pts.items():
        d = {cl: float(np.sqrt(np.sum((xq - c) ** 2))) for cl, c in cents.items()}
        a = d[lbl]
        b = min(v for cl, v in d.items() if cl != lbl)
        s = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
        agg[lbl][0] += int(np.floor(s * 1e9))
        agg[lbl][1] += 1
    for r in good:
        want = agg[r.label][0] / agg[r.label][1] / 1e9
        assert abs(r.mean_silhouette - want) < 1e-9, r.label

    # scrambled labels: silhouette collapses
    bad_df = df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    bad = silhouette_score(bad_df).collect()
    assert all(r.mean_silhouette < 0.1 for r in bad)


def test_minhash_eval_identical_docs_full_recall(spark):
    from skdist_spark.operators.dedup import minhash_eval

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, same),
            (2, same),
            (3, "one two three four five six seven eight nine ten"),
            (4, "completely different words with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    row = minhash_eval(docs).collect()[0]
    # identical docs MUST be ground truth and MUST collide in every band
    assert row.n_truth >= 1
    assert row.n_hits == row.n_truth
    assert row.recall_ppm == 1_000_000
    assert 0 <= row.precision_ppm <= 1_000_000


def test_exact_ngram_decontaminate_flags_verbatim_span(spark):
    from skdist_spark.operators.text import exact_ngram_decontaminate

    span = "the quick brown fox jumps over the lazy dog tonight"
    bench = spark.createDataFrame(
        [(100, f"benchmark question: {span} answer: yes")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, f"training page containing {span} verbatim in the middle"),
            (2, "unrelated text with none of those exact words in sequence"),
        ],
        "doc_id long, text string",
    )
    flagged = {
        r.doc_id: r.n_colliding
        for r in exact_ngram_decontaminate(corpus, bench, n=8).collect()
    }
    assert 1 in flagged and flagged[1] >= 1
    assert 2 not in flagged


def test_perplexity_filter_cut_is_rank_exact(spark, sf_dir):
    from skdist_spark.operators.lm import perplexity_filter
    from skdist_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    out = perplexity_filter(docs, keep_pct=80).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    for src, rows in by_src.items():
        n = len(rows)
        kept = [r for r in rows if r.kept]
        # integer cut: rank*100 <= n*80
        assert len(kept) == sum(1 for i in range(1, n + 1) if i * 100 <= n * 80)
        # every kept rank strictly below every dropped rank
        dropped_ranks = [r.ppx_rank for r in rows if not r.kept]
        if kept and dropped_ranks:
            assert max(r.ppx_rank for r in kept) < min(dropped_ranks)


def test_user_disjoint_split_unit_consistency(spark, sf_dir):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from skdist_spark.operators.sampling import user_disjoint_split
    from skdist_spark.sources.catalog import load_table

    ev = load_table(spark, "events", sf_dir)
    tagged = user_disjoint_split(ev, "user_id")
    # a unit never straddles folds
    assert (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
        == 0
    )
    counts = {r.split: r.n for r in tagged.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    with _pytest.raises(ValueError):
        user_disjoint_split(ev, "user_id", permille=(700, 100, 100))


def test_theil_sen_robust_to_outlier_matches_numpy(spark):
    import numpy as np

    from skdist_spark.operators.stats import theil_sen_trend

    # y = 2x except one wild outlier; OLS would bend, Theil-Sen must not
    pts = [(1, x, 2 * x if x != 7 else 500) for x in range(10)]
    df = spark.createDataFrame(pts, "g int, x long, y long")
    row = theil_sen_trend(df, ["g"]).collect()[0]
    xs = np.array([p[1] for p in pts], dtype=float)
    ys = np.array([p[2] for p in pts], dtype=float)
    slopes = [
        (ys[j] - ys[i]) / (xs[j] - xs[i])
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    ]
    assert row.n_points == 10 and row.n_pairs == 45
    assert row.theil_slope == round(float(np.median(slopes)), 6)
    assert row.theil_slope == 2.0


def test_filter_funnel_sequential_first_fail(spark):
    from skdist_spark.operators.text import filter_funnel

    ok = "the quick brown fox jumps over the lazy sleeping dog today fine"
    docs = spark.createDataFrame(
        [
            (1, ok),                                  # survives
            (2, "short text"),                        # too_short
            (3, "a " * 12),                           # word_len (mwl < 2) but ALSO 24 words -> first rule wins? n=24 ok, mwl=1 -> word_len
            (4, " ".join(["dup"] * 20)),              # low diversity (dr=0.05) and mwl=3 ok
            (5, ok),                                  # exact dup of 1
            (6, "tiny"),                              # too_short
        ],
        "doc_id long, text string",
    )
    rows = {r.rule: r for r in filter_funnel(docs).collect()}
    assert rows["too_short"].n_dropped == 2
    assert rows["word_len"].n_dropped == 1
    assert rows["low_diversity"].n_dropped == 1
    assert rows["exact_dup"].n_dropped == 1
    assert rows["too_long"].n_dropped == 0
    # funnel is cumulative and ends at the survivor count
    assert rows["exact_dup"].n_remaining == 1
    stages = sorted(rows.values(), key=lambda r: r.stage)
    for a, b in zip(stages, stages[1:]):
        assert b.n_remaining == a.n_remaining - b.n_dropped


def test_sequence_training_pairs_bounded_context(spark):
    from skdist_spark.operators.sampling import sequence_training_pairs

    rows = [(1, i, f"t{i}", f"e{i}") for i in range(6)] + [(2, 10, "t0", "x")]
    df = spark.createDataFrame(rows, "u long, eid long, ts string, item string")
    out = sequence_training_pairs(df, "u", ["ts", "eid"], "item", context_len=3)
    got = {(r.u, r.eid): (r.n_context, r.context, r.target) for r in out.collect()}
    # first event per unit has no pair; unit 2 has only one event -> none
    assert (1, 0) not in got and (2, 10) not in got
    assert got[(1, 1)] == (1, ["e0"], "e1")
    assert got[(1, 3)] == (3, ["e0", "e1", "e2"], "e3")
    # context slides: never more than 3, in order, immediately preceding
    assert got[(1, 5)] == (3, ["e2", "e3", "e4"], "e5")


def test_boilerplate_ratio_counts_repeated_lines(spark):
    from skdist_spark.operators.text import boilerplate_ratio

    banner = "accept cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique prose one", "a"),
            (2, f"{banner}\nunique prose two", "a"),
            (3, "all original content here", "b"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in boilerplate_ratio(docs).collect()}
    # source a: 4 line occurrences, 2 are the shared banner
    assert rows["a"].n_lines == 4 and rows["a"].n_boiler == 2
    assert rows["a"].boiler_ppm == 500_000
    assert rows["b"].n_lines == 1 and rows["b"].n_boiler == 0


def test_source_leakage_matrix_counts_shared_grams(spark):
    from skdist_spark.operators.text import source_leakage_matrix

    span = "one two three four five six seven eight"  # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            (1, f"{span} alpha beta gamma delta epsilon zeta eta", "a"),
            (2, f"{span} red green blue yellow purple orange pink", "b"),
            (3, "totally disjoint vocabulary with nothing shared at all", "c"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r.source_a, r.source_b): r.n_shared_ngrams
            for r in source_leakage_matrix(docs).collect()}
    assert ("a", "b") in rows and rows[("a", "b")] >= 1
    assert ("a", "c") not in rows and ("b", "c") not in rows


def test_kll_sketch_rollup_rank_error_bounded(spark, sf_dir):
    from pyspark.sql import functions as F

    from skdist_spark.operators.sketches import value_percentile_sketch_rollup
    from skdist_spark.sources.catalog import load_table

    out = value_percentile_sketch_rollup(spark, sf_dir).collect()
    assert out, "no weekly rows"
    ev = load_table(spark, "events", sf_dir).select(
        "value",
        (F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7))
        .cast("int")
        .alias("week"),
    )
    per_week = {
        r.week: r for r in ev.groupBy("week").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # rank error of the merged estimates: the fraction of values below
    # the sketch quantile must sit near the target rank (KLL k=200
    # guarantees ~1.3% rank error; assert a safe 5%)
    for row in out:
        n = per_week[row.week].n
        for est, target in ((row.p50, 0.5), (row.p90, 0.9), (row.p99, 0.99)):
            below = ev.where(
                (F.col("week") == row.week) & (F.col("value") <= est)
            ).count()
            assert abs(below / n - target) <= 0.05, (row.week, target, below / n)
        # merged and direct builds agree to the same tolerance
        assert abs(row.p50 - row.direct_p50) <= max(0.05 * row.exact_p50, 1.0)


def test_local_clustering_known_graph(spark):
    from skdist_spark.operators.graph import local_clustering

    # triangle 1-2-3 plus a pendant 4 attached to 3, isolated edge 5-6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    rows = {r.node: r for r in local_clustering(edges).collect()}
    assert rows[1].lcc == 1.0 and rows[2].lcc == 1.0   # perfect triangles
    assert rows[3].degree == 3 and rows[3].n_triangles == 1
    assert rows[3].lcc == round(2 * 1 / (3 * 2), 6)    # 0.333333
    assert 4 not in rows and 5 not in rows             # degree < 2 dropped


def test_embedding_whitening_matches_numpy(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    from skdist_spark.operators.decomp import fit_whitening, whiten_project
    from skdist_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    mean, w = fit_whitening(emb)
    pdf = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    x = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    # numpy reference fit
    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    w_ref = evecs @ np.diag(1.0 / np.sqrt(evals + 1e-6)) @ evecs.T
    np.testing.assert_allclose(mean, mu, atol=1e-9)
    np.testing.assert_allclose(w, w_ref, atol=1e-6)
    # the whitened covariance is ~identity
    got = whiten_project(emb, mean, w).toPandas().sort_values("vec_id")
    y = np.stack(got["whitened"].map(np.asarray))
    c = np.cov(y, rowvar=False)
    np.testing.assert_allclose(c, np.eye(c.shape[0]), atol=1e-2)
    # distributed transform == numpy transform
    np.testing.assert_allclose(y, (x - mu) @ w_ref.T, atol=1e-6)


def test_dhash_band_join_lossless(spark):
    """The 8x8-band candidate join must find EVERY pair within the
    Hamming threshold (pigeonhole: <=7 differing bits cannot touch all
    8 bands) — verified against brute-force XOR popcount over all
    pairs, plus determinism across two runs."""
    import itertools

    from skdist_spark.operators.multimodal import (
        DHASH_MAX_HAMMING, dhash_near_dup,
    )

    # hashes crafted to cover: identical, 1-bit, exactly-7-bit,
    # 8-bit (over threshold), and random-ish spread
    base = 0x0123456789ABCDEF
    hashes = [
        base,
        base,                     # dup of 0
        base ^ 0x1,               # hamming 1
        base ^ 0x8001000100010001 ^ 0x0100010001000100,  # 8 bits -> out
        base ^ ((1 << 7) | (1 << 15) | (1 << 23) | (1 << 31)
                | (1 << 39) | (1 << 47) | (1 << 55)),    # exactly 7
        0x7EDCBA9876543210,
        -42,                      # negative two's complement storage
        -42 ^ 0x11,               # 2 bits from -42
    ]
    df = spark.createDataFrame(
        [(i, h if h < (1 << 63) else h - (1 << 64)) for i, h in enumerate(hashes)],
        "doc_id long, dhash long",
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dhash_near_dup(df, max_hamming=DHASH_MAX_HAMMING).collect()
    }
    expected = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(hashes), 2):
        ham = bin((a ^ b) & ((1 << 64) - 1)).count("1")
        if ham <= DHASH_MAX_HAMMING:
            expected.add((i, j, ham))
    assert got == expected
    got2 = {
        (r.id_a, r.id_b, r.hamming)
        for r in dhash_near_dup(df, max_hamming=DHASH_MAX_HAMMING).collect()
    }
    assert got2 == got


def test_multimodal_dhash_dedup_query(spark):
    """Driver query: within-group pairs only, hamming <= 6 by
    construction (<=3-bit masks per doc), all 10 groups represented."""
    from skdist_spark.operators.multimodal import multimodal_dhash_dedup

    rows = multimodal_dhash_dedup(spark, "/root/testdata/sf0.001").collect()
    assert rows, "crafted near-dup groups must produce pairs"
    assert all(r.doc_a % 10 == r.doc_b % 10 for r in rows)
    assert all(0 <= r.hamming <= 6 for r in rows)
    assert {r.doc_a % 10 for r in rows} == set(range(10))


def test_rendezvous_minimal_reshuffle(spark):
    """The HRW property: dropping shard k reassigns ONLY the ids that
    lived on shard k; everything else stays put (that's the entire
    point vs mod-N)."""
    from pyspark.sql import functions as F

    from skdist_spark.operators.sampling import rendezvous_shard

    ids = spark.range(5000).select(F.col("id"))
    n = 8
    both = ids.select(
        "id",
        F.expr(rendezvous_shard("id", n)).alias("s_full"),
        # shard n-1 removed == same argmax over the first n-1 scores
        F.expr(rendezvous_shard("id", n - 1)).alias("s_reduced"),
    ).collect()
    moved = [r for r in both if r["s_full"] != r["s_reduced"]]
    # every moved id must have been on the removed shard
    assert moved, "removal should move someone"
    assert all(r["s_full"] == n - 1 for r in moved)
    # and every id of the removed shard moved somewhere valid
    for r in both:
        if r["s_full"] == n - 1:
            assert 0 <= r["s_reduced"] < n - 1


def test_hll_portable_registers_estimate_accuracy(spark, sf_dir):
    """The portable-HLL register table must yield accurate distinct
    counts once the standard small-range (linear counting) correction
    is applied: est = m*ln(m/V) when the raw estimate is below 2.5m and
    zero registers remain, else the raw estimate."""
    import math

    from pyspark.sql import functions as F

    from skdist_spark.operators.sketches import HLL_M, hll_portable_registers
    from skdist_spark.sources.catalog import load_table

    regs = hll_portable_registers(spark, sf_dir).collect()
    per_type: dict[str, list] = {}
    for r in regs:
        per_type.setdefault(r.event_type, []).append(r)
    exact = {
        r.event_type: r.n
        for r in load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for etype, rows in per_type.items():
        raw = rows[0].est_raw
        v = HLL_M - len(rows)
        est = HLL_M * math.log(HLL_M / v) if (raw <= 2.5 * HLL_M and v > 0) else raw
        rel = abs(est - exact[etype]) / exact[etype]
        # raw HLL std error ~1.04/sqrt(256) ~ 6.5%; allow ~3 sigma
        assert rel < 0.2, (etype, est, exact[etype], rel)


def test_bloom_filter_words_bounded_and_no_false_negatives(spark, sf_dir):
    """The Bloom word table must stay within its 512-word bound, and
    every true member must pass the probe (no false negatives — the
    Bloom guarantee the runtime-filter contract rests on)."""
    from skdist_spark.operators.sketches import (
        BLOOM_BITS,
        _BLOOM_WORD_BITS,
        bloom_probe_audit,
        bloom_filter_words,
        _bloom_members_spark,
    )

    words = bloom_filter_words(spark, sf_dir).collect()
    assert 0 < len(words) <= BLOOM_BITS // _BLOOM_WORD_BITS
    assert all(0 <= r.word_idx < BLOOM_BITS // _BLOOM_WORD_BITS for r in words)

    audit = bloom_probe_audit(spark, sf_dir).collect()[0]
    n_members = _bloom_members_spark(spark, sf_dir).count()
    # every member is probed (members come from customer keys) and must
    # pass: passed = members + false positives, exactly
    assert audit.n_passed == n_members + audit.n_false_pos, audit
    assert audit.n_probed >= audit.n_passed


def test_portable_hash_matches_python_replay(spark):
    """Third-opinion pin of the portable 32-bit hash: the Spark
    expression pipeline, the DuckDB CTE, and a pure-Python replay of
    the multiply-xorshift stages must agree value-for-value (so a
    refactor of either SQL spelling cannot silently change every
    sketch oracle at once)."""
    import duckdb
    from pyspark.sql import functions as F

    from skdist_spark.operators.sketches import duck_hash32_cte, hash_stage_exprs

    def py_hash(x: int) -> int:
        h = (
            ((x & 0x7FFFFFFF) * 2654435761 & 0xFFFFFFFF)
            + (((x >> 30) & 0x7FFFFFFF) * 2246822507 & 0xFFFFFFFF)
            + (((x >> 61) & 7) * 1013904223)
        )
        h = (h ^ (h >> 16)) & 0x7FFFFFFF
        h = h * 2246822507 & 0xFFFFFFFF
        return h ^ (h >> 15)

    keys = [
        0, 1, 2, 7, 255, 65535, 123456789, 2**31 - 1, 2**31, 2**40 + 17,
        2**62 + 3, 2**63 - 1, -1, -123456789,
    ]
    df = spark.createDataFrame([(k,) for k in keys], "h bigint")
    for expr in hash_stage_exprs("h", "spark"):
        df = df.select(F.expr(expr).alias("h"))
    got_spark = [r.h for r in df.collect()]

    con = duckdb.connect()
    vals = ", ".join(f"({k}::BIGINT)" for k in keys)
    sql = duck_hash32_cte(f"SELECT 1 AS g, h FROM (VALUES {vals}) t(h)", "g")
    got_duck = [r[0] for r in con.execute(f"SELECT h FROM ({sql})").fetchall()]

    want = [py_hash(k) for k in keys]
    assert got_spark == want, (got_spark, want)
    assert sorted(got_duck) == sorted(want)
    assert all(0 <= h < 2**32 for h in want)
    # the high-bit fold means keys differing only in bits >= 31 no
    # longer collide (hash(0) == hash(2^31) before the r6 fix)
    assert len(set(want)) == len(keys), want


def test_embedding_covariance_matches_numpy(spark, sf_dir):
    """The quantized-exact covariance must agree with a float64 numpy
    covariance of the raw embeddings to within quantization error
    (coordinates are floored at 2^-14 resolution)."""
    import numpy as np

    from skdist_spark.operators.decomp import embedding_covariance
    from skdist_spark.sources.catalog import load_table

    rows = embedding_covariance(spark, sf_dir).collect()
    pdf = load_table(spark, "embeddings", sf_dir).select("embedding").toPandas()
    x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    c = np.cov(x, rowvar=False, bias=True)
    got = {(r.i, r.j): r.cov for r in rows}
    assert len(got) == x.shape[1] * (x.shape[1] + 1) // 2
    for (i, j), v in got.items():
        assert abs(v - c[i, j]) < 2e-4, (i, j, v, c[i, j])


def test_run_tasks_none_results_match_serial(spark):
    """A work function may legitimately return None: the distributed
    path must return it like the serial path, not report lost tasks."""
    from skdist_spark.operators._engine import run_tasks

    def work(t, s):
        return None

    assert run_tasks(spark, range(3), work) == run_tasks(None, range(3), work)


def _task_and_partition(t, s):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return (t, s * t), None if ctx is None else ctx.partitionId()


@pytest.mark.parametrize("n_tasks, partitions", [(7, 3), (3, 8)])
def test_run_tasks_explicit_partitions_keep_task_order(spark, n_tasks, partitions):
    """Several tasks per partition (7 in 3) and empty partitions (3 in
    8) return every result in task order, as the serial path does."""
    from skdist_spark.operators._engine import run_tasks

    got = run_tasks(spark, range(n_tasks), _task_and_partition, 10, partitions)
    want = run_tasks(None, range(n_tasks), _task_and_partition, 10, partitions)
    assert [r for r, _ in got] == [r for r, _ in want] == [(t, 10 * t) for t in range(n_tasks)]
    parts = [p for _, p in got]
    assert parts == sorted(parts) and len(set(parts)) == min(n_tasks, partitions)


def _write_zip_module(path, name, version):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", f"V = {version}\nPAD = {'x' * version!r}\n")


@pytest.fixture
def ungated_zipimport(monkeypatch):
    """The process's zipimporter without the re-read gate; the original
    method and flag are restored when the test ends."""
    import zipimport

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(zipimport.zipimporter, "_skdist_reread_gate", False, raising=False)
    return zipimport


def test_zip_reread_gate_skips_unchanged_archive(tmp_path, monkeypatch, ungated_zipimport):
    """With the gate installed, invalidate_caches re-reads an archive
    only when its stat key changed, and a changed archive is still
    picked up by a reload."""
    import importlib
    import sys

    from skdist_spark.operators._engine import gate_zip_rereads

    zipimport = ungated_zipimport
    name = "skdist_gate_probe_mod"
    archive = str(tmp_path / "mods.zip")
    _write_zip_module(archive, name, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, name, raising=False)
    mod = importlib.import_module(name)
    assert mod.V == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    gate_zip_rereads()
    wrapped = zipimport.zipimporter.invalidate_caches
    gate_zip_rereads()  # idempotent: one wrap per process
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert zipimport.zipimporter._skdist_reread_gate is True

    importlib.invalidate_caches()  # no saved key yet: reads once
    assert len(reads) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip_module(archive, name, 2)  # new size
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.reload(mod).V == 2

    reads.clear()
    (tmp_path / "mods.zip").unlink()  # failed stat: always re-read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2
    sys.modules.pop(name, None)


@pytest.mark.parametrize("method", ["predict", "predict_proba"])
def test_prediction_udfs_install_zip_reread_gate(ungated_zipimport, method):
    """Calling a prediction UDF's function installs the gate."""
    import pandas as pd

    model = LogisticRegression().fit(*_blobs(n=60, d=2, k=2))
    udf = get_prediction_udf(model, method=method)
    udf.func(pd.Series([0.0, 1.0]), pd.Series([1.0, 0.0]))
    assert ungated_zipimport.zipimporter._skdist_reread_gate is True


def _gate_flag(*_):
    import zipimport

    return bool(getattr(zipimport.zipimporter, "_skdist_reread_gate", False))


def test_spark_workers_install_zip_reread_gate(spark):
    """Engine tasks and prediction UDFs run with the gate installed in
    their Python worker (a flag check, not a timing test)."""
    from pyspark.sql import functions as F

    from skdist_spark.operators._engine import run_tasks

    assert run_tasks(spark, range(6), _gate_flag) == [True] * 6

    class FlagModel:
        classes_ = np.array([0, 1])

        def predict(self, X):
            return np.full(len(X), int(_gate_flag()), dtype=np.int64)

    predict = get_prediction_udf(FlagModel(), method="predict")
    rows = (
        spark.range(0, 64, 1, 8)
        .select(F.spark_partition_id().alias("part"), predict(F.col("id")).alias("flag"))
        .groupBy("part")
        .agg(F.min("flag").alias("flag"))
        .collect()
    )
    assert len(rows) == 8
    assert all(r.flag == 1 for r in rows)
