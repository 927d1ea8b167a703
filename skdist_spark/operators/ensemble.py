"""Distributed tree ensembles — one Spark task per tree — and
out-of-fold predictions.

Reference parity: DistRandomForestClassifier/Regressor,
DistExtraTreesClassifier/Regressor, DistRandomTreesEmbedding
(skdist/distribute/ensemble.py:365-716). Each tree trains on broadcast
data in its own Spark task, then ships back pickled; the ensemble
aggregates probabilities/means on the driver at predict time. Every
tree, the embedding's too, is one ``_fit_tree_task`` seeded by
``_DistBaseForest._fit_forest``. A forest tree fits with its bootstrap
counts times ``sample_weight`` as row weights, and its splits see only
the rows of positive weight (the in-bag rows, as scikit-learn's
splitter skips zero-weight rows); extra-trees default to
no bootstrap (the full sample, weighted by ``sample_weight``) and use
the same CART splitter. The embedding's trees never bootstrap and,
having no target, regress on uniform noise drawn from their seed.

``get_single_oof`` is the one fold-prediction step: ``get_oof`` runs
it per fold as Spark tasks, and the searches' ``preds_`` run it per
fold on the driver. Its fit, like every task-grid fit, is
``_engine.fit_fold``.
"""

from __future__ import annotations

import numpy as np

from ..ml.base import BaseEstimator, ClassifierMixin, RegressorMixin, clone
from ..ml.tree import DecisionTreeClassifier, DecisionTreeRegressor
from ._engine import fit_fold, run_tasks, safe_indexing, strip_spark


def get_single_oof(clf, X, y, train_index, test_index, **fit_params):
    """Fit ``clf`` on the train rows and predict the test rows.

    Reference parity: skdist/distribute/ensemble.py:112-127 — same
    in-place fit, same (test_index, proba) return; the building block
    of out-of-fold stacking features and of the searches' ``preds_``.
    Per-row ``fit_params`` are sliced to the train rows. An estimator
    without ``predict_proba`` returns ``predict`` as one column.
    """
    fit_fold(clf, X, y, fit_params, train_index)
    X_test = safe_indexing(X, test_index)
    try:
        return test_index, clf.predict_proba(X_test)
    except AttributeError:
        return test_index, np.asarray(clf.predict(X_test)).reshape(-1, 1)


def _oof_task(task, shared: dict):
    """One fold's ``get_single_oof``, or (``task`` None) the full fit."""
    clf = clone(shared["clf"])
    if task is None:
        return fit_fold(clf, shared["X"], shared["y"], {})
    return get_single_oof(clf, shared["X"], shared["y"], *task)


def get_oof(clf, X, y, n_splits=5, sc=None, partitions="auto"):
    """Out-of-fold probabilities + full-data fit -> ``(model, oof)``.

    Reference parity: skdist/distribute/ensemble.py:130-151 (serial
    KFold loop). This version runs the n_splits fold fits AND the full
    fit as n_splits+1 independent Spark tasks on the task engine when
    ``sc`` is given (data broadcast once), serially otherwise — the
    returned numbers are identical either way, since every task fits a
    clone deterministically. ``oof[i]`` holds the class probabilities
    for row i predicted by the one fold that held row i out, so the
    matrix is a leak-free stacking feature; the returned model is a
    clone of ``clf`` fitted on ALL rows (the reference refits the
    passed-in object; a clone keeps the input untouched under
    distribution).
    """
    from ..ml.model_selection import KFold

    X = X if hasattr(X, "iloc") else np.asarray(X)
    y = np.asarray(y)
    oof = np.zeros((y.shape[0], len(np.unique(y))))
    tasks = list(KFold(n_splits=n_splits).split(X)) + [None]
    *fold_preds, model = run_tasks(sc, tasks, _oof_task, {"clf": clf, "X": X, "y": y}, partitions)
    for test_index, proba in fold_preds:
        oof[test_index] = proba
    strip_spark(model)
    return model, oof


def _fit_tree_task(task: dict, shared: dict):
    X = np.asarray(shared["X"], dtype=np.float64)
    seed = task["seed"]
    rng = np.random.RandomState(seed)
    est = clone(shared["base_tree"])
    est.set_params(random_state=seed)
    n = len(X)
    # no target (the embedding): regress on uniform noise, so the splits
    # become data-density partitions (scikit-learn's RandomTreesEmbedding)
    y = rng.uniform(size=n) if shared["y"] is None else np.asarray(shared["y"])
    sw = shared["sample_weight"]
    if shared["bootstrap"]:
        counts = np.bincount(rng.randint(0, n, n), minlength=n).astype(np.float64)
        sw = counts if sw is None else counts * sw
    est.fit(X, y, sample_weight=sw)
    return est


class _DistBaseForest(BaseEstimator):
    def __init__(
        self,
        n_estimators=100,
        sc=None,
        partitions="auto",
        max_depth=None,
        min_samples_split=2,
        min_samples_leaf=1,
        max_features="sqrt",
        bootstrap=True,
        random_state=None,
        verbose=0,
    ):
        self.n_estimators = n_estimators
        self.sc = sc
        self.partitions = partitions
        self.max_depth = max_depth
        self.min_samples_split = min_samples_split
        self.min_samples_leaf = min_samples_leaf
        self.max_features = max_features
        self.bootstrap = bootstrap
        self.random_state = random_state
        self.verbose = verbose

    _tree_cls = DecisionTreeClassifier

    def _base_tree(self):
        return self._tree_cls(
            max_depth=self.max_depth,
            min_samples_split=self.min_samples_split,
            min_samples_leaf=self.min_samples_leaf,
            max_features=self.max_features,
        )

    def _fit_forest(self, X, y, sample_weight):
        ss = np.random.SeedSequence(self.random_state)
        seeds = [int(s) % (2**31 - 1) for s in ss.generate_state(self.n_estimators)]
        tasks = [{"seed": s} for s in seeds]
        shared = {
            "X": np.asarray(X, dtype=np.float64),
            "y": None if y is None else np.asarray(y),
            "sample_weight": (
                None if sample_weight is None else np.asarray(sample_weight, dtype=np.float64)
            ),
            "base_tree": self._base_tree(),
            "bootstrap": self.bootstrap,
        }
        self.estimators_ = run_tasks(self.sc, tasks, _fit_tree_task, shared, self.partitions)
        strip_spark(self)
        return self


class DistRandomForestClassifier(_DistBaseForest, ClassifierMixin):
    _tree_cls = DecisionTreeClassifier

    def fit(self, X, y, sample_weight=None):
        self.classes_ = np.unique(np.asarray(y))
        return self._fit_forest(X, y, sample_weight)

    def predict_proba(self, X):
        # trees were fit on the full class set (classes_ from full y),
        # so per-tree probability matrices align by construction
        probs = None
        for est in self.estimators_:
            p = est.predict_proba(X)
            probs = p if probs is None else probs + p
        return probs / len(self.estimators_)

    def predict_log_proba(self, X):
        return np.log(self.predict_proba(X) + 1e-15)

    def predict(self, X):
        return self.classes_[np.argmax(self.predict_proba(X), axis=1)]


class DistRandomForestRegressor(_DistBaseForest, RegressorMixin):
    _tree_cls = DecisionTreeRegressor

    def fit(self, X, y, sample_weight=None):
        return self._fit_forest(X, y, sample_weight)

    def predict(self, X):
        preds = np.zeros(len(np.asarray(X)))
        for est in self.estimators_:
            preds += est.predict(X)
        return preds / len(self.estimators_)


class DistExtraTreesClassifier(DistRandomForestClassifier):
    """Extra-trees: no bootstrap by default (reference semantics)."""

    def __init__(self, n_estimators=100, sc=None, partitions="auto", max_depth=None,
                 min_samples_split=2, min_samples_leaf=1, max_features="sqrt",
                 bootstrap=False, random_state=None, verbose=0):
        super().__init__(
            n_estimators=n_estimators, sc=sc, partitions=partitions,
            max_depth=max_depth, min_samples_split=min_samples_split,
            min_samples_leaf=min_samples_leaf, max_features=max_features,
            bootstrap=bootstrap, random_state=random_state, verbose=verbose,
        )


class DistExtraTreesRegressor(DistRandomForestRegressor):
    def __init__(self, n_estimators=100, sc=None, partitions="auto", max_depth=None,
                 min_samples_split=2, min_samples_leaf=1, max_features="sqrt",
                 bootstrap=False, random_state=None, verbose=0):
        super().__init__(
            n_estimators=n_estimators, sc=sc, partitions=partitions,
            max_depth=max_depth, min_samples_split=min_samples_split,
            min_samples_leaf=min_samples_leaf, max_features=max_features,
            bootstrap=bootstrap, random_state=random_state, verbose=verbose,
        )


class DistRandomTreesEmbedding(_DistBaseForest):
    """Unsupervised leaf-index embedding (one tree per Spark task).

    Each tree is a ``DecisionTreeRegressor(max_depth, max_features=1,
    min_samples_leaf)`` fit without bootstrap on ``sample_weight``, to
    uniform noise drawn from its seed. A row's embedding is one-hot
    over every tree's leaves."""

    bootstrap = False

    def __init__(self, n_estimators=100, sc=None, partitions="auto",
                 max_depth=5, min_samples_leaf=1, random_state=None):
        self.n_estimators = n_estimators
        self.sc = sc
        self.partitions = partitions
        self.max_depth = max_depth
        self.min_samples_leaf = min_samples_leaf
        self.random_state = random_state

    def _base_tree(self):
        return DecisionTreeRegressor(
            max_depth=self.max_depth, max_features=1, min_samples_leaf=self.min_samples_leaf
        )

    def fit(self, X, y=None, sample_weight=None):
        self._fit_forest(X, None, sample_weight)
        # per tree, node id -> embedding column (-1 for split nodes)
        self._leaf_columns = []
        offset = 0
        for est in self.estimators_:
            leaf = np.asarray(est.tree_.feature) == -1
            cols = np.full(len(leaf), -1)
            cols[leaf] = offset + np.arange(leaf.sum())
            self._leaf_columns.append(cols)
            offset += int(leaf.sum())
        self.n_output_features_ = offset
        return self

    def transform(self, X):
        n = len(np.asarray(X))
        out = np.zeros((n, self.n_output_features_))
        rows = np.arange(n)
        for est, cols in zip(self.estimators_, self._leaf_columns):
            out[rows, cols[est.apply(X)]] = 1.0
        return out

    def fit_transform(self, X, y=None, sample_weight=None):
        return self.fit(X, y, sample_weight).transform(X)


class DistStackingClassifier(BaseEstimator, ClassifierMixin):
    """Stacked generalization with distributed, leak-free level-0
    features: each base estimator's out-of-fold probabilities (via
    ``get_oof`` — fold fits fan out as Spark tasks) become the meta
    learner's training matrix, so the meta model never sees a
    probability produced by a model that trained on that row.

    The workflow get_oof exists for (reference ensemble.py:112-151
    builds OOF features for exactly this), packaged as an estimator:

    - fit: n_bases x (n_splits + 1) independent fold/full fits, all
      distributed through the task engine; then one local meta fit on
      the (n, n_bases * n_classes) OOF matrix.
    - predict: base predict_proba (vectorizable via
      get_prediction_udf like any other fitted model) -> meta predict.
    """

    def __init__(self, estimators=None, final_estimator=None, n_splits=5, sc=None):
        self.estimators = estimators
        self.final_estimator = final_estimator
        self.n_splits = n_splits
        self.sc = sc

    def fit(self, X, y):
        from ..ml.linear import LogisticRegression

        if not self.estimators:
            raise ValueError("estimators must be a non-empty list of (name, est)")
        y = np.asarray(y)
        self.classes_ = np.unique(y)
        self.named_estimators_ = {}
        blocks = []
        for name, est in self.estimators:
            model, oof = get_oof(est, X, y, n_splits=self.n_splits, sc=self.sc)
            self.named_estimators_[name] = model
            blocks.append(oof)
        meta_X = np.hstack(blocks)
        self.final_estimator_ = clone(
            self.final_estimator
            if self.final_estimator is not None
            else LogisticRegression()
        )
        self.final_estimator_.fit(meta_X, y)
        strip_spark(self.final_estimator_)
        self.sc = None  # picklable after fit, like the other Dist* estimators
        return self

    def _meta_features(self, X):
        return np.hstack(
            [
                np.asarray(self.named_estimators_[name].predict_proba(X))
                for name, _ in self.estimators
            ]
        )

    def predict_proba(self, X):
        return self.final_estimator_.predict_proba(self._meta_features(X))

    def predict(self, X):
        return self.final_estimator_.predict(self._meta_features(X))
