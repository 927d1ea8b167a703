"""Distributed multiclass meta-estimators.

Reference parity: DistOneVsRestClassifier / DistOneVsOneClassifier
(skdist/distribute/multiclass.py:27) — one Spark task per binary
problem (per class for OvR, per class-pair for OvO), training data
broadcast once. Includes the reference's ``max_negatives`` negative
down-sampling for OvR and meta-estimator unwrapping (a fitted inner
DistGridSearchCV contributes its best_estimator_).
"""

from __future__ import annotations

import numpy as np

from ..ml.base import BaseEstimator, ClassifierMixin, clone
from ._engine import fit_fold, run_tasks, strip_spark


def _unwrap_best(est):
    """Pull best_estimator_ out of a fitted meta-estimator
    (reference: multiclass.py:66 _use_best_estimator)."""
    return getattr(est, "best_estimator_", est)


def _fit_ovr_task(task: dict, shared: dict):
    X, y = shared["X"], shared["y"]
    cls = task["cls"]
    y_bin = (np.asarray(y) == cls).astype(np.int64)
    idx = np.arange(len(y_bin))
    mn = shared["max_negatives"]
    if mn is not None:
        pos = idx[y_bin == 1]
        neg = idx[y_bin == 0]
        if shared["mn_method"] == "ratio":
            n_keep = int(len(pos) * mn)
        else:
            n_keep = int(mn)
        if n_keep < len(neg):
            rng = np.random.RandomState(shared["random_state"])
            neg = rng.choice(neg, size=max(n_keep, 1), replace=False)
        idx = np.sort(np.concatenate([pos, neg]))
    est = fit_fold(clone(shared["estimator"]), X, y_bin, shared["fit_params"], idx)
    return _unwrap_best(est)


def _fit_ovo_task(task: dict, shared: dict):
    a, b = task["pair"]
    y_arr = np.asarray(shared["y"])
    idx = np.flatnonzero((y_arr == a) | (y_arr == b))
    y_bin = (y_arr == b).astype(np.int64)
    est = fit_fold(clone(shared["estimator"]), shared["X"], y_bin, shared["fit_params"], idx)
    return _unwrap_best(est)


class DistOneVsRestClassifier(BaseEstimator, ClassifierMixin):
    """One binary model per class, trained in parallel on Spark.

    Args mirror the reference (multiclass.py): ``norm`` applies L1/L2
    normalization to the stacked per-class probabilities;
    ``max_negatives``/``method`` down-sample negatives per binary
    problem (critical at extreme class counts).
    """

    def __init__(
        self,
        estimator,
        sc=None,
        partitions="auto",
        norm=None,
        max_negatives=None,
        method="ratio",
        random_state=None,
        verbose=0,
    ):
        self.estimator = estimator
        self.sc = sc
        self.partitions = partitions
        self.norm = norm
        self.max_negatives = max_negatives
        self.method = method
        self.random_state = random_state
        self.verbose = verbose

    def fit(self, X, y, **fit_params):
        self.classes_ = np.unique(np.asarray(y))
        tasks = [{"cls": c} for c in self.classes_]
        shared = {
            "X": X,
            "y": y,
            "estimator": clone(self.estimator),
            "fit_params": fit_params,
            "max_negatives": self.max_negatives,
            "mn_method": self.method,
            "random_state": self.random_state,
        }
        self.estimators_ = run_tasks(self.sc, tasks, _fit_ovr_task, shared, self.partitions)
        strip_spark(self)
        return self

    def _scores(self, X):
        cols = []
        for est in self.estimators_:
            if hasattr(est, "predict_proba"):
                cols.append(est.predict_proba(X)[:, 1])
            else:
                cols.append(est.decision_function(X))
        return np.column_stack(cols)

    def predict_proba(self, X):
        scores = self._scores(X)
        if self.norm == "l1":
            denom = np.abs(scores).sum(axis=1, keepdims=True)
            scores = scores / np.where(denom == 0, 1, denom)
        elif self.norm == "l2":
            denom = np.sqrt((scores**2).sum(axis=1, keepdims=True))
            scores = scores / np.where(denom == 0, 1, denom)
        else:
            denom = scores.sum(axis=1, keepdims=True)
            scores = scores / np.where(denom == 0, 1, denom)
        return scores

    def predict_log_proba(self, X):
        return np.log(self.predict_proba(X) + 1e-15)

    def decision_function(self, X):
        return self._scores(X)

    def predict(self, X):
        return self.classes_[np.argmax(self._scores(X), axis=1)]


class DistOneVsOneClassifier(BaseEstimator, ClassifierMixin):
    """One binary model per class pair, trained in parallel; vote-based
    prediction (reference: multiclass.py DistOneVsOneClassifier)."""

    def __init__(self, estimator, sc=None, partitions="auto", norm=None, verbose=0):
        self.estimator = estimator
        self.sc = sc
        self.partitions = partitions
        self.norm = norm
        self.verbose = verbose

    def fit(self, X, y, **fit_params):
        from itertools import combinations

        self.classes_ = np.unique(np.asarray(y))
        self.pairs_ = list(combinations(self.classes_, 2))
        tasks = [{"pair": p} for p in self.pairs_]
        shared = {
            "X": X,
            "y": y,
            "estimator": clone(self.estimator),
            "fit_params": fit_params,
        }
        self.estimators_ = run_tasks(self.sc, tasks, _fit_ovo_task, shared, self.partitions)
        strip_spark(self)
        return self

    def _votes(self, X):
        n = len(np.asarray(X))
        class_idx = {c: i for i, c in enumerate(self.classes_)}
        votes = np.zeros((n, len(self.classes_)))
        for (a, b), est in zip(self.pairs_, self.estimators_):
            pred_b = np.asarray(est.predict(X)).astype(bool)
            votes[~pred_b, class_idx[a]] += 1
            votes[pred_b, class_idx[b]] += 1
        return votes

    def predict(self, X):
        return self.classes_[np.argmax(self._votes(X), axis=1)]

    def predict_proba(self, X):
        votes = self._votes(X)
        return votes / votes.sum(axis=1, keepdims=True)

    def decision_function(self, X):
        return self._votes(X)
