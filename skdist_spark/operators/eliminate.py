"""Distributed CV-scored feature elimination.

Reference parity: DistFeatureEliminator (skdist/distribute/
eliminate.py:47-240): rank features by an initial fit's
coef_/feature_importances_, build stepped removal sets, CV-score every
(feature_subset × fold) as its own Spark task, keep the best subset
and refit on it. The scoring is ``search.cv_wave`` with one candidate
per feature subset, the same task wave as the searches.
"""

from __future__ import annotations

import numpy as np

from ..ml.base import BaseEstimator, ClassifierMixin, clone, is_classifier
from ..ml.metrics import get_scorer
from ..ml.model_selection import check_cv
from ._engine import fit_fold, strip_spark
from .search import cv_wave


class DistFeatureEliminator(BaseEstimator, ClassifierMixin):
    def __init__(
        self,
        estimator,
        sc=None,
        partitions="auto",
        min_features_to_select=None,
        step=1,
        cv=5,
        scoring=None,
        verbose=False,
        mask=True,
    ):
        self.estimator = estimator
        self.sc = sc
        self.partitions = partitions
        self.min_features_to_select = min_features_to_select
        self.step = step
        self.cv = cv
        self.scoring = scoring
        self.verbose = verbose
        self.mask = mask

    def fit(self, X, y=None, groups=None, **fit_params):
        X = np.asarray(X, dtype=np.float64)
        n_features = X.shape[1]
        min_keep = (
            n_features // 2
            if self.min_features_to_select is None
            else self.min_features_to_select
        )
        step = (
            int(max(1, self.step * n_features)) if 0.0 < self.step < 1.0 else int(self.step)
        )
        if step <= 0:
            raise ValueError("step must be > 0")

        initial = fit_fold(clone(self.estimator), X, y, fit_params)
        coefs = getattr(initial, "coef_", None)
        if coefs is None:
            coefs = getattr(initial, "feature_importances_", None)
        if coefs is None:
            raise RuntimeError(
                "estimator exposes neither coef_ nor feature_importances_"
            )
        coefs = np.asarray(coefs, dtype=np.float64)
        ranks = (
            np.argsort((coefs**2).sum(axis=0)) if coefs.ndim > 1 else np.argsort(coefs**2)
        )
        ranks = np.ravel(ranks)[: n_features - min_keep]

        remove_sets: list[np.ndarray] = [np.array([], dtype=int)]
        removed = 0
        while removed < n_features - min_keep:
            removed += step
            remove_sets.append(ranks[:removed])
        keep_sets = [np.delete(np.arange(n_features), rem) for rem in remove_sets]

        cv = check_cv(self.cv, y, is_classifier(self.estimator))
        folds = list(cv.split(X, y, groups))
        test, *_ = cv_wave(
            self.sc, self.partitions, X, y, folds, [self.estimator],
            [(0, {}, keep) for keep in keep_sets], {"score": get_scorer(self.scoring)},
            fit_params, error_score="raise",
        )
        self.scores_ = test["score"].mean(axis=1).tolist()
        best = int(np.argmax(self.scores_))
        self.best_score_ = float(self.scores_[best])
        self.best_features_ = keep_sets[best]
        self.n_features_ = len(self.best_features_)
        self.best_estimator_ = fit_fold(
            clone(self.estimator), X[:, self.best_features_], y, fit_params
        )
        strip_spark(self)
        return self

    def _apply_mask(self, X):
        if self.mask:
            return np.asarray(X, dtype=np.float64)[:, self.best_features_]
        return X

    def predict(self, X):
        return self.best_estimator_.predict(self._apply_mask(X))

    def predict_proba(self, X):
        return self.best_estimator_.predict_proba(self._apply_mask(X))

    def predict_log_proba(self, X):
        return self.best_estimator_.predict_log_proba(self._apply_mask(X))

    def decision_function(self, X):
        return self.best_estimator_.decision_function(self._apply_mask(X))

    def score(self, X, y):
        return self.best_estimator_.score(self._apply_mask(X), y)

    @property
    def classes_(self):
        return self.best_estimator_.classes_
