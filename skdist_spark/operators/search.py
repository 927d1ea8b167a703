"""Distributed hyperparameter search meta-estimators, and the one
cross-validation wave every Dist* CV estimator runs.

Reference parity: DistGridSearchCV / DistRandomizedSearchCV /
DistMultiModelSearch (skdist/distribute/search.py:584,648,717) — same
constructor surface and fitted attributes (cv_results_, best_params_,
best_score_, best_estimator_, ...), re-expressed on the task-grid
engine (one Spark task per candidate×fold, data broadcast once).

``cv_wave`` is that (candidate × fold) grid: a candidate is (index into
a shipped estimator list, params, feature subset or None), and every
task is one ``_fit_score_task``. The searches use it with one
estimator, DistMultiModelSearch with its model list, and
DistFeatureEliminator (``eliminate.py``) with one candidate per
feature subset. Every fit, here and in the other task grids, goes
through ``_engine.fit_fold``; the ``preds=True`` fold predictions are
``ensemble.get_single_oof``, as in ``get_oof``.

Works with any estimator speaking the sklearn protocol — the bundled
``skdist_spark.ml`` estimators or real scikit-learn objects.
"""

from __future__ import annotations

import time
from typing import Any

import numpy as np

from ..ml.base import BaseEstimator, clone, is_classifier
from ..ml.metrics import check_multimetric_scoring, get_scorer
from ..ml.model_selection import ParameterGrid, ParameterSampler, check_cv
from ._engine import fit_fold, rankdata_min, run_tasks, safe_indexing, strip_spark
from .ensemble import get_single_oof


def _fit_score_task(task: tuple[int, int], shared: dict) -> dict:
    """One (candidate, fold) fit and score — runs inside a Spark task.

    Scores every scorer in ``shared["scorers"]`` (reference
    _multimetric_score, utils.py:18-42): ``test`` / ``train`` map
    metric name -> float. A failed fit scores ``error_score`` unless
    that is ``"raise"``.
    """
    cand_idx, fold_idx = task
    est_idx, params, features = shared["candidates"][cand_idx]
    X, y = shared["X"], shared["y"]
    if features is not None:
        X = X[:, features]
    train, test = shared["folds"][fold_idx]
    est = clone(shared["estimators"][est_idx])
    if params:
        est.set_params(**params)
    scorers = shared["scorers"]

    def _score_all(rows):
        Xs, ys = safe_indexing(X, rows), safe_indexing(y, rows)
        return {name: float(s(est, Xs, ys)) for name, s in scorers.items()}

    out = {}
    t0 = time.perf_counter()
    try:
        fit_fold(est, X, y, shared["fit_params"], train)
        out["fit_time"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        out["test"] = _score_all(test)
        out["score_time"] = time.perf_counter() - t1
        if shared["return_train_score"]:
            out["train"] = _score_all(train)
    except Exception:
        if shared["error_score"] == "raise":
            raise
        out["fit_time"] = time.perf_counter() - t0
        out["score_time"] = 0.0
        out["test"] = {name: float(shared["error_score"]) for name in scorers}
        if shared["return_train_score"]:
            out["train"] = dict(out["test"])
    return out


def cv_wave(
    sc,
    partitions,
    X,
    y,
    folds: list,
    estimators: list,
    candidates: list[tuple[int, dict, Any]],
    scorers: dict,
    fit_params: dict,
    return_train_score: bool = False,
    error_score=np.nan,
) -> tuple[dict, dict, np.ndarray, np.ndarray]:
    """Fit and score every (candidate, fold) pair in one task wave.

    ``candidates`` holds ``(index into estimators, params, feature
    columns or None)``; tasks run candidate-major, one per pair.
    Returns ``(test, train, fit_time, score_time)``: ``test``/``train``
    map each scorer name to an (n_candidates, n_splits) score array
    (``train`` is empty unless ``return_train_score``), the times are
    (n_candidates, n_splits) seconds.
    """
    shape = (len(candidates), len(folds))
    tasks = [(ci, fi) for ci in range(shape[0]) for fi in range(shape[1])]
    shared = {
        "X": X,
        "y": y,
        "folds": folds,
        "estimators": [clone(e) for e in estimators],
        "candidates": candidates,
        "scorers": scorers,
        "fit_params": fit_params,
        "return_train_score": bool(return_train_score),
        "error_score": error_score,
    }
    results = run_tasks(sc, tasks, _fit_score_task, shared, partitions)

    def grid(values) -> np.ndarray:
        return np.array(values, dtype=np.float64).reshape(shape)

    test = {m: grid([r["test"][m] for r in results]) for m in scorers}
    train = {}
    if return_train_score:
        train = {m: grid([r["train"][m] for r in results]) for m in scorers}
    return (test, train, grid([r["fit_time"] for r in results]),
            grid([r["score_time"] for r in results]))


class DistBaseSearchCV(BaseEstimator):
    """Common fit machinery; subclasses supply the candidate iterator."""

    def __init__(self, estimator, sc=None, partitions="auto", preds=False):
        self.estimator = estimator
        self.sc = sc
        self.partitions = partitions
        self.preds = preds

    def _get_param_iterator(self):  # pragma: no cover - abstract
        raise NotImplementedError

    def fit(self, X, y=None, groups=None, **fit_params):
        estimator = self.estimator
        cv = check_cv(self.cv, y, classifier=is_classifier(estimator))
        folds = list(cv.split(X, y, groups))
        n_splits = len(folds)
        candidates = list(self._get_param_iterator())
        n_candidates = len(candidates)
        scorers, multimetric = check_multimetric_scoring(estimator, self.scoring)
        if multimetric and self.refit and (
            not isinstance(self.refit, str) or self.refit not in scorers
        ):
            raise ValueError(
                "For multi-metric scoring, refit must name one of the "
                f"scorers {sorted(scorers)} (or be False); got {self.refit!r}"
            )
        if self.verbose:
            print(
                f"Fitting {n_splits} folds for each of {n_candidates} candidates,"
                f" totalling {n_candidates * n_splits} fits"
            )

        test, train, fit_t, score_t = cv_wave(
            self.sc, self.partitions, X, y, folds, [estimator],
            [(0, params, None) for params in candidates], scorers, fit_params,
            self.return_train_score, self.error_score,
        )

        # per-metric result columns; the single-metric scorer dict is
        # {"score": ...} so the classic *_score names fall out unchanged
        out: dict[str, Any] = {}
        mean_test = {m: test[m].mean(axis=1) for m in scorers}
        for m in scorers:
            out[f"mean_test_{m}"] = mean_test[m]
            out[f"std_test_{m}"] = test[m].std(axis=1)
            for fi in range(n_splits):
                out[f"split{fi}_test_{m}"] = test[m][:, fi]
            out[f"rank_test_{m}"] = rankdata_min(-mean_test[m])
        out["mean_fit_time"] = fit_t.mean(axis=1)
        out["std_fit_time"] = fit_t.std(axis=1)
        out["mean_score_time"] = score_t.mean(axis=1)
        out["std_score_time"] = score_t.std(axis=1)
        if self.return_train_score:
            for m in scorers:
                out[f"mean_train_{m}"] = train[m].mean(axis=1)
                out[f"std_train_{m}"] = train[m].std(axis=1)
                for fi in range(n_splits):
                    out[f"split{fi}_train_{m}"] = train[m][:, fi]
        out["params"] = candidates
        param_names = sorted({k for p in candidates for k in p})
        for name in param_names:
            out[f"param_{name}"] = np.array(
                [p.get(name, None) for p in candidates], dtype=object
            )
        self.cv_results_ = out
        self.n_splits_ = n_splits
        self.multimetric_ = multimetric
        self.scorer_ = scorers if multimetric else scorers["score"]

        refit_metric = self.refit if multimetric else "score"
        if not multimetric or self.refit:
            # the rank puts failed (NaN) candidates last; argmax would pick one
            self.best_index_ = int(np.argmin(out[f"rank_test_{refit_metric}"]))
            self.best_params_ = candidates[self.best_index_]
            self.best_score_ = float(mean_test[refit_metric][self.best_index_])

        if self.refit:
            def best():
                return clone(self.estimator).set_params(**self.best_params_)

            self.best_estimator_ = fit_fold(best(), X, y, fit_params)
            if self.preds:
                # the best candidate's fold fits, serially on the driver
                self.preds_ = np.vstack([
                    get_single_oof(best(), X, y, tr, te, **fit_params)[1] for tr, te in folds
                ])

        strip_spark(self)
        return self

    # reference API: get_preds/drop_preds (search.py:573-581)
    def get_preds(self):
        return getattr(self, "preds_", None)

    def drop_preds(self):
        if hasattr(self, "preds_"):
            del self.preds_

    # delegation to the refit best estimator
    def _best(self):
        if not getattr(self, "best_estimator_", None):
            raise RuntimeError("not fitted or refit=False")
        return self.best_estimator_

    def predict(self, X):
        return self._best().predict(X)

    def predict_proba(self, X):
        return self._best().predict_proba(X)

    def predict_log_proba(self, X):
        return self._best().predict_log_proba(X)

    def decision_function(self, X):
        return self._best().decision_function(X)

    def score(self, X, y=None):
        if getattr(self, "multimetric_", False):
            return self.scorer_[self.refit](self._best(), X, y)
        return self.scorer_(self._best(), X, y)

    @property
    def classes_(self):
        return self._best().classes_


class DistGridSearchCV(DistBaseSearchCV):
    """Exhaustive grid search, one Spark task per candidate×fold."""

    def __init__(
        self,
        estimator,
        param_grid,
        sc=None,
        partitions="auto",
        preds=False,
        scoring=None,
        refit=True,
        cv=5,
        verbose=0,
        error_score=np.nan,
        return_train_score=False,
    ):
        super().__init__(estimator, sc=sc, partitions=partitions, preds=preds)
        self.param_grid = param_grid
        self.scoring = scoring
        self.refit = refit
        self.cv = cv
        self.verbose = verbose
        self.error_score = error_score
        self.return_train_score = return_train_score

    def _get_param_iterator(self):
        return ParameterGrid(self.param_grid)


class DistRandomizedSearchCV(DistBaseSearchCV):
    """Sampled search, one Spark task per sampled-candidate×fold."""

    def __init__(
        self,
        estimator,
        param_distributions,
        sc=None,
        partitions="auto",
        preds=False,
        n_iter=10,
        scoring=None,
        refit=True,
        cv=5,
        verbose=0,
        random_state=None,
        error_score=np.nan,
        return_train_score=False,
    ):
        super().__init__(estimator, sc=sc, partitions=partitions, preds=preds)
        self.param_distributions = param_distributions
        self.n_iter = n_iter
        self.scoring = scoring
        self.refit = refit
        self.cv = cv
        self.verbose = verbose
        self.random_state = random_state
        self.error_score = error_score
        self.return_train_score = return_train_score

    def _get_param_iterator(self):
        return ParameterSampler(
            self.param_distributions, self.n_iter, random_state=self.random_state
        )


class DistMultiModelSearch(DistBaseSearchCV):
    """Random search across multiple (name, estimator, param_space)
    models at once; all candidates of all models fan out in one Spark
    task wave (reference: search.py:717). Prediction delegates to the
    refit best model as in the other searches.
    """

    def __init__(
        self,
        models,
        sc=None,
        partitions="auto",
        n=5,
        cv=5,
        scoring=None,
        random_state=None,
        verbose=0,
        refit=True,
    ):
        self.models = models
        self.sc = sc
        self.partitions = partitions
        self.n = n
        self.cv = cv
        self.scoring = scoring
        self.random_state = random_state
        self.verbose = verbose
        self.refit = refit

    def fit(self, X, y=None, groups=None, **fit_params):
        models = list(self.models)
        cv = check_cv(self.cv, y, classifier=is_classifier(models[0][1]))
        folds = list(cv.split(X, y, groups))

        candidates: list[tuple[int, dict, None]] = []
        for mi, (_, _, space) in enumerate(models):
            n_iter = min(self.n, len(ParameterGrid(space))) if all(
                not hasattr(v, "rvs") for v in space.values()
            ) else self.n
            sampler = ParameterSampler(
                space,
                n_iter,
                random_state=None if self.random_state is None else self.random_state + mi,
            )
            candidates.extend((mi, params, None) for params in sampler)

        self.scorer_ = get_scorer(self.scoring)
        test, *_ = cv_wave(
            self.sc, self.partitions, X, y, folds, [m[1] for m in models], candidates,
            {"score": self.scorer_}, fit_params,
        )
        mean_scores = test["score"].mean(axis=1)
        ranks = rankdata_min(-mean_scores)

        self.best_index_ = int(np.argmin(ranks))
        best_mi, best_params, _ = candidates[self.best_index_]
        self.best_model_index_ = best_mi
        self.best_model_name_ = models[best_mi][0]
        self.best_params_ = best_params
        self.best_score_ = float(mean_scores[self.best_index_])
        self.cv_results_ = {
            "model_index": [c[0] for c in candidates],
            "model_name": [models[c[0]][0] for c in candidates],
            "params": [c[1] for c in candidates],
            "mean_test_score": mean_scores.tolist(),
            "rank_test_score": ranks.tolist(),
        }
        if self.verbose:
            by_model = {}
            for (mi, _, _), s in zip(candidates, mean_scores):
                by_model[models[mi][0]] = max(by_model.get(models[mi][0], -np.inf), s)
            print(by_model)

        if self.refit:
            best = clone(models[best_mi][1]).set_params(**best_params)
            self.best_estimator_ = fit_fold(best, X, y, fit_params)

        strip_spark(self)
        return self
