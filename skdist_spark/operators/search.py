"""Distributed hyperparameter search meta-estimators.

Reference parity: DistGridSearchCV / DistRandomizedSearchCV /
DistMultiModelSearch (skdist/distribute/search.py:584,648,717) — same
constructor surface and fitted attributes (cv_results_, best_params_,
best_score_, best_estimator_, ...), re-expressed on the task-grid
engine (one Spark task per candidate×fold, data broadcast once).

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
from ._engine import fold_fit_params, rankdata_min, run_tasks, safe_indexing, strip_spark


def _fold_estimator(task: dict, shared: dict):
    """Unfitted clone of ``shared["estimator"]`` with ``task["params"]``."""
    est = clone(shared["estimator"])
    if task["params"]:
        est.set_params(**task["params"])
    return est


def _fit_fold(est, shared: dict, train) -> None:
    """Fit ``est`` on the ``train`` rows, per-row fit params sliced to them."""
    X, y = shared["X"], shared["y"]
    fit_params = fold_fit_params(X, shared["fit_params"], train)
    if y is None:
        est.fit(safe_indexing(X, train), **fit_params)
    else:
        est.fit(safe_indexing(X, train), safe_indexing(y, train), **fit_params)


def _fold_preds_task(task: dict, shared: dict) -> np.ndarray:
    """Fit one candidate on a fold's train rows; predict its test rows
    (``predict_proba``, else ``predict`` as one column)."""
    train, test = shared["folds"][task["fold_idx"]]
    est = _fold_estimator(task, shared)
    _fit_fold(est, shared, train)
    X_test = safe_indexing(shared["X"], test)
    try:
        return est.predict_proba(X_test)
    except Exception:
        return np.asarray(est.predict(X_test)).reshape(-1, 1)


def _fit_score_task(task: dict, shared: dict) -> dict:
    """One (candidate, fold) fit+score — runs inside a Spark task.

    Scores every scorer in ``shared["scorers"]`` (reference
    _multimetric_score, utils.py:18-42): ``test_scores`` /
    ``train_scores`` map metric name -> float. Single-metric callers
    use the one-entry ``{"score": ...}`` dict, same as the reference.
    """
    X, y = shared["X"], shared["y"]
    train, test = shared["folds"][task["fold_idx"]]
    est = _fold_estimator(task, shared)
    scorers = shared.get("scorers") or {"score": get_scorer(shared.get("scoring"))}

    def _score_all(Xs, ys):
        return {name: float(s(est, Xs, ys)) for name, s in scorers.items()}

    out = dict(task)
    t0 = time.perf_counter()
    try:
        _fit_fold(est, shared, train)
        out["fit_time"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        out["test_scores"] = _score_all(safe_indexing(X, test), safe_indexing(y, test))
        out["score_time"] = time.perf_counter() - t1
        if shared["return_train_score"]:
            out["train_scores"] = _score_all(
                safe_indexing(X, train), safe_indexing(y, train)
            )
    except Exception as exc:
        if shared["error_score"] == "raise":
            raise
        out["fit_time"] = time.perf_counter() - t0
        out["score_time"] = 0.0
        out["test_scores"] = {name: float(shared["error_score"]) for name in scorers}
        if shared["return_train_score"]:
            out["train_scores"] = dict(out["test_scores"])
        out["fit_error"] = repr(exc)
    # single-metric alias kept for callers that read a scalar
    out["test_score"] = next(iter(out["test_scores"].values()))
    out["n_test"] = len(test)
    return out


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

        tasks = [
            {"cand_idx": ci, "fold_idx": fi, "params": params}
            for ci, params in enumerate(candidates)
            for fi in range(n_splits)
        ]
        shared = {
            "X": X,
            "y": y,
            "folds": folds,
            "estimator": clone(estimator),
            "scorers": scorers,
            "fit_params": fit_params,
            "return_train_score": bool(self.return_train_score),
            "error_score": self.error_score,
        }
        results = run_tasks(self.sc, tasks, _fit_score_task, shared, self.partitions)

        names = list(scorers)
        test = {m: np.full((n_candidates, n_splits), np.nan) for m in names}
        train = {m: np.full((n_candidates, n_splits), np.nan) for m in names}
        fit_t = np.zeros((n_candidates, n_splits))
        score_t = np.zeros((n_candidates, n_splits))
        for r in results:
            ci, fi = r["cand_idx"], r["fold_idx"]
            fit_t[ci, fi] = r["fit_time"]
            score_t[ci, fi] = r["score_time"]
            for m in names:
                test[m][ci, fi] = r["test_scores"][m]
                if "train_scores" in r:
                    train[m][ci, fi] = r["train_scores"][m]

        # per-metric result columns; the single-metric scorer dict is
        # {"score": ...} so the classic *_score names fall out unchanged
        out: dict[str, Any] = {}
        mean_test = {m: test[m].mean(axis=1) for m in names}
        for m in names:
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
            for m in names:
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
            self.best_index_ = int(np.argmax(mean_test[refit_metric]))
            self.best_params_ = candidates[self.best_index_]
            self.best_score_ = float(mean_test[refit_metric][self.best_index_])

        if self.refit:
            best = clone(self.estimator).set_params(**self.best_params_)
            if y is None:
                best.fit(X, **fit_params)
            else:
                best.fit(X, y, **fit_params)
            self.best_estimator_ = best
            if self.preds:
                # the best candidate's fold fits, serially on the driver
                fold_tasks = [
                    {"fold_idx": fi, "params": self.best_params_} for fi in range(n_splits)
                ]
                preds = run_tasks(None, fold_tasks, _fold_preds_task, shared)
                self.preds_ = np.vstack(preds)

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


class DistMultiModelSearch(BaseEstimator):
    """Random search across multiple (name, estimator, param_space)
    models at once; all candidates of all models fan out in one Spark
    task wave (reference: search.py:717).
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

        candidates: list[tuple[int, dict]] = []
        for mi, (_, _, space) in enumerate(models):
            n_iter = min(self.n, len(ParameterGrid(space))) if all(
                not hasattr(v, "rvs") for v in space.values()
            ) else self.n
            sampler = ParameterSampler(
                space,
                n_iter,
                random_state=None if self.random_state is None else self.random_state + mi,
            )
            candidates.extend((mi, params) for params in sampler)

        tasks = [
            {"cand_idx": ci, "fold_idx": fi, "params": params, "model_idx": mi}
            for ci, (mi, params) in enumerate(candidates)
            for fi in range(len(folds))
        ]

        # the estimator differs per task -> ship the estimator list once
        def _work(task, shared):
            inner = dict(shared)
            inner["estimator"] = shared["estimators"][task["model_idx"]]
            return _fit_score_task(task, inner)

        shared = {
            "X": X,
            "y": y,
            "folds": folds,
            "estimators": [clone(m[1]) for m in models],
            "scoring": self.scoring,
            "fit_params": fit_params,
            "return_train_score": False,
            "error_score": np.nan,
        }
        results = run_tasks(self.sc, tasks, _work, shared, self.partitions)

        n_cand = len(candidates)
        scores = np.full((n_cand, len(folds)), np.nan)
        for r in results:
            scores[r["cand_idx"], r["fold_idx"]] = r["test_score"]
        mean_scores = scores.mean(axis=1)

        self.best_index_ = int(np.argmax(mean_scores))
        best_mi, best_params = candidates[self.best_index_]
        self.best_model_index_ = best_mi
        self.best_model_name_ = models[best_mi][0]
        self.best_params_ = best_params
        self.best_score_ = float(mean_scores[self.best_index_])
        self.cv_results_ = {
            "model_index": [mi for mi, _ in candidates],
            "model_name": [models[mi][0] for mi, _ in candidates],
            "params": [p for _, p in candidates],
            "mean_test_score": mean_scores.tolist(),
            "rank_test_score": rankdata_min(-mean_scores).tolist(),
        }
        if self.verbose:
            by_model = {}
            for (mi, _), s in zip(candidates, mean_scores):
                by_model[models[mi][0]] = max(by_model.get(models[mi][0], -np.inf), s)
            print(by_model)

        if self.refit:
            best = clone(models[best_mi][1]).set_params(**best_params)
            best.fit(X, y, **fit_params)
            self.best_estimator_ = best

        strip_spark(self)
        return self

    def predict(self, X):
        return self.best_estimator_.predict(X)

    def predict_proba(self, X):
        return self.best_estimator_.predict_proba(X)

    def decision_function(self, X):
        return self.best_estimator_.decision_function(X)

    @property
    def classes_(self):
        return self.best_estimator_.classes_
