"""Linear models (numpy, deterministic).

LogisticRegression: multinomial softmax, full-batch gradient descent
with fixed iteration count and L2 penalty — deterministic for a given
(data, params), which the oracle/driver checks rely on.

Exactness contract: a change here must keep every fitted bit (check
with ``tools/ml_fingerprint.py`` before and after). Both matmuls keep
their operands and operation order (``X @ W``, then ``X.T @ ...``
divided by ``n``): BLAS result bits depend on them.
"""

from __future__ import annotations

import numpy as np

from .base import BaseEstimator, ClassifierMixin, RegressorMixin, check_is_fitted, row_sum


def _as_2d(X) -> np.ndarray:
    X = np.asarray(X, dtype=np.float64)
    if X.ndim == 1:
        X = X.reshape(-1, 1)
    return X


def _row_max(z: np.ndarray) -> np.ndarray:
    """``z.max(axis=1)`` by columns (a max is exact in any order)."""
    out = z[:, 0].copy()
    for j in range(1, z.shape[1]):
        np.maximum(out, z[:, j], out=out)
    return out


def _softmax(z: np.ndarray) -> np.ndarray:
    """Row softmax of ``z``, computed in place: ``z`` is overwritten."""
    z -= _row_max(z)[:, None]
    np.exp(z, out=z)
    z /= row_sum(z)[:, None]
    return z


class LogisticRegression(BaseEstimator, ClassifierMixin):
    def __init__(self, C=1.0, max_iter=200, lr=0.1, tol=1e-6, fit_intercept=True, random_state=None):
        self.C = C
        self.max_iter = max_iter
        self.lr = lr
        self.tol = tol
        self.fit_intercept = fit_intercept
        self.random_state = random_state

    def fit(self, X, y, sample_weight=None):
        X = _as_2d(X)
        y = np.asarray(y)
        self.classes_, y_idx = np.unique(y, return_inverse=True)
        n, d = X.shape
        k = len(self.classes_)
        if k < 2:
            raise ValueError("LogisticRegression needs >=2 classes in y")
        if self.fit_intercept:
            X = np.hstack([X, np.ones((n, 1))])
            d += 1
        W = np.zeros((d, k))
        Y = np.eye(k)[y_idx]
        sw = np.ones(n) if sample_weight is None else np.asarray(sample_weight, dtype=np.float64)
        sw = sw / sw.sum() * n
        lam = 1.0 / (self.C * n)
        prev_loss = np.inf
        rows, sw_col, XT = np.arange(n), sw[:, None], X.T
        for _ in range(int(self.max_iter)):
            P = _softmax(X @ W)
            logp = P[rows, y_idx]
            P -= Y
            P *= sw_col
            G = XT @ P / n + lam * W
            if self.fit_intercept:
                G[-1, :] -= lam * W[-1, :]  # don't penalize intercept
            W -= self.lr * G
            logp += 1e-12
            np.log(logp, out=logp)
            logp *= sw
            loss = -np.sum(logp) / n
            if abs(prev_loss - loss) < self.tol:
                break
            prev_loss = loss
        self.coef_ = W[:-1, :].T if self.fit_intercept else W.T
        self.intercept_ = W[-1, :] if self.fit_intercept else np.zeros(k)
        self.n_features_in_ = X.shape[1] - (1 if self.fit_intercept else 0)
        return self

    def decision_function(self, X):
        check_is_fitted(self, "coef_")
        X = _as_2d(X)
        scores = X @ self.coef_.T + self.intercept_
        if len(self.classes_) == 2:
            return scores[:, 1] - scores[:, 0]
        return scores

    def predict_proba(self, X):
        check_is_fitted(self, "coef_")
        X = _as_2d(X)
        return _softmax(X @ self.coef_.T + self.intercept_)

    def predict_log_proba(self, X):
        return np.log(self.predict_proba(X) + 1e-15)

    def predict(self, X):
        return self.classes_[np.argmax(self.predict_proba(X), axis=1)]


class LinearRegression(BaseEstimator, RegressorMixin):
    def __init__(self, fit_intercept=True):
        self.fit_intercept = fit_intercept

    def fit(self, X, y, sample_weight=None):
        X = _as_2d(X)
        y = np.asarray(y, dtype=np.float64)
        if self.fit_intercept:
            X = np.hstack([X, np.ones((X.shape[0], 1))])
        if sample_weight is not None:
            w = np.sqrt(np.asarray(sample_weight, dtype=np.float64))
            X, y = X * w[:, None], y * w
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        if self.fit_intercept:
            self.coef_, self.intercept_ = beta[:-1], float(beta[-1])
        else:
            self.coef_, self.intercept_ = beta, 0.0
        return self

    def predict(self, X):
        check_is_fitted(self, "coef_")
        return _as_2d(X) @ self.coef_ + self.intercept_


class Ridge(BaseEstimator, RegressorMixin):
    def __init__(self, alpha=1.0, fit_intercept=True):
        self.alpha = alpha
        self.fit_intercept = fit_intercept

    def fit(self, X, y, sample_weight=None):
        X = _as_2d(X)
        y = np.asarray(y, dtype=np.float64)
        n, d = X.shape
        if self.fit_intercept:
            x_mean, y_mean = X.mean(axis=0), y.mean()
            Xc, yc = X - x_mean, y - y_mean
        else:
            Xc, yc = X, y
        A = Xc.T @ Xc + self.alpha * np.eye(d)
        self.coef_ = np.linalg.solve(A, Xc.T @ yc)
        self.intercept_ = float(y_mean - x_mean @ self.coef_) if self.fit_intercept else 0.0
        return self

    def predict(self, X):
        check_is_fitted(self, "coef_")
        return _as_2d(X) @ self.coef_ + self.intercept_
