"""Estimator protocol base classes (sklearn-compatible semantics).

Mirrors the behavioral contract the reference relies on
(reference: skdist/distribute/base.py:8-50 uses sklearn.base.clone);
implemented from the public protocol description, not ported code.
"""

from __future__ import annotations

import copy
import inspect
from typing import Any

import numpy as np

# numpy adds a row of fewer than 8 entries left to right from 0.0; from
# 8 entries up it adds them pairwise in 8 accumulators
_PAIRWISE_MIN = 8


def row_sum(a: np.ndarray) -> np.ndarray:
    """``a.sum(axis=-1)``, bit for bit, by column adds below
    ``_PAIRWISE_MIN`` columns (numpy's per-row reduce costs ~50 ns a
    row). From ``_PAIRWISE_MIN`` up numpy sums pairwise, which column
    adds cannot reproduce, so numpy's own reduction runs. The ``+ 0.0``
    start makes a -0.0 sum to 0.0, as in numpy.
    """
    k = a.shape[-1]
    if k >= _PAIRWISE_MIN:
        return a.sum(axis=-1)
    out = a[..., 0] + 0.0 if k else np.zeros(a.shape[:-1])
    for j in range(1, k):
        out += a[..., j]
    return out


class BaseEstimator:
    """get_params/set_params via __init__ signature introspection."""

    @classmethod
    def _param_names(cls) -> list[str]:
        sig = inspect.signature(cls.__init__)
        return [
            p.name
            for p in sig.parameters.values()
            if p.name != "self" and p.kind not in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
        ]

    def get_params(self, deep: bool = True) -> dict[str, Any]:
        out: dict[str, Any] = {}
        for name in self._param_names():
            value = getattr(self, name, None)
            out[name] = value
            if deep and hasattr(value, "get_params"):
                for k, v in value.get_params(deep=True).items():
                    out[f"{name}__{k}"] = v
        return out

    def set_params(self, **params: Any):
        if not params:
            return self
        valid = set(self._param_names())
        nested: dict[str, dict[str, Any]] = {}
        for key, value in params.items():
            if "__" in key:
                head, _, tail = key.partition("__")
                nested.setdefault(head, {})[tail] = value
            elif key in valid:
                setattr(self, key, value)
            else:
                raise ValueError(f"Invalid parameter {key!r} for {type(self).__name__}")
        for head, sub in nested.items():
            getattr(self, head).set_params(**sub)
        return self

    def __repr__(self) -> str:
        params = ", ".join(f"{k}={v!r}" for k, v in self.get_params(deep=False).items())
        return f"{type(self).__name__}({params})"


class ClassifierMixin:
    _estimator_type = "classifier"

    def score(self, X, y) -> float:
        from .metrics import accuracy_score

        return accuracy_score(y, self.predict(X))


class RegressorMixin:
    _estimator_type = "regressor"

    def score(self, X, y) -> float:
        from .metrics import r2_score

        return r2_score(y, self.predict(X))


class TransformerMixin:
    def fit_transform(self, X, y=None, **fit_params):
        return self.fit(X, y, **fit_params).transform(X)


def clone(estimator, safe: bool = True):
    """Unfitted copy with identical params (works for sklearn objects too)."""
    if estimator is None or isinstance(estimator, (int, float, str, bool)):
        return estimator
    if isinstance(estimator, (list, tuple)):
        return type(estimator)(clone(e, safe=safe) for e in estimator)
    if not hasattr(estimator, "get_params"):
        if not safe:
            return copy.deepcopy(estimator)
        raise TypeError(f"Cannot clone {estimator!r}: no get_params")
    params = estimator.get_params(deep=False)
    return type(estimator)(**{k: clone(v, safe=False) for k, v in params.items()})


def is_classifier(estimator) -> bool:
    return getattr(estimator, "_estimator_type", None) == "classifier"


def check_is_fitted(estimator, attr: str) -> None:
    if not hasattr(estimator, attr):
        raise RuntimeError(
            f"{type(estimator).__name__} is not fitted (missing {attr!r}); call fit first"
        )
