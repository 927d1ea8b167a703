"""Print a sha256 of every fitted model's arrays, for a fixed matrix of
seeded fits of the ``skdist_spark.ml`` learners the Dist* operators fan
out.

A change to a learner's numerics proves it keeps every bit by giving
the same output before and after. Run the two sides one after the
other; the copy of this script in an exported parent tree imports that
tree's package, because it puts its own repo root first on sys.path:

    d=$(mktemp -d)
    git archive <parent-commit> | tar -x -C "$d"
    mkdir -p "$d/tools" && cp tools/ml_fingerprint.py "$d/tools/"
    python "$d/tools/ml_fingerprint.py" > "$d/parent.txt"
    python tools/ml_fingerprint.py > "$d/change.txt"
    diff "$d/parent.txt" "$d/change.txt" && echo identical

This is a tool, not a test: BLAS (the LogisticRegression matmuls)
gives different bits on different CPUs, so the hashes are only
comparable between two runs on one machine.

Usage: python tools/ml_fingerprint.py   (~25 s)
Prints one ``<fit label> <sha256>`` line per fit, then a count line.
Each hash covers the model's attributes (trees and sub-estimators
walked recursively) and its predictions (``predict_proba`` for
classifiers, ``predict`` for regressors) on the training rows.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _feed(h, name: str, value) -> None:
    """Add ``value`` to hash ``h``: arrays by dtype, shape and bytes,
    estimators and trees by their attributes, the rest by repr."""
    h.update(name.encode())
    if isinstance(value, np.ndarray) or (
        isinstance(value, list) and value and isinstance(value[0], np.ndarray)
    ):
        arr = np.ascontiguousarray(np.asarray(value))
        h.update(f"{arr.dtype.str}{arr.shape}".encode())
        h.update(arr.tobytes())
    elif isinstance(value, (list, tuple)) and value and hasattr(value[0], "__dict__"):
        for i, v in enumerate(value):
            _feed(h, f"{name}[{i}]", v)
    elif hasattr(value, "__dict__") and not isinstance(value, type):
        for key in sorted(vars(value)):
            _feed(h, f"{name}.{key}", getattr(value, key))
    else:
        h.update(repr(value).encode())


def fingerprint(est, X) -> str:
    h = hashlib.sha256()
    _feed(h, type(est).__name__, est)
    out = est.predict_proba(X) if hasattr(est, "predict_proba") else est.predict(X)
    _feed(h, "prediction", np.asarray(out))
    return h.hexdigest()


def _data(seed: int, n: int, d: int, k: int, ints: bool):
    """Gaussian blobs around ``k`` class centres; ``ints`` rounds X to a
    few integer levels so many rows tie on every feature."""
    rng = np.random.RandomState(seed)
    y = rng.randint(0, k, n)
    centres = rng.normal(0, 1.5, (k, d))
    X = centres[y] + rng.normal(0, 1.0, (n, d))
    if ints:
        X = np.round(X)
    y_reg = X @ rng.normal(0, 1, d) + rng.normal(0, 0.5, n)
    return X, y, y_reg


def _weights(kind: str, n: int, seed: int):
    rng = np.random.RandomState(seed + 1000)
    if kind == "none":
        return None
    if kind == "float":
        return rng.uniform(0.2, 3.0, n)
    # the forest's bootstrap: integer counts with zeros
    return np.bincount(rng.randint(0, n, n), minlength=n).astype(np.float64)


def fits():
    """Yield ``(label, estimator, X, y, sample_weight)`` for every fit."""
    from skdist_spark.ml import (
        DecisionTreeClassifier,
        DecisionTreeRegressor,
        GaussianNB,
        GradientBoostingClassifier,
        GradientBoostingRegressor,
        LinearRegression,
        LogisticRegression,
        Ridge,
    )

    for seed, (n, d), k, ints, wk in itertools.product(
        (0, 1), ((300, 6), (1500, 12)), (2, 4, 9), (False, True), ("none", "float", "bootstrap")
    ):
        X, y, y_reg = _data(seed, n, d, k, ints)
        sw = _weights(wk, n, seed)
        tag = f"seed={seed} n={n} d={d} k={k} ints={int(ints)} w={wk}"
        for C, icpt in ((1.0, True), (0.05, False)):
            yield (f"LogisticRegression C={C} icpt={int(icpt)} {tag}",
                   LogisticRegression(C=C, fit_intercept=icpt, max_iter=150), X, y, sw)
        for depth, mf in ((None, None), (6, "sqrt"), (10, 0.5)):
            yield (f"DecisionTreeClassifier depth={depth} mf={mf} {tag}",
                   DecisionTreeClassifier(max_depth=depth, max_features=mf, random_state=seed),
                   X, y, sw)
        if k == 2:
            for depth, mf in ((None, None), (5, 1), (8, 0.5)):
                yield (f"DecisionTreeRegressor depth={depth} mf={mf} {tag}",
                       DecisionTreeRegressor(max_depth=depth, max_features=mf,
                                             min_samples_leaf=2, random_state=seed),
                       X, y_reg, sw)
            yield (f"GradientBoostingRegressor {tag}",
                   GradientBoostingRegressor(n_estimators=10), X, y_reg, sw)
            yield (f"GradientBoostingClassifier {tag}",
                   GradientBoostingClassifier(n_estimators=10), X, y, None)
            yield f"LinearRegression {tag}", LinearRegression(), X, y_reg, sw
            yield f"Ridge {tag}", Ridge(alpha=0.5), X, y_reg, None
            yield f"GaussianNB {tag}", GaussianNB(), X, y, None


def main() -> int:
    import skdist_spark

    # on stderr, so it stays out of the diff: which tree was hashed
    print(f"# skdist_spark from {os.path.dirname(skdist_spark.__file__)}", file=sys.stderr)
    count = 0
    for label, est, X, y, sw in fits():
        if sw is None:
            est.fit(X, y)
        else:
            est.fit(X, y, sample_weight=sw)
        print(label, fingerprint(est, X))
        count += 1
    print(f"# {count} fits")
    return 0


if __name__ == "__main__":
    sys.exit(main())
