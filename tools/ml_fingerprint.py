"""Print a sha256 of every fitted model's arrays, for a fixed matrix of
seeded fits of the ``skdist_spark.ml`` learners the Dist* operators fan
out, and of the Dist* operators themselves run serially (``sc=None``).

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

Usage: python tools/ml_fingerprint.py   (~35 s)
Prints one ``<fit label> <sha256>`` line per fit, then a count line.
Each hash covers the model's attributes (trees, sub-estimators and
dicts such as ``cv_results_`` walked recursively; entries named
``*_time`` dropped, as wall times differ between runs) and its
predictions (``predict_proba`` for classifiers, ``predict`` for
regressors, ``transform`` for ``DistRandomTreesEmbedding``) on the
training rows. A Dist* estimator's line hashes the
fitted results named in ``DIST_RESULTS`` that it has, not every
attribute, so a refactor may add bookkeeping; a ``get_oof`` line
hashes the returned model and the out-of-fold matrix.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import sys
import types

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _feed(h, name: str, value) -> None:
    """Add ``value`` to hash ``h``: arrays by dtype, shape and bytes,
    estimators and trees by their attributes, the rest by repr."""
    h.update(name.encode())
    if isinstance(value, np.ndarray) and value.dtype == object:
        h.update(repr(value.tolist()).encode())
    elif isinstance(value, np.ndarray) or (
        isinstance(value, list) and value and isinstance(value[0], np.ndarray)
    ):
        arr = np.ascontiguousarray(np.asarray(value))
        h.update(f"{arr.dtype.str}{arr.shape}".encode())
        h.update(arr.tobytes())
    elif isinstance(value, (list, tuple)) and value and hasattr(value[0], "__dict__"):
        for i, v in enumerate(value):
            _feed(h, f"{name}[{i}]", v)
    elif isinstance(value, dict):
        for key in sorted(value, key=str):
            if not str(key).endswith("_time"):
                _feed(h, f"{name}[{key}]", value[key])
    elif isinstance(value, types.FunctionType):
        h.update(value.__qualname__.encode())  # its repr holds an address
    elif hasattr(value, "__dict__") and not isinstance(value, type):
        for key in sorted(vars(value)):
            _feed(h, f"{name}.{key}", getattr(value, key))
    else:
        h.update(repr(value).encode())


# what a Dist* fit produces: search, eliminator, multiclass and forest results
DIST_RESULTS = (
    "cv_results_", "best_index_", "best_params_", "best_score_", "best_estimator_",
    "best_model_index_", "best_model_name_", "preds_", "n_splits_", "multimetric_",
    "scores_", "best_features_", "n_features_", "classes_", "pairs_", "estimators_",
    "n_output_features_",
)


def fingerprint(est, X, attrs=None) -> str:
    """Hash ``est``'s attributes (only those named in ``attrs`` if
    given) and its predictions on ``X`` (its ``transform`` output if it
    cannot predict)."""
    h = hashlib.sha256()
    if attrs is None:
        _feed(h, type(est).__name__, est)
    else:
        for name in attrs:
            if hasattr(est, name):
                _feed(h, name, getattr(est, name))
    if hasattr(est, "predict_proba"):
        out = est.predict_proba(X)
    elif hasattr(est, "predict"):
        out = est.predict(X)
    else:
        out = est.transform(X)
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
        for mss in (2, 20):
            yield (f"DecisionTreeClassifier mss={mss} mf=sqrt {tag}",
                   DecisionTreeClassifier(max_features="sqrt", min_samples_split=mss,
                                          random_state=seed),
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


def dist_fits():
    """Yield ``(label, fit)`` for every serial Dist* fit; ``fit()``
    returns ``(fitted estimator, extra array or None)``."""
    from skdist_spark.ml import DecisionTreeClassifier, GaussianNB, LogisticRegression
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
        DistRandomizedSearchCV,
        DistRandomTreesEmbedding,
        get_oof,
    )

    X, y, y_reg = _data(0, 300, 6, 3, False)
    sw = _weights("float", len(y), 0)
    multi = dict(cv=3, scoring=["accuracy", "neg_log_loss"], refit="neg_log_loss",
                 return_train_score=True, preds=True)
    makers = {
        "DistGridSearchCV lr multimetric preds": lambda: DistGridSearchCV(
            LogisticRegression(max_iter=80), {"C": [0.05, 1.0]}, **multi),
        "DistGridSearchCV tree accuracy": lambda: DistGridSearchCV(
            DecisionTreeClassifier(random_state=0),
            {"max_depth": [3, None], "max_features": [None, 0.5]}, cv=3),
        "DistRandomizedSearchCV lr multimetric preds": lambda: DistRandomizedSearchCV(
            LogisticRegression(max_iter=80), {"C": [0.01, 0.1, 1.0], "lr": [0.05, 0.1]},
            n_iter=3, random_state=4, **multi),
        "DistMultiModelSearch lr/tree/nb": lambda: DistMultiModelSearch(
            [("lr", LogisticRegression(max_iter=80), {"C": [0.05, 1.0]}),
             ("tree", DecisionTreeClassifier(random_state=0), {"max_depth": [2, 4, 6]}),
             ("nb", GaussianNB(), {})],
            n=2, cv=3, random_state=3, scoring="neg_log_loss"),
        "DistFeatureEliminator lr": lambda: DistFeatureEliminator(
            LogisticRegression(max_iter=80), min_features_to_select=2, step=2, cv=3),
        "DistFeatureEliminator tree": lambda: DistFeatureEliminator(
            DecisionTreeClassifier(max_depth=4, random_state=0), step=1, cv=3),
        "DistOneVsRestClassifier lr max_negatives=1.0": lambda: DistOneVsRestClassifier(
            LogisticRegression(max_iter=80), max_negatives=1.0, random_state=0),
        "DistOneVsRestClassifier tree max_negatives=40 count": lambda: DistOneVsRestClassifier(
            DecisionTreeClassifier(max_depth=4, random_state=0), max_negatives=40,
            method="count", random_state=1),
        "DistOneVsOneClassifier lr": lambda: DistOneVsOneClassifier(
            LogisticRegression(max_iter=80)),
    }
    for name, make in makers.items():
        for wk in ("none", "float"):
            fp = {} if wk == "none" else {"sample_weight": sw}
            yield f"{name} w={wk}", lambda make=make, fp=fp: (make().fit(X, y, **fp), None)

    forests = {
        "DistRandomForestClassifier": (DistRandomForestClassifier, y),
        "DistExtraTreesClassifier": (DistExtraTreesClassifier, y),
        "DistRandomForestRegressor": (DistRandomForestRegressor, y_reg),
        "DistExtraTreesRegressor": (DistExtraTreesRegressor, y_reg),
    }
    for (name, (cls, target)), (depth, mf, leaf) in itertools.product(
        forests.items(), ((6, "sqrt", 1), (None, 0.5, 1), (8, None, 3))
    ):
        yield (f"{name} depth={depth} mf={mf} min_samples_leaf={leaf}",
               lambda cls=cls, target=target, depth=depth, mf=mf, leaf=leaf: (
                   cls(n_estimators=5, max_depth=depth, max_features=mf,
                       min_samples_leaf=leaf, random_state=7).fit(X, target), None))

    for wk, leaf in itertools.product(("none", "float", "bootstrap"), (1, 3)):
        fp = {} if wk == "none" else {"sample_weight": _weights(wk, len(y), 0)}
        yield (f"DistRandomTreesEmbedding min_samples_leaf={leaf} w={wk}",
               lambda fp=fp, leaf=leaf: (DistRandomTreesEmbedding(
                   n_estimators=5, max_depth=4, min_samples_leaf=leaf, random_state=7
               ).fit(X, **fp), None))

    for name, clf in (("lr", LogisticRegression(max_iter=80)),
                      ("tree", DecisionTreeClassifier(max_depth=5, random_state=0))):
        yield f"get_oof {name} n_splits=4", lambda clf=clf: get_oof(clf, X, y, n_splits=4)


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
    X = _data(0, 300, 6, 3, False)[0]
    for label, fit in dist_fits():
        est, extra = fit()
        # get_oof returns a plain learner: hash all of it
        h = fingerprint(est, X, DIST_RESULTS if type(est).__name__.startswith("Dist") else None)
        if extra is not None:
            h = hashlib.sha256(f"{h} {extra.dtype.str}{extra.shape}".encode() + extra.tobytes())
            h = h.hexdigest()
        print(label, h)
        count += 1
    print(f"# {count} fits")
    return 0


if __name__ == "__main__":
    sys.exit(main())
