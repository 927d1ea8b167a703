"""Distributed task-grid execution engine.

The reference's core trick (skdist/distribute/search.py:410-437,
ensemble, multiclass, eliminate — all variants of it) is: enumerate a
grid of small independent training tasks, broadcast the training data
once, run one task per Spark task, collect small results.

This rebuild keeps that shape: one RDD job per task grid,
``parallelize(range(n_tasks), n_parts).mapPartitions``, with contiguous
task ids per partition (one task each by default) and each result sent
back cloudpickled next to its task id. The broadcast needs a
SparkContext, so the engine runs on classic Spark, not Spark Connect.

Scale posture: the collected payloads are (score, params, small
model) tuples — never training data — so driver memory stays O(#tasks),
and the broadcast is one copy per executor regardless of task count.
Per-Python-task fixed cost: a reused worker's per-task
``importlib.invalidate_caches()`` re-parsed pyspark.zip in each of its
~16 zipimporters (~0.22 s CPU per task on CPython 3.11);
``gate_zip_rereads`` skips that while the archive is unchanged (~0.02 s).
"""

from __future__ import annotations

import os
import pickle
import zipimport
from collections.abc import Callable, Iterable, Sequence
from typing import Any

import numpy as np


def gate_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_ino, st_size, st_mtime_ns)`` differs from the key
    saved at its last read; a failed ``os.stat`` always re-reads.
    Importers over one archive share its last read, as zipimport's own
    directory cache already does at construction.

    Idempotent per process: the ``_skdist_reread_gate`` class attribute
    records the wrap. The saved keys live in this closure, not in a
    module global, because the engine's functions reach workers pickled
    by value (a module dict would arrive as a fresh copy each time).
    """
    cls = zipimport.zipimporter
    if getattr(cls, "_skdist_reread_gate", False):
        return
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    keys: dict[str, tuple[int, int, int]] = {}  # archive -> key of cache[archive]

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        files = cache.get(self.archive)
        if key is not None and files is not None and keys.get(self.archive) == key:
            self._files = files
            return
        keys.pop(self.archive, None)
        reread(self)
        if key is not None and self.archive in cache:
            keys[self.archive] = key

    cls.invalidate_caches = invalidate_caches
    cls._skdist_reread_gate = True


def parse_partitions(partitions, n_tasks: int) -> int:
    """'auto' -> one partition per task (reference base.py:53 behavior)."""
    if partitions in (None, "auto"):
        return max(1, n_tasks)
    return max(1, int(partitions))


def run_tasks(
    sc,
    tasks: Sequence[Any],
    work_fn: Callable[[Any, Any], Any],
    shared: Any = None,
    partitions="auto",
) -> list[Any]:
    """Run ``work_fn(task, shared)`` for every task, preserving order.

    With no Spark handle, runs serially (reference parity: joblib path).
    With Spark (a SparkSession or a SparkContext, as the reference's
    ``sc``), broadcasts ``shared`` + the task list once and runs the
    tasks as one RDD job.
    """
    tasks = list(tasks)
    if not tasks:
        return []
    if sc is None:
        return [work_fn(t, shared) for t in tasks]
    context = getattr(sc, "sparkContext", sc)

    n_parts = parse_partitions(partitions, len(tasks))
    # cloudpickle (vendored in pyspark) so closures/lambdas work as work_fn.
    # Register every skdist_spark module for BY-VALUE pickling: python
    # workers then need no skdist_spark on their PYTHONPATH — the code
    # travels inside the broadcast, like a self-shipping UDF.
    import sys

    from pyspark import cloudpickle

    if hasattr(cloudpickle, "register_pickle_by_value"):
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("skdist_spark") and mod is not None:
                try:
                    cloudpickle.register_pickle_by_value(mod)
                except Exception:
                    pass

    bc = context.broadcast(cloudpickle.dumps((tasks, shared, work_fn)))

    def _run_partition(ids):
        gate_zip_rereads()
        from pyspark import cloudpickle as cp

        tasks_l, shared_l, fn = pickle.loads(bc.value)
        for i in ids:
            # cloudpickle on the worker too: results may hold instances of
            # classes that traveled by value and differ from importables
            yield i, cp.dumps(fn(tasks_l[i], shared_l))

    # parallelize slices a range into contiguous equal id ranges, one per
    # partition, without serializing the ids
    ids = context.parallelize(range(len(tasks)), n_parts)
    out = ids.mapPartitions(_run_partition).collect()
    bc.unpersist()
    results: list[Any] = [None] * len(tasks)
    for i, payload in out:
        results[i] = pickle.loads(payload)
    missing = sorted(set(range(len(tasks))) - {i for i, _ in out})
    if missing:
        raise RuntimeError(f"distributed tasks lost results for ids {missing[:5]}...")
    return results


def safe_indexing(X, indices):
    """Row-subset numpy arrays, pandas frames, or python sequences."""
    if X is None:
        return None
    if hasattr(X, "iloc"):
        return X.iloc[indices]
    X = np.asarray(X) if not isinstance(X, np.ndarray) else X
    return X[indices]


def _n_rows(v) -> int | None:
    shape = getattr(v, "shape", None)
    if shape is not None:
        return shape[0] if len(shape) else None
    return len(v) if isinstance(v, (list, tuple)) else None


def fold_fit_params(X, fit_params: dict, indices) -> dict:
    """``fit_params`` for a fit on rows ``indices`` of ``X``.

    Every param with one entry per row of ``X`` (``sample_weight`` and
    the like) is row-subset like ``X``; the rest pass through unchanged
    (scikit-learn's ``_check_method_params`` rule).
    """
    n = _n_rows(X)
    return {
        k: safe_indexing(v, indices) if n is not None and _n_rows(v) == n else v
        for k, v in fit_params.items()
    }


def fit_fold(est, X, y, fit_params: dict, rows=None):
    """Fit ``est`` on rows ``rows`` of ``X`` and ``y`` (all rows if
    None), per-row fit params sliced to them; returns ``est``.

    The one fit step of every task grid: search and eliminator folds,
    OvR/OvO binary problems, out-of-fold predictions and the refits.
    ``y=None`` fits unsupervised.
    """
    if rows is not None:
        fit_params = fold_fit_params(X, fit_params, rows)
        X, y = safe_indexing(X, rows), safe_indexing(y, rows)
    if y is None:
        est.fit(X, **fit_params)
    else:
        est.fit(X, y, **fit_params)
    return est


def strip_spark(obj) -> None:
    """Remove spark handles so the fitted estimator pickles cleanly
    (reference behavior: `del self.sc` at end of every fit)."""
    for attr in ("sc", "_spark"):
        if hasattr(obj, attr):
            try:
                delattr(obj, attr)
            except AttributeError:
                pass
    inner = getattr(obj, "estimator", None)
    if inner is not None and hasattr(inner, "sc"):
        try:
            delattr(inner, "sc")
        except AttributeError:
            pass


def rankdata_min(values: np.ndarray) -> np.ndarray:
    """scipy.stats.rankdata(method='min') for 1-D arrays (ascending).

    NaN entries (failed fits) tie at the worst rank, after every
    number, as scikit-learn ranks search scores; all-NaN ranks all 1.
    """
    values = np.asarray(values, dtype=float)
    nan = np.isnan(values)
    if nan.all():
        return np.ones(len(values), dtype=np.int32)
    values = np.where(nan, np.nanmax(values) + 1, values)
    order = np.argsort(values, kind="mergesort")
    ranks = np.empty(len(values), dtype=np.int32)
    rank = 1
    for i, idx in enumerate(order):
        if i > 0 and values[idx] != values[order[i - 1]]:
            rank = i + 1
        ranks[idx] = rank
    return ranks
