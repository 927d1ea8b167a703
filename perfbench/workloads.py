"""The benchmark's workloads: their inputs, operations and checks.

A workload has two set-up steps. ``prepare(seed, work_dir)`` needs no
Spark: it generates or stages the inputs and computes every expected
result, and runs while the session starts. ``build(spark, prepared)``
returns the operation list.

An operation is one closed-loop unit of work: a registry query built
and collected, a stream drained, an estimator fitted, or a DataFrame
scored. ``Op.run`` does the work that is timed; ``Op.fingerprint``
hashes its result outside the timed region. ``Op.expected`` is the
hash the result must have, from an oracle that is not Spark: DuckDB
for queries and the stream, numpy for scoring, and the serial
``sc=None`` path for the grid search. When it is ``None`` every result
must equal the first warm-up result.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from . import inputs
from .stats import rows_hash, value_hash


@dataclass
class Op:
    name: str
    kind: str  # query | stream | fit | predict
    run: Callable  # (tracer) -> (result, collected DataFrame or None)
    fingerprint: Callable  # result -> hash
    expected: str | None = None


@dataclass
class Workload:
    prepare: Callable  # (seed, work_dir) -> prepared inputs, with "timings"
    build: Callable  # (spark, prepared) -> [Op]
    # Untimed passes before timing, the cold one included: enough that
    # the last one's wall is within ~10% of the timed passes' median
    # (the detail line shows every wall). Each costs a run 12-15% of
    # its time, and runs must stay short enough for many of them.
    warm_passes: int
    ml_probe: Callable | None = None  # traced run: (prepared, tracer) -> None


# ---- query_mix -------------------------------------------------------------

# Single-pass registry queries: TPC-H scans, joins and aggregates, a
# behaviour plan and a text operator.
SINGLE_PASS = ("q1", "q6", "q14", "q18", "daily_active_users", "text_tokens")
# A multi-round registry operator: a job and a localCheckpoint write per
# peel round.
MULTI_ROUND = ("part_kcore",)
# A registry stream query, drained with availableNow: state store reads
# and writes plus offset and commit logs per trigger.
STREAMS = ("stream_dedup_users",)

# The stream's oracle, as the registry has none for stream queries: the
# whole table is one micro-batch, so no row is late and the dedup keys
# are exactly the distinct (user, type) pairs.
_DEDUP_ORACLE = """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_unique_users
    FROM read_parquet('{path}') GROUP BY event_type
"""


def prepare_query_mix(seed: int, work_dir: str) -> dict:
    """The fixed tables, the staged stream and the DuckDB oracle hash
    of every operation. The seed only orders the operations."""
    import duckdb

    import __spark_entry__ as entry
    from tests.oracle_utils import run_oracle

    timings = {}
    t0 = time.perf_counter()
    sf_dir = inputs.write_tables(os.path.join(work_dir, "tables"), inputs.DATA_SEED)
    timings["inputs_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    stage = inputs.stage_event_stream(sf_dir, os.path.join(work_dir, "event_stream"))
    timings["stream_stage_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    oracle_sql = entry.oracle_sql()
    expected = {name: rows_hash(run_oracle(oracle_sql[name], sf_dir))
                for name in SINGLE_PASS + MULTI_ROUND}
    events = os.path.join(sf_dir, "events.parquet")
    expected["stream_dedup_users"] = rows_hash(
        duckdb.connect().execute(_DEDUP_ORACLE.format(path=events)).fetchdf())
    timings["oracle_s"] = time.perf_counter() - t0
    return {"sf_dir": sf_dir, "stage": stage, "expected": expected, "timings": timings}


def _registry_op(spark, sf_dir, name, builder, expected, kind="query"):
    def run(tracer):
        with tracer.span("query.build"):
            df = builder(spark, sf_dir)
        with tracer.span("query.collect"):
            pdf = df.toPandas()
        return pdf, df

    return Op(name, kind, run, rows_hash, expected)


def build_query_mix(spark, prep: dict) -> list:
    import __spark_entry__ as entry
    from skdist_spark.streaming import ops as stream_ops

    # The registry's stream reader stages its input directory under a
    # fixed /tmp path; point it at the directory staged in the work dir
    # so the run writes nothing outside its checkout. The builders, the
    # reader and the drain are the program's own.
    stream_ops._stage_stream_dir = lambda sf_dir: prep["stage"]

    builders, expected = entry.queries(), prep["expected"]
    ops = [_registry_op(spark, prep["sf_dir"], name, builders[name], expected[name])
           for name in SINGLE_PASS + MULTI_ROUND]
    ops += [_registry_op(spark, prep["sf_dir"], name, builders[name], expected[name], "stream")
            for name in STREAMS]
    return ops


# ---- dist_fit ----------------------------------------------------------------

# Every engine task fits on a few thousand rows for 0.15-0.35 s, about
# the fixed cost of one engine task (its Spark task and Python worker
# round trip, ~0.3 s on 4 cores), so a change to either shows in the
# op walls.
FIT_ROWS, FIT_FEATURES, FIT_CLASSES = 5000, 32, 4
SCORE_ROWS = 40_000  # rows of the cached DataFrame the prediction UDFs score
C_GRID = [0.01, 0.1, 1.0]


def _grid(spark):
    from skdist_spark.ml import LogisticRegression
    from skdist_spark.operators import DistGridSearchCV

    # the widest: 3 candidates x 3 folds = 9 LogisticRegression tasks
    return DistGridSearchCV(LogisticRegression(max_iter=300), {"C": C_GRID}, sc=spark, cv=3)


def _estimators(spark) -> dict:
    """Graded fits of 4 to 9 engine tasks each."""
    from skdist_spark.ml import DecisionTreeClassifier, LogisticRegression
    from skdist_spark.operators import (
        DistFeatureEliminator,
        DistMultiModelSearch,
        DistOneVsRestClassifier,
        DistRandomForestClassifier,
        DistRandomizedSearchCV,
    )

    return {
        "grid_search": lambda: _grid(spark),
        "randomized_search": lambda: DistRandomizedSearchCV(
            LogisticRegression(), {"C": C_GRID, "max_iter": [300, 400]},
            sc=spark, cv=2, n_iter=2, random_state=5),
        "multi_model_search": lambda: DistMultiModelSearch(
            [("lr", LogisticRegression(max_iter=300), {"C": [1.0]}),
             ("tree", DecisionTreeClassifier(max_depth=8), {})],
            sc=spark, cv=2, random_state=5),
        # 8 trees, one task each
        "random_forest": lambda: DistRandomForestClassifier(
            n_estimators=8, max_depth=10, max_features=0.5, sc=spark, random_state=1),
        # one binary fit per class: 4 tasks
        "one_vs_rest": lambda: DistOneVsRestClassifier(
            LogisticRegression(max_iter=400), sc=spark),
        "feature_eliminator": lambda: DistFeatureEliminator(
            LogisticRegression(max_iter=300), sc=spark, step=FIT_FEATURES // 2,
            min_features_to_select=FIT_FEATURES // 2, cv=2),
    }


def _fit_fingerprint(X):
    def fingerprint(est):
        return value_hash(est.predict(X), getattr(est, "best_params_", None),
                          getattr(est, "best_score_", None))

    return fingerprint


def prepare_dist_fit(seed: int, work_dir: str) -> dict:
    """Seeded ``X, y``, the rows to score, and the oracles: the serial
    grid search and the scoring model applied in numpy."""
    from skdist_spark.ml import LogisticRegression

    timings = {}
    t0 = time.perf_counter()
    X, y = inputs.make_classification(seed, FIT_ROWS, FIT_FEATURES, FIT_CLASSES)
    X_score = np.tile(X, (-(-SCORE_ROWS // len(X)), 1))[:SCORE_ROWS]
    timings["inputs_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    model = LogisticRegression().fit(X, y)
    labels, counts = np.unique(model.predict(X_score), return_counts=True)
    proba = np.round(np.asarray(model.predict_proba(X_score)) * 1e6).astype(np.int64)
    expected = {
        "grid_search": _fit_fingerprint(X)(_grid(None).fit(X, y)),
        "predict": value_hash([(int(a), int(b)) for a, b in zip(labels, counts)]),
        "predict_proba": value_hash([(k, int(s)) for k, s in enumerate(proba.sum(axis=0))]),
    }
    timings["oracle_s"] = time.perf_counter() - t0
    return {"X": X, "y": y, "X_score": X_score, "model": model, "expected": expected,
            "timings": timings}


def build_dist_fit(spark, prep: dict) -> list:
    import pandas as pd
    from pyspark.sql import functions as F

    from skdist_spark.operators import get_prediction_udf

    X, y, model, expected = prep["X"], prep["y"], prep["model"], prep["expected"]

    def fit_op(name, make):
        def run(tracer):
            with tracer.span("meta.fit"):
                return make().fit(X, y), None

        return Op(name, "fit", run, _fit_fingerprint(X), expected.get(name))

    ops = [fit_op(name, make) for name, make in _estimators(spark).items()]

    names = [f"f{i}" for i in range(X.shape[1])]
    scored = spark.createDataFrame(pd.DataFrame(prep["X_score"], columns=names)).cache()
    scored.count()
    cols = [F.col(c) for c in names]
    n_classes = len(model.classes_)

    def predict(tracer):
        with tracer.span("predict.udf"):
            df = (scored.select(get_prediction_udf(model, "predict")(*cols).alias("label"))
                  .groupBy("label").count())
            rows = df.collect()
        return sorted((int(r["label"]), int(r["count"])) for r in rows), df

    def predict_proba(tracer):
        # exact integer sums of the rounded class probabilities: the
        # order Spark adds them in cannot change the result
        with tracer.span("predict.udf"):
            df = scored.select(get_prediction_udf(model, "predict_proba")(*cols).alias("p")).agg(
                *[F.sum(F.round(F.col("p")[k] * 1e6).cast("long")) for k in range(n_classes)])
            row = df.collect()[0]
        return [(k, int(row[k])) for k in range(n_classes)], df

    return ops + [
        Op("predict", "predict", predict, value_hash, expected["predict"]),
        Op("predict_proba", "predict", predict_proba, value_hash, expected["predict_proba"]),
    ]


def ml_probe(prep: dict, tracer) -> None:
    """Direct calls into ``skdist_spark.ml``: fit and score of every
    estimator class the dist_fit operations fan out, on one fold."""
    from skdist_spark.ml import DecisionTreeClassifier, LogisticRegression

    X, y = prep["X"], prep["y"]
    split = len(X) * 2 // 3
    for est in (LogisticRegression(max_iter=300), DecisionTreeClassifier(max_depth=8)):
        cls = type(est).__name__
        with tracer.span(f"ml.fit.{cls}") as fit:
            est.fit(X[:split], y[:split])
        with tracer.span(f"ml.score.{cls}") as score:
            est.score(X[split:], y[split:])
        tracer.add(f"ml.fit_s.{cls}", fit["end"] - fit["start"])
        tracer.add(f"ml.score_s.{cls}", score["end"] - score["start"])


WORKLOADS = {
    # the cold pass takes ~1.5x a timed one, the second ~1.07x: the ops
    # run in Python workers more than in JIT-compiled JVM code
    "dist_fit": Workload(prepare_dist_fit, build_dist_fit, 2, ml_probe),
    # the cold pass takes ~3.3x, the second ~1.3x, the third ~1.15x
    "query_mix": Workload(prepare_query_mix, build_query_mix, 3),
}
