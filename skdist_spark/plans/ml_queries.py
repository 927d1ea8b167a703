"""Driver-facing ML queries: each exercises one distributed
meta-estimator end-to-end on the embeddings table and returns a small
deterministic DataFrame (rows-only correctness check — model training
isn't ANSI-SQL-expressible; determinism comes from fixed seeds and the
deterministic numpy estimators).

Fitted models score rows only through the library's prediction UDF
(``operators.predict.get_prediction_udf``), never through a copy of a
model's arithmetic. ``_quality_model`` is the one document-quality
feature frame and fit (classifier, permutation importance, source
ablation); ``_search_rows`` is the one readout of a fitted search.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import DecisionTreeClassifier, GaussianNB, LogisticRegression
from ..operators.eliminate import DistFeatureEliminator
from ..operators.ensemble import DistRandomForestClassifier
from ..operators.multiclass import DistOneVsRestClassifier
from ..operators.predict import get_prediction_udf
from ..operators.search import DistGridSearchCV, DistMultiModelSearch
from ..sources.catalog import load_table


# Hard bound on rows pulled to the driver for meta-estimator training.
# The sk-dist design is DRIVER-RESIDENT training data by construction
# (small data, big compute — broadcast once, fan out fits); this cap
# makes the bound explicit so the entry queries cannot OOM the driver
# if the embeddings table is ever regenerated 100x larger. The limit is
# deterministic (vec_id order), so results are stable at any scale.
_MAX_DRIVER_ROWS = 100_000
# encoder FIT sample: category/dim discovery saturates far below the
# generic driver bound, and the fit sample is shipped into every
# per-transformer fit task — keep it small and constant (see
# encoderizer_features)
_ENC_FIT_ROWS = 10_000


def _load_xy(spark: SparkSession, sf_dir: str):
    pdf = (
        load_table(spark, "embeddings", sf_dir)
        .orderBy("vec_id")
        .limit(_MAX_DRIVER_ROWS)
        .toPandas()
    )
    X = np.vstack(pdf["embedding"].values).astype(np.float64)
    y = pdf["label"].values.astype(np.int64)
    ids = pdf["vec_id"].values
    return ids, X, y


def _search_rows(spark: SparkSession, search) -> DataFrame:
    """A fitted search's candidates as (params as sorted-key JSON, mean
    test score to 9 decimals, rank) rows, best first."""
    res = search.cv_results_
    rows = [
        (json.dumps(p, sort_keys=True), float(round(s, 9)), int(r))
        for p, s, r in zip(res["params"], res["mean_test_score"], res["rank_test_score"])
    ]
    return spark.createDataFrame(
        rows, "params string, mean_test_score double, rank int"
    ).orderBy("rank", "params")


def ml_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grid search: one Spark task per candidate x fold."""
    _, X, y = _load_xy(spark, sf_dir)
    gs = DistGridSearchCV(
        LogisticRegression(max_iter=80),
        {"C": [0.1, 1.0], "lr": [0.1, 0.3]},
        sc=spark,
        cv=3,
        scoring="accuracy",
    ).fit(X, y)
    return _search_rows(spark, gs)


def ml_random_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed randomized search: n_iter sampled candidates x folds,
    seeded sampler -> deterministic params and ranks."""
    from ..operators.search import DistRandomizedSearchCV

    _, X, y = _load_xy(spark, sf_dir)
    rs = DistRandomizedSearchCV(
        LogisticRegression(max_iter=80),
        {"C": [0.03, 0.1, 0.3, 1.0, 3.0], "lr": [0.03, 0.1, 0.3]},
        sc=spark,
        n_iter=5,
        cv=3,
        scoring="accuracy",
        random_state=11,
    ).fit(X, y)
    return _search_rows(spark, rs)


def ml_ovr_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OvR (one task per class) train + in-sample predictions."""
    ids, X, y = _load_xy(spark, sf_dir)
    m = DistOneVsRestClassifier(LogisticRegression(max_iter=80), sc=spark).fit(X, y)
    pred = m.predict(X)
    rows = [
        (int(i), int(t), int(p), bool(t == p)) for i, t, p in zip(ids, y, pred)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, label int, pred int, correct boolean"
    ).orderBy("vec_id")


def ml_forest_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random forest (one task per tree), seeded -> deterministic."""
    ids, X, y = _load_xy(spark, sf_dir)
    m = DistRandomForestClassifier(
        n_estimators=16, max_depth=8, random_state=0, sc=spark
    ).fit(X, y)
    pred = m.predict(X)
    rows = [(int(i), int(p)) for i, p in zip(ids, pred)]
    return spark.createDataFrame(rows, "vec_id long, pred int").orderBy("vec_id")


def ml_forest_regress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-forest REGRESSION (one task per tree) against a synthetic
    continuous target derived deterministically from the embeddings
    (sum of first 8 dims) — exercises the regressor task path and
    averaged-prediction combine."""
    from ..operators.ensemble import DistRandomForestRegressor

    ids, X, _ = _load_xy(spark, sf_dir)
    y = X[:, :8].sum(axis=1)
    m = DistRandomForestRegressor(
        n_estimators=8, max_depth=6, random_state=3, sc=spark
    ).fit(X, y)
    pred = m.predict(X)
    rows = [(int(i), float(round(p, 9))) for i, p in zip(ids, pred)]
    return spark.createDataFrame(rows, "vec_id long, pred double").orderBy("vec_id")


def ml_feature_elimination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CV-scored stepped feature elimination, distributed."""
    _, X, y = _load_xy(spark, sf_dir)
    m = DistFeatureEliminator(
        LogisticRegression(max_iter=60),
        sc=spark,
        min_features_to_select=32,
        step=16,
        cv=3,
    ).fit(X, y)
    return spark.createDataFrame(
        [
            (
                int(m.n_features_),
                float(round(m.best_score_, 9)),
                [int(i) for i in m.best_features_[:8]],
            )
        ],
        "n_features int, best_score double, first_features array<int>",
    )


def ml_multi_model_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-model random search across three estimator families."""
    _, X, y = _load_xy(spark, sf_dir)
    m = DistMultiModelSearch(
        [
            ("lr", LogisticRegression(max_iter=60), {"C": [0.1, 1.0]}),
            ("tree", DecisionTreeClassifier(), {"max_depth": [4, 8]}),
            ("nb", GaussianNB(), {"var_smoothing": [1e-9, 1e-6]}),
        ],
        sc=spark,
        n=2,
        cv=3,
        random_state=7,
    ).fit(X, y)
    rows = sorted(
        zip(
            m.cv_results_["model_name"],
            [json.dumps(p, sort_keys=True) for p in m.cv_results_["params"]],
            [float(round(s, 9)) for s in m.cv_results_["mean_test_score"]],
        )
    )
    return spark.createDataFrame(
        rows, "model_name string, params string, mean_test_score double"
    ).orderBy("model_name", "params")


def ml_predict_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow pandas-UDF batch prediction over the embedding column."""
    _, X, y = _load_xy(spark, sf_dir)
    model = LogisticRegression(max_iter=80).fit(X, y)
    sdf = load_table(spark, "embeddings", sf_dir)
    predict = get_prediction_udf(model, method="predict", feature_type="vector")
    proba = get_prediction_udf(model, method="predict_proba", feature_type="vector")
    return (
        sdf.withColumn("pred", predict(F.col("embedding")))
        .withColumn("p_max", F.round(F.array_max(proba(F.col("embedding"))), 9))
        .select("vec_id", "label", "pred", "p_max")
        .orderBy("vec_id")
    )


def encoderizer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoderizer over the documents table (numeric+onehot+text
    hashing): per-step FITS fan out as Spark tasks, then the fitted
    encoder TRANSFORMS the corpus distributed (Arrow mapInPandas) —
    both directions scale. Summarized as a stable shape/checksum row
    (exact decimal sum -> order-independent under parallel agg).
    """
    from ..operators.encoder import Encoderizer

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars", "text"
    )  # keep the parallelism floor: the Arrow transform is the Python
    # cost center (per-gram crc32 hashing), and the raw documents scan
    # is 1-2 parquet splits locally — without the floor the whole
    # corpus vectorizes in one Python worker (measured 4x at sf1)
    # fit on a bounded id-ordered sample (deterministic); transform stays
    # distributed over the full corpus.  The FIT bound is much tighter
    # than _MAX_DRIVER_ROWS: fitting only discovers onehot categories
    # and hashing dims, so 10k rows saturate it — at the sf1 profile the
    # 50k-row fit was 32.8 s of the query's 70 s (the whole sample is
    # pickled into every per-transformer fit task); capping makes fit
    # CONSTANT in corpus size while the transform stays honest per-row.
    pdf = docs.orderBy("doc_id").limit(_ENC_FIT_ROWS).toPandas()
    enc = Encoderizer(size="small", sc=spark, config={
        "n_chars": "numeric",
        "lang": "onehotencoder",
        "source": "onehotencoder",
        "text": "string_vectorizer",
    })
    enc.fit(pdf[["n_chars", "lang", "source", "text"]])
    n_features = int(sum(enc.transformer_lengths))
    feats = enc.transform_distributed(docs, id_col="doc_id")
    # order-independent checksum in BIGINT micro-units: one long add per
    # element instead of the DECIMAL(28,6) fold this used to run (the
    # decimal fold dominated the whole query, ~4x the encoder itself)
    abs_sum = F.expr(
        "aggregate(features, 0L,"
        " (acc, x) -> acc + CAST(round(abs(x) * 1000000) AS BIGINT))"
    )
    return (
        feats.select(F.col("doc_id"), abs_sum.alias("row_abs"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_rows"),
            (F.sum("row_abs").cast("double") / F.lit(1000000.0)).alias("abs_sum"),
        )
        .select(
            "n_rows",
            F.lit(n_features).cast("int").alias("n_features"),
            F.lit(len(enc.step_names)).cast("int").alias("n_steps"),
            "abs_sum",
        )
    )


def _quality_model(docs: DataFrame, label=None, *keep: DataFrame):
    """The document quality model: its feature frame and its fit.

    Returns ``(feats, feature_cols, train, model)``. ``feats`` holds
    doc_id, the columns of each ``keep`` frame (joined on doc_id), the
    four ORTHOGONAL ``quality_score`` ratios as ``feature_cols`` (length,
    word length, distinct-token and stopword ratios) and ``label`` as
    label_weak. ``label`` is a Column over quality_score's output; None
    is the repetition filter's weak label (a doc is "quality" when its
    duplicated-bigram fraction is at most 5.2%). ``train`` is the first
    2,000 rows by doc_id on the driver (deterministic and bounded) and
    ``model`` the LogisticRegression fitted on it. ``feats`` is
    checkpointed lazily: the training sample materializes it, and the
    corpus-wide scoring pass that follows reads it back.
    """
    from ..operators.text import quality_score, repetition_stats

    frame = quality_score(docs)
    if label is None:
        frame = frame.join(repetition_stats(docs).select("doc_id", "dup_bigram_ppm"), "doc_id")
        label = F.col("dup_bigram_ppm") <= 52_000
    for other in keep:
        frame = frame.join(other, "doc_id")
    feats = frame.select(
        "doc_id",
        *[c for other in keep for c in other.columns if c != "doc_id"],
        (F.col("n_words") / 100.0).alias("f_len"),
        (F.col("mean_word_len") / 10.0).alias("f_wlen"),
        F.col("distinct_ratio").alias("f_distinct"),
        F.col("stopword_ratio").alias("f_stop"),
        label.cast("int").alias("label_weak"),
    ).localCheckpoint(eager=False)
    feature_cols = ["f_len", "f_wlen", "f_distinct", "f_stop"]
    train = feats.orderBy("doc_id").limit(2000).toPandas()
    model = LogisticRegression(max_iter=200).fit(
        train[feature_cols].to_numpy(), train["label_weak"].to_numpy()
    )
    return feats, feature_cols, train, model


def ml_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level quality classifier composed from the scoring
    primitives: weak labels come from the repetition filter, features
    from the orthogonal quality_score ratios, so the model has to learn
    the correlation rather than echo its own input (``_quality_model``).

    Train: deterministic bounded sample to the driver (the 100 TB path
    is the same features through sample_stratified), numpy logistic
    fit. Score: Arrow-batch pandas UDF over the full corpus —
    prediction stays distributed exactly like reference predict.py.
    """
    docs = load_table(spark, "documents", sf_dir)
    feats, feature_cols, _, model = _quality_model(docs)
    predict = get_prediction_udf(model, method="predict")
    proba = get_prediction_udf(model, method="predict_proba")
    cols = [F.col(c) for c in feature_cols]
    return (
        feats.withColumn("pred", predict(*cols))
        .withColumn("p_quality", F.round(F.element_at(proba(*cols), 2), 9))
        .select("doc_id", "label_weak", "pred", "p_quality")
        .orderBy("doc_id")
    )


def ml_gbt_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted trees (binary: even vs odd label), trained
    locally and scored DISTRIBUTED via the Arrow prediction UDF —
    surfaces ml.boosting through the driver contract (deterministic:
    no randomness anywhere in the boosting path)."""
    from ..ml.boosting import GradientBoostingClassifier

    ids, X, y = _load_xy(spark, sf_dir)
    yb = (y % 2).astype(int)
    model = GradientBoostingClassifier(
        n_estimators=20, learning_rate=0.3, max_depth=2
    ).fit(X, yb)
    udf = get_prediction_udf(model, method="predict", feature_type="vector")
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        emb.select("vec_id", udf(F.col("embedding")).alias("pred"))
        .withColumn("pred", F.col("pred").cast("int"))
        .orderBy("vec_id")
    )


_PERM_KNUTH = 2654435761
_PERM_MOD = 4294967296
_PERM_BUCKETS = 64


def permutation_importance(
    feats: DataFrame,
    model,
    feature_cols: list[str],
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Distributed permutation feature importance: accuracy drop when
    one feature column is shuffled against the rest of the row.

    The permutation is deterministic and SCALE-CORRECT: rows are split
    into hash buckets (Knuth split of the id) and shuffled WITHIN each
    bucket by ranking ids two ways (natural vs hashed order) and
    zipping the two rankings — window sorts partition by bucket, so no
    global single-partition sort ever happens; a within-bucket shuffle
    of ~n/64 rows breaks the feature-label link exactly as well as a
    global one.  Scoring is the broadcast Arrow prediction UDF over
    the full frame (one pass for baseline + one per feature); outputs
    exact FLOOR-ppm accuracies so the readout is engine-portable.
    """
    from pyspark.sql import Window

    predict = get_prediction_udf(model, method="predict")
    bucket = F.pmod(
        (F.pmod(F.col(id_col).cast("bigint"), F.lit(2**31)) * _PERM_KNUTH)
        % _PERM_MOD,
        F.lit(_PERM_BUCKETS),
    )
    # the multiplier must WRAP for small ids (an order-preserving hash
    # yields the identity permutation): id*K mod 2^32 wraps from id=2 up
    h2 = (
        F.pmod(F.col(id_col).cast("bigint"), F.lit(2**31)) * _PERM_KNUTH + 99991
    ) % _PERM_MOD
    w_nat = Window.partitionBy("bucket").orderBy(id_col)
    w_hash = Window.partitionBy("bucket").orderBy("h2", id_col)
    ranked = (
        feats.withColumn("bucket", bucket)
        .withColumn("h2", h2)
        .withColumn("r_nat", F.row_number().over(w_nat))
        .withColumn("r_hash", F.row_number().over(w_hash))
    )
    donor = ranked.select(
        F.col("bucket").alias("d_bucket"),
        F.col("r_hash").alias("d_rank"),
        *[F.col(c).alias(f"perm_{c}") for c in feature_cols],
    )
    # materialize the featurized+permuted frame ONCE: every scoring
    # pass below is then a UDF + one aggregate over the checkpointed
    # columns instead of re-running the upstream featurization per
    # feature (measured 18s -> ~4s at sf0.01); at cluster scale this
    # is a persist() of a narrow per-row frame, the standard
    # eval-harness materialization.
    permuted = ranked.join(
        donor,
        (F.col("bucket") == F.col("d_bucket")) & (F.col("r_nat") == F.col("d_rank")),
    ).localCheckpoint()

    def acc_ppm(cols):
        return (
            permuted.withColumn("pred", predict(*[F.col(c) for c in cols]))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("pred") == F.col(label_col)).cast("long")).alias("ok"),
            )
            .select(F.expr("CAST(ok * 1000000 DIV n AS BIGINT)").alias("acc_ppm"))
            .collect()[0]["acc_ppm"]
        )

    base = acc_ppm(feature_cols)
    rows = []
    for c in feature_cols:
        acc = acc_ppm([f"perm_{c}" if f == c else f for f in feature_cols])
        rows.append((c, int(base), int(acc), int(base - acc)))
    spark = feats.sparkSession
    return spark.createDataFrame(
        rows,
        "feature string, baseline_acc_ppm long, permuted_acc_ppm long,"
        " importance_ppm long",
    ).orderBy("feature")


def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: permutation importance over the quality features
    against a LENGTH-DRIVEN label (is the doc longer than the median?)
    — f_len must dominate, the correlated distinct_ratio may pick up a
    shadow share, and the orthogonal ratios should sit near zero; the
    readout demonstrates the eval separating signal from passengers."""
    docs = load_table(spark, "documents", sf_dir)
    feats, feature_cols, _, model = _quality_model(docs, F.col("n_words") > 56)
    return permutation_importance(feats, model, feature_cols, "doc_id", "label_weak")


QUERIES = {
    "ml_gbt_predict": ml_gbt_predict,
    "ml_permutation_importance": ml_permutation_importance,
    "ml_grid_search": ml_grid_search,
    "ml_random_search": ml_random_search,
    "ml_ovr_predict": ml_ovr_predict,
    "ml_forest_predict": ml_forest_predict,
    "ml_forest_regress": ml_forest_regress,
    "ml_feature_elimination": ml_feature_elimination,
    "ml_multi_model_search": ml_multi_model_search,
    "ml_predict_udf": ml_predict_udf,
    "encoderizer_features": encoderizer_features,
    "ml_quality_classifier": ml_quality_classifier,
}
ORACLE_SQL: dict[str, str] = {}


LEARNING_CURVE_SIZES = (200, 500, 1000, 2000)


def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve: accuracy vs training-set size on a LEARNABLE
    binary target (sign of the first-8-dim sum — recoverable from the
    features, so the curve actually rises), every model scored
    DISTRIBUTED over the full corpus via the Arrow prediction UDF —
    'is more data still buying accuracy?' before anyone pays for more
    labels.  Training slices are deterministic vec_id prefixes (the
    driver-resident sk-dist training contract); accuracies are exact
    FLOOR ppm; duplicate clamped sizes collapse."""
    ids, X, _ = _load_xy(spark, sf_dir)
    y = (X[:, :8].sum(axis=1) > 0.0).astype(int)
    emb = load_table(spark, "embeddings", sf_dir)
    truth = (
        "CAST(aggregate(slice(CAST(embedding AS array<double>), 1, 8),"
        " 0D, (a, x) -> a + x) > 0.0D AS INT)"
    )
    rows = []
    for n in sorted({min(s, len(ids)) for s in LEARNING_CURVE_SIZES}):
        model = LogisticRegression(max_iter=80).fit(X[:n], y[:n])
        udf = get_prediction_udf(model, method="predict", feature_type="vector")
        acc = (
            emb.select(
                (udf(F.col("embedding")).cast("int") == F.expr(truth))
                .cast("long")
                .alias("ok")
            )
            .agg(F.sum("ok").alias("k"), F.count(F.lit(1)).alias("m"))
            .selectExpr("CAST(k * 1000000 DIV m AS BIGINT) AS acc_ppm")
            .collect()[0]["acc_ppm"]
        )
        train_acc = int(
            (model.predict(X[:n]) == y[:n]).sum() * 1_000_000 // n
        )
        rows.append((n, train_acc, int(acc)))
    return spark.createDataFrame(
        rows, "train_size int, train_acc_ppm long, full_acc_ppm long"
    ).orderBy("train_size")


QUERIES["ml_learning_curve"] = ml_learning_curve


def ml_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-valuation ablation ('leave-one-source-out'): retrain the
    document quality classifier with each source EXCLUDED from the
    training sample and report the held-out-accuracy delta vs the
    all-sources model — which sources actually teach the model
    something, the poor-man's Data Shapley every corpus curator wants
    before paying for more of a source.

    The ablation loop is over the SOURCE CATALOG (bounded), not the
    data: each fit reuses the one bounded driver-side training frame
    minus one source (sk-dist's small-data/big-compute posture), and
    every model is evaluated DISTRIBUTED over the full corpus through
    the same Arrow prediction UDF with exact integer correct-counts.
    """
    docs = load_table(spark, "documents", sf_dir)
    feats, feature_cols, train, model = _quality_model(
        docs, None, docs.select("doc_id", "source")
    )
    sources = sorted(train["source"].unique())

    # fit the whole ablation family (all-sources + one model per
    # excluded source) — each fit is the bounded driver sample
    names: list[str] = ["(all sources)"]
    models = [model]
    n_train = [int(len(train))]
    for s in sources:
        sub = train[train["source"] != s]
        names.append(s)
        n_train.append(int(len(sub)))
        models.append(
            LogisticRegression(max_iter=200).fit(
                sub[feature_cols].to_numpy(), sub["label_weak"].to_numpy()
            )
        )

    # score EVERY model in ONE distributed pass: one prediction UDF per
    # model in one select (one Arrow eval node), then one aggregate of
    # exact correct-counts — 21 scoring passes collapse to one corpus scan
    cols = [F.col(c) for c in feature_cols]
    scored = feats.select(
        "label_weak",
        *[get_prediction_udf(m, "predict")(*cols).alias(f"pred{i}") for i, m in enumerate(models)],
    )
    counts = scored.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col(f"pred{i}") == F.col("label_weak")).cast("long")).alias(f"ok{i}")
            for i in range(len(models))
        ],
    ).collect()[0]
    accs = [counts[f"ok{i}"] * 1_000_000 // counts["n"] for i in range(len(models))]
    rows = [
        (names[i], n_train[i], accs[i], accs[i] - accs[0])
        for i in range(len(models))
    ]
    return spark.createDataFrame(
        rows,
        "excluded_source string, n_train long, acc_ppm long, delta_ppm long",
    )


QUERIES["ml_source_ablation"] = ml_source_ablation
