"""Registry checks for the default lane: the driver window's order,
and a rows-only ML query recounted with numpy."""

import __spark_entry__ as entry_mod


def test_queries_and_oracles_start_with_the_driver_window():
    """The driver checks the first 50 entries; ``_PRIORITY`` names
    exactly those, every one oracle-backed."""
    window = entry_mod._PRIORITY
    assert len(window) == 50 and len(set(window)) == 50
    assert list(entry_mod.queries())[:50] == window
    assert list(entry_mod.oracle_sql())[:50] == window


def test_source_ablation_counts_each_models_own_predict(spark, sf_dir):
    """Every row's acc_ppm is the share of the corpus on which that
    row's model (all sources, or all but one) predicts label_weak."""
    from skdist_spark.ml import LogisticRegression
    from skdist_spark.plans import ml_queries
    from skdist_spark.sources.catalog import load_table

    rows = ml_queries.ml_source_ablation(spark, sf_dir).collect()
    docs = load_table(spark, "documents", sf_dir)
    feats, cols, train, _ = ml_queries._quality_model(docs, None, docs.select("doc_id", "source"))
    corpus = feats.toPandas()
    X, y = corpus[cols].to_numpy(), corpus["label_weak"].to_numpy()
    assert [r.excluded_source for r in rows] == ["(all sources)", *sorted(train["source"].unique())]
    base = None
    for r in rows:
        sub = train if base is None else train[train["source"] != r.excluded_source]
        model = LogisticRegression(max_iter=200).fit(sub[cols].to_numpy(), sub["label_weak"].to_numpy())
        acc = int((model.predict(X) == y).sum()) * 1_000_000 // len(y)
        base = acc if base is None else base
        assert (r.n_train, r.acc_ppm, r.delta_ppm) == (len(sub), acc, acc - base), r
