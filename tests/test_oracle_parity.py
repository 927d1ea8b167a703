"""The same check the driver runs: every queries() entry with an
oracle must hash-match DuckDB on the test tables.

Two lanes, each sweep in exactly one: ``pytest -m slow`` runs the
sf0.001 sweep (r9: ~10 min, kept out of the default lane so that lane
stays inside its time budget) and ``pytest -m sf001`` the sf0.01 one
(the correctness gate's scale); ``-m "slow or sf001"`` runs both.
Coverage is unchanged — only the default selection is."""

import pytest

import __spark_entry__ as entry_mod
from .oracle_utils import compare_query

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.slow
def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    compare_query(spark, QUERIES[name], ORACLES[name], sf_dir, name)


@pytest.mark.sf001
@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity_sf001(spark, name):
    """The driver's gate, exactly: every oracle at sf0.01. Excluded from
    the default run (see pytest.ini addopts); `pytest -m sf001` runs it
    so local green always predicts driver green."""
    from .conftest import SF_DIR_MED

    compare_query(spark, QUERIES[name], ORACLES[name], SF_DIR_MED, name)


@pytest.mark.slow
def test_every_query_declared(spark):
    # every queries() entry should either have an oracle or be a
    # documented rows-only op (ml_*, streaming, lsh buckets, multimodal)
    rows_only_prefixes = (
        "ml_", "stream_", "ann_pq", "multimodal", "encoderizer", "approx_",
        "order_percentiles_approx", "pack_chunks",
        "user_sketch_rollup", "value_percentile_sketch_rollup",
        "ann_diversified",
        "corpus_pipeline", "dedup_semantic", "embedding_pca",
        "embedding_whiten", "markov_attribution",
        "unigram_vocab_table",
    )
    for name in QUERIES:
        if name not in ORACLES:
            assert name.startswith(rows_only_prefixes), name
