"""Seeded inputs for the benchmark.

Everything a workload reads is generated here, inside the benchmark's
own work directory, so a run never depends on files outside its
checkout:

- ``write_tables`` writes the star schema the registry queries read
  (region .. embeddings), one parquet file per table, with the same
  column names, physical types and value domains as the repository's
  test data (TESTDATA.md), at roughly its sf0.01 size.
- ``stage_event_stream`` makes the directory a file-source stream of
  the events table reads.
- ``make_classification`` builds the ``X, y`` arrays of ``dist_fit``.

All of it is pure numpy/pyarrow: the same seed gives byte-identical
files, and nothing here starts Spark.
"""

from __future__ import annotations

import os

import numpy as np

# The tables are one fixed dataset: the workloads that read them take
# their seed as the order of operations, so every run checks the same
# oracle results.
DATA_SEED = 42

# Row counts per table: about the test data's sf0.01 profile, where every
# registry query is dominated by its fixed per-query cost.
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")  # en twice: ~40% of documents
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _days(rng, n, start: str, end: str) -> np.ndarray:
    """Midnight timestamps (microseconds) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """Random word sequences; every 13th document is a near-copy (one
    word replaced) of an earlier one from the same source (``source``
    is ``doc_id % 20``), so dedup and graph operators, which only
    compare documents within a source, find clusters to merge."""
    texts = []
    for i in range(n):
        if i % 13 == 12 and i >= 20:
            words = texts[i - 20 * int(rng.integers(1, i // 20 + 1))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(DOC_WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    return texts


def table_columns(seed: int) -> dict[str, dict[str, tuple[str, object]]]:
    """Every table as ``{column: (arrow type name, values)}``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    nc, ns, np_, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    ne, nd, nv = n["events"], n["documents"], n["embeddings"]

    part_keys = np.arange(np_)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))]
    step_us = 30 * _DAY_US // ne
    ts = (np.datetime64("2024-01-01", "us").astype(np.int64)
          + np.arange(ne) * step_us + rng.integers(0, step_us, ne))
    centers = rng.normal(0.0, 0.05, (10, EMBED_DIM))
    labels = rng.integers(0, 10, nv)
    emb = centers[labels] + rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    texts = _documents(rng, nd)
    return {
        "region": {
            "r_regionkey": ("int32", np.arange(5)),
            "r_name": ("string", list(REGIONS)),
        },
        "nation": {
            "n_nationkey": ("int32", np.arange(25)),
            "n_name": ("string", [f"NATION_{i}" for i in range(25)]),
            "n_regionkey": ("int32", np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": ("int64", np.arange(nc)),
            "c_name": ("string", [f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": ("int32", rng.integers(0, 25, nc)),
            "c_acctbal": ("float64", _money(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": ("string", list(rng.choice(SEGMENTS, nc))),
        },
        "supplier": {
            "s_suppkey": ("int64", np.arange(ns)),
            "s_name": ("string", [f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": ("int32", rng.integers(0, 25, ns)),
            "s_acctbal": ("float64", _money(rng, ns, -999.99, 9999.99)),
        },
        "part": {
            "p_partkey": ("int64", part_keys),
            "p_name": ("string", names),
            "p_brand": ("string", [f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": ("string", list(rng.choice(PART_TYPES, np_))),
            "p_size": ("int32", rng.integers(1, 51, np_)),
            "p_retailprice": ("float64", np.round(900.0 + (part_keys % 1000) * 0.1, 2)),
        },
        "orders": {
            "o_orderkey": ("int64", np.arange(no)),
            "o_custkey": ("int64", rng.integers(0, nc, no)),
            "o_orderstatus": ("string", list(rng.choice(("F", "O", "P"), no))),
            "o_totalprice": ("float64", _money(rng, no, 1000.0, 500000.0)),
            "o_orderdate": ("timestamp", _days(rng, no, "1995-01-01", "2001-08-01")),
            "o_orderpriority": ("string", list(rng.choice(PRIORITIES, no))),
        },
        "lineitem": {
            "l_orderkey": ("int64", rng.integers(0, no, nl)),
            "l_partkey": ("int64", rng.integers(0, np_, nl)),
            "l_suppkey": ("int64", rng.integers(0, ns, nl)),
            "l_linenumber": ("int32", rng.integers(1, 8, nl)),
            "l_quantity": ("float64", rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": ("float64", _money(rng, nl, 900.0, 105000.0)),
            "l_discount": ("float64", rng.integers(0, 11, nl) / 100.0),
            "l_tax": ("float64", rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": ("string", list(rng.choice(("A", "N", "R"), nl))),
            "l_linestatus": ("string", list(rng.choice(("F", "O"), nl))),
            "l_shipdate": ("timestamp", _days(rng, nl, "1995-01-02", "2001-11-04")),
        },
        "events": {
            "event_id": ("int64", np.arange(ne)),
            "ts": ("timestamp", ts),
            "user_id": ("int64", rng.integers(0, EVENT_USERS, ne)),
            "event_type": ("string", list(rng.choice(EVENT_TYPES, ne))),
            "value": ("float64", np.round(rng.gamma(2.0, 25.0, ne), 2)),
            "props": ("string", [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        },
        "documents": {
            "doc_id": ("int64", np.arange(nd)),
            "text": ("string", texts),
            "lang": ("string", list(rng.choice(LANGS, nd))),
            "source": ("string", [f"src{i % 20}" for i in range(nd)]),
            "n_chars": ("int64", np.array([len(t) for t in texts])),
        },
        "embeddings": {
            "vec_id": ("int64", np.arange(nv)),
            "embedding": ("list<float>", emb.tolist()),
            "label": ("int32", labels),
        },
    }


def _arrow_table(columns):
    import pyarrow as pa

    types = {
        "int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(),
        "string": pa.string(), "timestamp": pa.timestamp("us"),
        "list<float>": pa.list_(pa.float32()),
    }
    return pa.table({
        name: pa.array(values, types[kind])
        for name, (kind, values) in columns.items()
    })


def write_tables(out_dir: str, seed: int) -> str:
    """Write every catalog table as ``<out_dir>/<table>.parquet``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, columns in table_columns(seed).items():
        pq.write_table(_arrow_table(columns), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def stage_event_stream(sf_dir: str, out_dir: str) -> str:
    """The directory a file-source stream of ``events`` reads: the
    stream source needs a directory, so it holds a link to the table."""
    os.makedirs(out_dir, exist_ok=True)
    link = os.path.join(out_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return out_dir


def make_classification(seed: int, n: int, d: int, n_classes: int):
    """Gaussian class blobs with half the features informative; the
    rest is noise, so feature elimination has something to drop."""
    rng = np.random.default_rng(seed)
    informative = d // 2
    centers = rng.normal(0.0, 1.5, (n_classes, informative))
    y = rng.integers(0, n_classes, n)
    X = rng.normal(0.0, 1.0, (n, d))
    X[:, :informative] += centers[y]
    return X, y.astype(np.int64)
