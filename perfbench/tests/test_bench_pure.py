"""Tests of the benchmark's pure code; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.stats import covered, rows_hash, self_times, tail_percentile, value_hash


def test_tail_percentile_leaves_exactly_ten_beyond():
    latencies = list(range(1, 31))  # 30 samples, 1..30
    pct, value, n = tail_percentile(latencies[::-1])
    assert n == 30
    assert value == 20  # rank 20 of 30: samples 21..30 lie beyond it
    assert sum(x > value for x in latencies) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_percentile_rises_with_the_sample_count():
    assert tail_percentile(range(11))[0] == pytest.approx(100 / 11)
    assert tail_percentile(range(20))[0] == 50.0
    assert tail_percentile(range(100))[0] == 90.0


def test_tail_percentile_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile(range(10))


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(5, 6), (0, 10)]) == 10.0


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps its sibling: counted once
        _span(3, 0, 8.0, 12.0),  # outlives its parent: clipped at 10
        _span(4, 2, 2.5, 4.5),  # grandchild: only its own parent loses it
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10 - 4 - 2)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0 - 2.0)
    assert selfs[3] == pytest.approx(4.0)
    assert selfs[4] == pytest.approx(2.0)


def test_same_seed_same_classification_data():
    X1, y1 = inputs.make_classification(7, 200, 8, 4)
    X2, y2 = inputs.make_classification(7, 200, 8, 4)
    X3, _ = inputs.make_classification(8, 200, 8, 4)
    assert X1.tobytes() == X2.tobytes() and y1.tobytes() == y2.tobytes()
    assert X1.tobytes() != X3.tobytes()
    assert set(np.unique(y1)) == {0, 1, 2, 3}


def test_same_seed_same_tables():
    a, b = inputs.table_columns(3), inputs.table_columns(3)
    for table, columns in a.items():
        for name, (kind, values) in columns.items():
            assert kind == b[table][name][0]
            assert np.array_equal(np.asarray(values), np.asarray(b[table][name][1])), (table, name)
    assert not np.array_equal(a["lineitem"]["l_partkey"][1],
                              inputs.table_columns(4)["lineitem"]["l_partkey"][1])


def test_event_stream_stage_holds_the_events_table(tmp_path):
    sf_dir = inputs.write_tables(str(tmp_path / "tables"), 1)
    stage = inputs.stage_event_stream(sf_dir, str(tmp_path / "stream"))
    assert inputs.stage_event_stream(sf_dir, stage) == stage  # idempotent
    assert os.listdir(stage) == ["events.parquet"]
    events = pq.read_table(os.path.join(stage, "events.parquet"))
    assert events.num_rows == inputs.TABLE_ROWS["events"]


def test_rows_hash_ignores_row_and_column_order():
    df = pd.DataFrame({"b": [1.5, 2.5, None], "a": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]].reset_index(drop=True)
    assert rows_hash(df) == rows_hash(shuffled)


def test_rows_hash_normalises_floats_and_dates():
    exact = pd.DataFrame({"v": [0.1 + 0.2], "d": [datetime.date(2024, 1, 2)]})
    noisy = pd.DataFrame({"v": [0.3], "d": [pd.Timestamp("2024-01-02")]})
    assert rows_hash(exact) == rows_hash(noisy)  # ulp noise and date vs timestamp
    other = pd.DataFrame({"v": [0.31], "d": [pd.Timestamp("2024-01-02")]})
    assert rows_hash(exact) != rows_hash(other)
    nan = pd.DataFrame({"v": [float("nan")]})
    assert rows_hash(nan) == rows_hash(pd.DataFrame({"v": [None]}, dtype=object))


def test_value_hash_is_exact():
    a = np.array([1.0, 2.0])
    assert value_hash(a, {"C": 1}) == value_hash(a.copy(), {"C": 1})
    assert value_hash(a) != value_hash(np.array([1.0, 2.0 + 1e-15]))
    assert value_hash(a) != value_hash(a.astype(np.float32))
