"""Reusable column-expression builders (the `functions/` layer).

Pure Column-in/Column-out helpers shared by the operator and plan
modules — every one stays inside whole-stage codegen (no UDFs), and the
deterministic ones (hash buckets, integer ppm, micros arithmetic) are
the building blocks of this engine's Spark-vs-DuckDB exactness
contract.
"""

from .global_rank import (
    ntile_from_row_number,
    two_phase_max_prefix_sum,
    two_phase_row_number,
    two_phase_running_agg,
)
from .columns import (
    decimal_money,
    epoch_micros_diff_seconds,
    hilbert_index,
    knuth_bucket,
    morton_value,
    ppm_of_rank,
    words_array,
)

__all__ = [
    "decimal_money",
    "epoch_micros_diff_seconds",
    "hilbert_index",
    "knuth_bucket",
    "morton_value",
    "ntile_from_row_number",
    "ppm_of_rank",
    "two_phase_max_prefix_sum",
    "two_phase_row_number",
    "two_phase_running_agg",
    "words_array",
]
