"""Pure helpers of the benchmark: summary statistics, span self time
and result hashing. Nothing here starts Spark."""

from __future__ import annotations

import hashlib

MIN_BEYOND = 10


def tail_percentile(latencies, min_beyond: int = MIN_BEYOND):
    """The highest latency percentile that has at least ``min_beyond``
    samples above it, by nearest rank.

    Returns ``(percentile, value, n)``: with ``n`` sorted samples the
    value is the one at rank ``n - min_beyond`` (1-based), so exactly
    ``min_beyond`` samples lie beyond it, and its percentile is
    ``100 * (n - min_beyond) / n``. Raises ``ValueError`` when there
    are not more than ``min_beyond`` samples.
    """
    ordered = sorted(latencies)
    n = len(ordered)
    if n <= min_beyond:
        raise ValueError(f"need more than {min_beyond} samples for a tail, got {n}")
    rank = n - min_beyond
    return 100.0 * rank / n, float(ordered[rank - 1]), n


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans) -> dict:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. ``spans`` are dicts with
    ``id``, ``parent``, ``start`` and ``end``."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        inner = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(inner)
    return out


def rows_hash(pdf) -> str:
    """Order-insensitive value hash of a pandas frame, using the
    repository's oracle normalisation (column order by name, floats to
    12 significant digits, dates as datetimes, rows sorted)."""
    from tests.oracle_utils import _norm_rows

    cols, rows = _norm_rows(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def value_hash(*parts) -> str:
    """Exact hash of a fitted model's outputs: numpy arrays by dtype,
    shape and bytes, anything else by ``repr``."""
    h = hashlib.sha256()
    for part in parts:
        if hasattr(part, "tobytes"):
            h.update(repr((str(part.dtype), part.shape)).encode())
            h.update(part.tobytes())
        else:
            h.update(repr(part).encode())
    return h.hexdigest()
