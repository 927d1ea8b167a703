"""Fingerprint registry faces of one source tree, to prove a refactor
left them unchanged.

For every face and scale factor it prints one JSON line with:

- ``plan``: the operator counts of the UNEXECUTED physical plan, as
  ``tests/test_plan_snapshots._fingerprint`` counts them (taken before
  any collect: after one, the AQE plan string also prints the initial
  plan, so every count doubles);
- ``schema_md5``: the md5 of ``df.schema.json()`` (nullability included);
- ``rows_md5``: the md5 of the sorted ``repr(tuple(row))`` lines;
- ``n_rows``: the row count.

The script puts ``--tree`` first on sys.path, so it measures that
tree's package. Compare a change with its parent by running the two
sides one after the other (never two Spark sessions at once) and
diffing the outputs:

    d=$(mktemp -d)
    git archive <parent-commit> | tar -x -C "$d"
    python tools/face_fingerprints.py --tree "$d" --sf 0.001 0.01 \\
        basket_triples stream_hll_registers > "$d/parent.jsonl"
    python tools/face_fingerprints.py --tree . --sf 0.001 0.01 \\
        basket_triples stream_hll_registers > "$d/change.jsonl"
    diff "$d/parent.jsonl" "$d/change.jsonl" && echo identical

Oracle faces must also match ``tests/plan_snapshots.json`` (sf0.001);
``--snapshots`` adds a ``snapshot_ok`` field for each sf0.001 line of a
face that has a snapshot. Rows-only faces (streams, ANN) have no
oracle, so their ``rows_md5`` against the parent is the evidence.

Usage: python tools/face_fingerprints.py [--tree DIR] [--sf SF ...]
       [--data DIR] [--snapshots] FACE [FACE ...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("faces", nargs="+", help="registry query names")
    ap.add_argument("--tree", default=REPO, help="source tree to import (default: this repo)")
    ap.add_argument("--sf", nargs="+", default=["0.001"], help="scale factors")
    ap.add_argument(
        "--data", default="/root/testdata", help="directory holding sf<SF>/ parquet dirs"
    )
    ap.add_argument(
        "--snapshots", action="store_true", help="check sf0.001 plans against the snapshot JSON"
    )
    args = ap.parse_args(argv)

    tree = os.path.abspath(args.tree)
    sys.path.insert(0, tree)
    os.chdir(tree)
    import __spark_entry__ as entry
    from skdist_spark.sources.session import get_session

    # the fingerprint is defined once, by the snapshot test of the repo
    # this script belongs to
    sys.path.insert(1, os.path.join(REPO, "tests"))
    from test_plan_snapshots import _fingerprint

    snapshots = {}
    if args.snapshots:
        with open(os.path.join(tree, "tests", "plan_snapshots.json")) as fh:
            snapshots = json.load(fh)

    queries = entry.queries()
    missing = [f for f in args.faces if f not in queries]
    if missing:
        ap.error(f"unknown faces: {', '.join(missing)}")

    spark = get_session("face-fingerprints")
    try:
        for sf in args.sf:
            sf_dir = os.path.join(args.data, f"sf{sf}")
            for face in args.faces:
                spark.catalog.clearCache()
                df = queries[face](spark, sf_dir)
                plan = _fingerprint(df._jdf.queryExecution().executedPlan().toString())
                lines = sorted(repr(tuple(r)) for r in df.collect())
                rec = {
                    "face": face,
                    "sf": sf,
                    "plan": plan,
                    "schema_md5": hashlib.md5(df.schema.json().encode()).hexdigest(),
                    "rows_md5": hashlib.md5("\n".join(lines).encode()).hexdigest(),
                    "n_rows": len(lines),
                }
                if args.snapshots and sf == "0.001" and face in snapshots:
                    rec["snapshot_ok"] = plan == snapshots[face]
                print(json.dumps(rec, sort_keys=True), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
