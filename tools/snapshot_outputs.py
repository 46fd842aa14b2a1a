#!/usr/bin/env python
"""Snapshot / compare bench-query outputs for optimization identity checks.

``snapshot``: collect every bench query's full sorted output (plus schema
string) at the given SF dir and pickle it. ``compare``: re-run and diff
against a snapshot — any row or schema movement is a FAIL. This is the
round-12 guard for expression-batching rewrites (F.expr strings must be
literal-type-identical to the Column forms they replace).

Usage:
  python tools/snapshot_outputs.py snapshot /tmp/snap_sf001.pkl [sf_dir]
  python tools/snapshot_outputs.py compare  /tmp/snap_sf001.pkl [sf_dir] [q ...]
"""

from __future__ import annotations

import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from statline_bq_spark.session import get_spark  # noqa: E402
from statline_bq_spark.workload import QUERIES  # noqa: E402


def rows_of(df):
    # key=repr: rows may mix None with values or carry list cells, which
    # plain tuple ordering rejects; repr-ordering is stable and equality
    # of the sorted lists is still exact multiset equality.
    return sorted((tuple(r) for r in df.collect()), key=repr)


def main() -> None:
    mode, path = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    names = sys.argv[4:] or list(BENCH_QUERIES)
    # No console progress bar: its \r-separated stage lines would share
    # lines with the OK/FAIL report and hide it from a plain grep.
    spark = get_spark(
        "snapshot-outputs",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "snapshot":
        snap = {}
        for n in names:
            df = QUERIES[n](spark, sf_dir)
            snap[n] = (df.schema.simpleString(), rows_of(df))
            print(f"snapshotted {n}: {len(snap[n][1])} rows")
        with open(path, "wb") as f:
            pickle.dump(snap, f)
    elif mode == "compare":
        with open(path, "rb") as f:
            snap = pickle.load(f)
        bad = 0
        for n in names:
            if n not in snap:
                print(f"SKIP {n}: not in snapshot")
                continue
            df = QUERIES[n](spark, sf_dir)
            schema, rows = df.schema.simpleString(), rows_of(df)
            want_schema, want_rows = snap[n]
            if schema != want_schema:
                print(f"FAIL {n}: schema {want_schema} -> {schema}")
                bad += 1
            elif rows != want_rows:
                diff = [
                    (a, b)
                    for a, b in zip(want_rows, rows)
                    if a != b
                ][:3]
                print(
                    f"FAIL {n}: rows {len(want_rows)} -> {len(rows)}, "
                    f"first diffs {diff}"
                )
                bad += 1
            else:
                print(f"OK {n}: {len(rows)} rows identical")
        spark.stop()
        sys.exit(1 if bad else 0)
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
