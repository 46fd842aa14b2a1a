"""Result checks against the DuckDB oracles in ``workload.ORACLES``.

The comparison has the shape of ``tools/check_queries.py``: same column
names, same row count, and the same multiset of rows, with floats rounded
to 6 places.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def canonical_rows(table) -> tuple[list[str], Counter]:
    """A pyarrow table as (column names sorted, multiset of canonical rows)."""
    cols = sorted(table.column_names)
    values = [table.column(c).to_pylist() for c in cols]
    return cols, Counter(tuple(canon(v) for v in row) for row in zip(*values))


class Oracle:
    def __init__(self, data_dir: str) -> None:
        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def expected(self, sql: str) -> tuple[list[str], Counter]:
        return canonical_rows(self._con.execute(sql).fetch_arrow_table())


def mismatch(got, want) -> str | None:
    """None when equal, else a one-line reason."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if grows.total() != wrows.total():
        return f"row count {grows.total()} vs {wrows.total()}"
    extra = grows - wrows
    if extra:
        return f"row {next(iter(extra))} not in the oracle result"
    return None
