"""The benchmark's own checks: a wrong result must count as a failed
operation. Needs DuckDB and the engine sources, not a Spark session.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import workloads  # noqa: E402
from oracle import Oracle, canonical_rows, mismatch  # noqa: E402
from run import DATA  # noqa: E402

KIND = "pricing_summary"


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mirrors SparkSession.sparkContext
        @staticmethod
        def setJobGroup(*args):
            pass


class _Result:
    def __init__(self, table):
        self._table = table

    def toArrow(self):
        return self._table


def _oracle_table():
    return Oracle(DATA)._con.execute(workloads.ORACLES[KIND]).fetch_arrow_table()


def _mix(monkeypatch, table):
    monkeypatch.setitem(workloads.QUERIES, KIND, lambda spark, sf: _Result(table))
    # the warm-up's timed-path pass needs a live session
    monkeypatch.setattr(workloads.QueryMix, "run_pass", lambda self, pass_no, traced: [])
    mix = workloads.QueryMix((KIND,), DATA, seed=0)
    mix.bind(_FakeSpark(), None)
    return mix


def _perturbed(table):
    col = next(i for i, f in enumerate(table.schema) if pa.types.is_floating(f.type))
    bumped = pc.add(table.column(col), 1.0)
    return table.set_column(col, table.schema.field(col), bumped)


def test_equal_results_match():
    t = _oracle_table()
    assert mismatch(canonical_rows(t), canonical_rows(t)) is None


@pytest.mark.parametrize(
    "change", [_perturbed, lambda t: t.slice(1)], ids=["value", "missing_row"]
)
def test_mismatch_is_reported(change):
    t = _oracle_table()
    assert mismatch(canonical_rows(change(t)), canonical_rows(t))


def test_injected_wrong_result_raises_error_rate(monkeypatch):
    good = _oracle_table()
    for table, ok in ((good, True), (_perturbed(good), False)):
        mix = _mix(monkeypatch, table)
        mix.warm()
        mix.check()
        op = workloads.Op(KIND, 0, 0.1, False, rows=good.num_rows)
        mix.verify(op)
        assert op.ok is ok and (KIND in mix.wrong) is not ok


def test_timed_row_count_is_checked(monkeypatch):
    good = _oracle_table()
    mix = _mix(monkeypatch, good)
    mix.warm()
    mix.check()
    ops = [
        workloads.Op(KIND, 0, 0.1, False, rows=good.num_rows),
        workloads.Op(KIND, 1, 0.1, False, rows=good.num_rows - 1),
    ]
    for op in ops:
        mix.verify(op)
    assert [op.ok for op in ops] == [True, False]
