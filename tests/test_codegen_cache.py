"""The whole-stage codegen cache holds the star surface's working set.

Spark keeps one least-recently-used cache of compiled classes per JVM,
100 entries by default. One pass of the perfbench star mix generates
~170 classes, so at that size every pass evicted the classes the next
pass needed and recompiled all of them. ``get_spark`` sizes the cache to
1000; this test gates it with the JVM's compile counter, which host load
cannot distort.
"""

from __future__ import annotations

import os
import sys

from statline_bq_spark.observability import codegen_compilations
from statline_bq_spark.workload import QUERIES

_PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def _star_pass(spark, data_dir: str, kinds) -> int:
    """Run each query once through the ``noop`` sink, as perfbench times
    it; return the number of classes compiled meanwhile."""
    before = codegen_compilations(spark)
    for kind in kinds:
        QUERIES[kind](spark, data_dir).write.format("noop").mode("overwrite").save()
    return codegen_compilations(spark) - before


def test_second_star_pass_compiles_nothing(spark, sf_oracle_dir):
    sys.path.insert(0, _PERFBENCH)
    try:
        from workloads import STAR_SURFACE
    finally:
        sys.path.remove(_PERFBENCH)

    _star_pass(spark, sf_oracle_dir, STAR_SURFACE)
    assert _star_pass(spark, sf_oracle_dir, STAR_SURFACE) == 0
