"""Operator observability: the engine's rendition of the reference's
``@logdec`` (reference ``log.py:24-67`` — every operator logs its args,
success, and exceptions, re-raising).

Two layers:

- ``logdec`` — same contract as the reference for driver-side pipeline
  functions (args in, success/exception out, always re-raise).
- ``observed`` — the Spark-native layer the reference has no analogue
  for: ``df.observe()`` attaches metric expressions that are computed
  DURING the action (piggybacked on execution, zero extra passes or
  scans), the right way to get row counts / quality stats out of a 100 TB
  job without running it twice. Metrics land in an ``Observation`` after
  any action on the returned DataFrame.

``codegen_compilations`` reads the JVM's whole-stage-codegen compile
counter, a count that host load cannot distort.
"""

from __future__ import annotations

import functools
import logging
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger("statline_bq_spark")


def logdec(func):
    """Log call → success/exception, re-raising (reference ``log.py:24-67``).

    Unlike the reference's, argument reprs are truncated so logging a
    DataFrame or a large dict never materializes or spams.
    """

    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        short = ", ".join(
            [repr(a)[:80] for a in args]
            + [f"{k}={repr(v)[:80]}" for k, v in kwargs.items()]
        )
        logger.debug("%s(%s)", func.__name__, short)
        t0 = time.perf_counter()
        try:
            out = func(*args, **kwargs)
        except Exception:
            logger.exception(
                "%s failed after %.3fs", func.__name__, time.perf_counter() - t0
            )
            raise
        logger.debug("%s ok in %.3fs", func.__name__, time.perf_counter() - t0)
        return out

    return wrapper


def observed(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach piggybacked metrics to a DataFrame.

    Returns (df, observation); after ANY action on the returned df,
    ``observation.get`` holds the metric values — computed inside the same
    job, not by a second scan. Default metric when none given: row count.

    Usage::

        df, obs = observed(pipeline_output, "landed")
        df.write.parquet(path)
        logger.info("landed %s rows", obs.get["rows"])
    """
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("rows"),)
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


@contextmanager
def timed(step: str) -> Iterator[None]:
    """Wall-clock a driver-side step with success/failure logging."""
    t0 = time.perf_counter()
    try:
        yield
    except Exception:
        logger.exception("%s failed after %.3fs", step, time.perf_counter() - t0)
        raise
    logger.info("%s ok in %.3fs", step, time.perf_counter() - t0)


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes the JVM has compiled since it started.

    Reads the count of Spark's ``CodegenMetrics`` compilation-time
    histogram, which gets one sample per Janino compile, i.e. per miss of
    the whole-stage codegen cache. The counter is one per JVM, so callers
    take the difference around the work they measure.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
