"""Tracing for the ``--trace 1`` run, recorded from outside the engine.

- Spans: name, start, end, parent; all spans of one operation share its id.
  They stay in memory and are written out once, when the run ends.
- py4j calls: the gateway client's ``send_command`` is wrapped, so every
  Python→JVM round trip is counted.
- Stage metrics: every operation runs under its own job group; after it
  ends, the listener bus is drained and the completed stages of that group
  are read from the status REST API (the traced session enables the UI).
- Module wrappers: the ingest modules' public functions are replaced by
  timing wrappers on the module objects, which is where ``pipeline`` looks
  them up.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from contextlib import contextmanager

#: (module, attribute, span name) wrapped for the statline_ingest workload.
INGEST_WRAPS = (
    ("statline_bq_spark.pipeline", "process_dataset", "pipeline"),
    ("statline_bq_spark.plans.layout", "write_snapshot", "layout.write"),
    ("statline_bq_spark.sources.catalog", "register_dataset_tables", "catalog.register"),
    ("statline_bq_spark.sources.catalog", "patch_column_descriptions", "catalog.patch"),
    ("statline_bq_spark.sources.metadata", "read_metadata", "metadata"),
    ("statline_bq_spark.sources.metadata", "write_metadata", "metadata"),
)


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.ddl_statements = 0
        self._stack: list[int] = []
        self._op: str | None = None
        self._undo: list = []
        self._count_py4j()
        self._stages = _StageReader(spark)

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def op(self, op_id: str):
        """Root span of one operation; nested spans inherit its id."""
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "op": self._op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "py4j": self.py4j_calls,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec["py4j"]

    def self_times(self, op_prefix: str) -> dict[str, float]:
        """Per span name, over the operations whose id starts with
        ``op_prefix``: duration minus the time its child spans cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] and s["op"].startswith(op_prefix):
                own = s["end"] - s["start"] - child_time[i]
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- counters ------------------------------------------------------------

    def _count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._undo.append(lambda: delattr(client, "send_command"))

    def stage_metrics(self, job_group: str) -> dict[str, float]:
        return self._stages.for_group(job_group)

    def wrap_modules(self) -> None:
        """Replace the ingest modules' functions by span-recording wrappers;
        SQL statements issued inside a catalog span are counted."""
        import importlib

        for mod_name, attr, span_name in INGEST_WRAPS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            setattr(mod, attr, self._wrapped(fn, span_name))
            self._undo.append(functools.partial(setattr, mod, attr, fn))

        sql = self.spark.sql

        def counted_sql(*args, **kwargs):
            if any(self.spans[i]["name"].startswith("catalog.") for i in self._stack):
                self.ddl_statements += 1
            return sql(*args, **kwargs)

        self.spark.sql = counted_sql
        self._undo.append(lambda: delattr(self.spark, "sql"))

    def _wrapped(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name) as rec:
                out = fn(*args, **kwargs)
                if span_name == "layout.write":
                    rec["files"], rec["bytes"] = _parquet_files(out)
                return out

        return wrapper

    def close(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()


def _parquet_files(path: str) -> tuple[int, int]:
    files = n_bytes = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
    return files, n_bytes


class _StageReader:
    """Completed-stage metrics of one job group from the status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # localhost only: bypass any proxy configured in the environment
        self._http = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def _get(self, path: str):
        with self._http.open(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def for_group(self, job_group: str) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == job_group]
        out = dict.fromkeys(
            (
                "exec.jobs exec.stages exec.tasks exec.task_run_s "
                "exec.task_cpu_s exec.task_gc_s exec.task_skew "
                "shuffle.write_bytes shuffle.read_bytes spill.bytes "
                "scan.input_bytes scan.input_rows"
            ).split(),
            0.0,
        )
        out["exec.jobs"] = float(len(jobs))
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in self._get(f"/stages/{sid}"):
                if st.get("status") != "COMPLETE":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st["numCompleteTasks"]
                out["exec.task_run_s"] += st["executorRunTime"] / 1e3
                out["exec.task_cpu_s"] += st["executorCpuTime"] / 1e9
                out["exec.task_gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle.write_bytes"] += st["shuffleWriteBytes"]
                out["shuffle.read_bytes"] += st["shuffleReadBytes"]
                out["spill.bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                out["scan.input_bytes"] += st["inputBytes"]
                out["scan.input_rows"] += st["inputRecords"]
                if st["numCompleteTasks"] >= 2:
                    q = self._get(
                        f"/stages/{sid}/{st['attemptId']}/taskSummary"
                        "?quantiles=0.5,1.0"
                    )["executorRunTime"]
                    if q[0] > 0:
                        out["exec.task_skew"] = max(out["exec.task_skew"], q[1] / q[0])
        return out
