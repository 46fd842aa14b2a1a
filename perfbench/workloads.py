"""The benchmark's workloads: one closed-loop client on one local session.

- ``star_surface``: queries of the published star-schema surface.
- ``statline_ingest``: one StatLine dataset cycle of writes.

Every workload runs in passes. A pass runs each of its operations once, in
an order drawn from the seed, so every run times the same multiset of
operations. The seed also sets the ingest row order and the delta pages.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from statline_bq_spark import pipeline
from statline_bq_spark.sources.odata_source import ODataDataSource, ODataReader
from statline_bq_spark.workload import ORACLES, QUERIES

from oracle import Oracle, canonical_rows, mismatch


@dataclass
class Op:
    """One timed operation and, in traced passes, its per-layer counters."""

    kind: str
    pass_no: int
    latency: float
    traced: bool
    ok: bool = True
    rows: int | None = None
    layers: dict[str, float] = field(default_factory=dict)


class NullTracer:
    """Stands in for ``tracing.Tracer`` in untraced passes."""

    def op(self, op_id):
        return nullcontext()

    def span(self, name, **attrs):
        return nullcontext({})


def _span_s(rec) -> float:
    return rec["end"] - rec["start"]


class QueryMix:
    """A seeded, shuffled mix of oracle-backed queries over fixed tables."""

    primary = None  # op.p50_s is taken over every query
    min_passes = 3

    def __init__(self, kinds: tuple[str, ...], data_dir: str, seed: int):
        missing = [k for k in kinds if k not in QUERIES or k not in ORACLES]
        if missing:
            raise KeyError(f"not oracle-backed queries: {missing}")
        self.kinds, self.data_dir, self.seed = kinds, data_dir, seed
        self.expected_rows: dict[str, int] = {}
        self.wrong: dict[str, str] = {}
        self._results: dict = {}

    def prepare(self) -> None:
        """The tables are fixed; only the per-pass order comes from the seed."""

    def bind(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def order(self, pass_no: int) -> list[str]:
        kinds = list(self.kinds)
        random.Random(f"{self.seed}/{pass_no}").shuffle(kinds)
        return kinds

    def warm(self) -> None:
        """Each query once, its full result materialised to the driver as
        Arrow (``check`` compares these results with the oracles); then one
        pass as the timed passes run it, because the JIT is still compiling
        the surface after the first: timed passes start on a flatter curve."""
        self._results = {}
        for kind in self.order(-1):
            self.spark.sparkContext.setJobGroup(f"warm-{kind}", kind)
            try:
                self._results[kind] = QUERIES[kind](self.spark, self.data_dir).toArrow()
            except Exception as exc:  # its timed operations count as failed
                traceback.print_exc()
                self.wrong[kind] = f"{type(exc).__name__}: {exc}"[:300]
        self.run_pass(-2, False)

    def run_pass(self, pass_no: int, traced: bool) -> list[Op]:
        tracer = self.tracer if traced else NullTracer()
        ops = []
        for i, kind in enumerate(self.order(pass_no)):
            try:
                ops.append(self._query(kind, f"p{pass_no}-{i}-{kind}", tracer, pass_no))
            except Exception as exc:  # counted as a failed operation
                traceback.print_exc()
                self.wrong.setdefault(kind, f"{type(exc).__name__}: {exc}"[:300])
                ops.append(Op(kind, pass_no, float("nan"), traced, ok=False))
        return ops

    def _query(self, kind: str, op_id: str, tracer, pass_no: int = -1) -> Op:
        spark = self.spark
        spark.sparkContext.setJobGroup(op_id, kind)
        obs = Observation(op_id)
        with tracer.op(op_id):
            t0 = time.perf_counter()
            with tracer.span("build") as build:
                df = QUERIES[kind](spark, self.data_dir)
            with tracer.span("action") as action:
                (
                    df.observe(obs, F.count(F.lit(1)).alias("rows"))
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
            latency = time.perf_counter() - t0
        op = Op(kind, pass_no, latency, traced=bool(build), rows=obs.get["rows"])
        self.verify(op)
        if build:
            op.layers = {
                "build.s": _span_s(build),
                "build.py4j_calls": build["py4j"],
                "exec.s": _span_s(action),
                **_plan_phases(df),
                **tracer.stage_metrics(op_id),
            }
        return op

    def check(self) -> None:
        """Compare each warm-up result with its oracle (untimed, outside
        set-up)."""
        oracle = Oracle(self.data_dir)
        for kind, table in self._results.items():
            got = canonical_rows(table)
            self.expected_rows[kind] = got[1].total()
            reason = mismatch(got, oracle.expected(ORACLES[kind]))
            if reason:
                self.wrong[kind] = reason
        self._results = {}

    def verify(self, op: Op) -> None:
        """A timed operation is wrong when its query failed the oracle check
        or its observed row count differs from the checked result."""
        want = self.expected_rows.get(op.kind)
        if op.kind in self.wrong:
            op.ok = False
        elif want is not None and op.rows != want:
            op.ok = False
            self.wrong[op.kind] = f"timed run saw {op.rows} rows, result has {want}"


def _plan_phases(df) -> dict[str, float]:
    """Catalyst phase times of the operation's plan: analysis ran while the
    DataFrame was built; optimization and planning are forced here, on the
    same plan the action executed (untimed)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"plan.{phase}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


#: hierarchy_closure is left out: its iterative closure costs ~10 s of
#: every run (warm-up, check and pass), which the run budget cannot carry;
#: revenue_share_hierarchy still covers the hierarchy surface.
STAR_SURFACE = (
    "star_schema_agg",
    "dimension_decode",
    "pivot_event_values",
    "unpivot_lineitem",
    "revenue_share_hierarchy",
    "rollup_region_nation",
    "cube_order_stats",
    "filtered_slice",
    "pricing_summary",
    "top_orders_per_customer",
    "latest_event_per_user",
    "session_windows",
    "tumbling_hourly_stats",
    "sliding_6h_stats",
    "running_order_totals",
    "price_percentiles",
)


# ---------------------------------------------------------------------------
# statline_ingest
# ---------------------------------------------------------------------------

DATASET_ID = "LI01"
PAGE_ROWS = 10_000  # the OData v3 page cap
DELTA_PAGES = 2

TYPED_COLUMNS = (
    ("ID", "INT", "Row identifier"),
    ("l_orderkey", "BIGINT", "Order key"),
    ("l_partkey", "BIGINT", "Part code (Part code table)"),
    ("l_suppkey", "BIGINT", "Supplier code (Supplier code table)"),
    ("l_linenumber", "INT", "Line number within the order"),
    ("l_quantity", "DOUBLE", "Quantity"),
    ("l_extendedprice", "DOUBLE", "Extended price"),
    ("l_discount", "DOUBLE", "Discount fraction"),
    ("l_tax", "DOUBLE", "Tax fraction"),
    ("l_returnflag", "STRING", "Return flag"),
    ("l_linestatus", "STRING", "Line status"),
    ("Perioden", "STRING", "Ship month, CBS period code (YYYYMMmm)"),
)
TYPED_DDL = ", ".join(f"{c} {t}" for c, t, _ in TYPED_COLUMNS)
PART_DDL = "Key BIGINT, Title STRING, Brand STRING, Type STRING, Size INT"
SUPPLIER_DDL = "Key BIGINT, Title STRING, NationKey INT"
PROPS_DDL = "`odata.type` STRING, ID INT, Position INT, `Key.Name` STRING, Key STRING, Description STRING"


def _write_ndjson(path: str, records) -> int:
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")
    return os.path.getsize(path)


class StatlineIngest:
    """CBS-shaped v3 dataset from ``lineitem``: land, skip, stream a delta.

    One cycle: (1) ``process_dataset(endpoint="catalog")`` lands the
    dataset through the offline ``cbs_odata`` source; (2) a rerun with the
    same ``Modified`` must skip without calling any table thunk; (3) the
    delta pages appear in a spool and are streamed with ``availableNow``
    into a catalog table; (4) the new rows are counted through
    ``spark.table``. Each cycle lands into a fresh storage root.
    """

    primary = "land"
    min_passes = 3  # one landing per cycle: runs of two cycles spread ~0.14

    def __init__(self, data_dir: str, work: str, seed: int):
        self.data_dir, self.work, self.seed = data_dir, work, seed
        self.pages = os.path.join(work, "pages")
        self.wrong: dict[str, str] = {}

    # -- inputs --------------------------------------------------------------

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        li = pq.read_table(os.path.join(self.data_dir, "lineitem.parquet")).to_pylist()
        rows = []
        for i, r in enumerate(li):
            ship = r.pop("l_shipdate")
            rows.append({"ID": i, **r, "Perioden": f"{ship.year}MM{ship.month:02d}"})
        rng = random.Random(self.seed)
        rng.shuffle(rows)
        pages = [rows[i : i + PAGE_ROWS] for i in range(0, len(rows), PAGE_ROWS)]
        delta = set(rng.sample(range(len(pages)), DELTA_PAGES))
        typed = os.path.join(self.pages, "TypedDataSet")
        self.delta_src = os.path.join(self.work, "delta")
        os.makedirs(typed)
        os.makedirs(self.delta_src)
        self.base_rows = self.delta_rows = 0
        self.landed_ndjson_bytes = 0
        for n, page in enumerate(pages):
            if n in delta:
                _write_ndjson(os.path.join(self.delta_src, f"page-{n:04d}.ndjson"), page)
                self.delta_rows += len(page)
            else:
                self.landed_ndjson_bytes += _write_ndjson(
                    os.path.join(typed, f"page-{n:04d}.ndjson"), page
                )
                self.base_rows += len(page)

        part = pq.read_table(os.path.join(self.data_dir, "part.parquet")).to_pylist()
        supp = pq.read_table(os.path.join(self.data_dir, "supplier.parquet")).to_pylist()
        code_tables = {
            "Part": [
                {"Key": p["p_partkey"], "Title": p["p_name"], "Brand": p["p_brand"],
                 "Type": p["p_type"], "Size": p["p_size"]}
                for p in part
            ],
            "Supplier": [
                {"Key": s["s_suppkey"], "Title": s["s_name"], "NationKey": s["s_nationkey"]}
                for s in supp
            ],
            "DataProperties": [
                {"odata.type": "Cbs.OData.Dimension" if c in ("l_partkey", "l_suppkey")
                 else "Cbs.OData.Topic", "ID": i, "Position": i, "Key.Name": c,
                 "Key": c, "Description": desc}
                for i, (c, _, desc) in enumerate(TYPED_COLUMNS)
            ],
        }
        self.expected_rows = {"TypedDataSet": self.base_rows}
        for table, recs in code_tables.items():
            os.makedirs(os.path.join(self.pages, table))
            self.landed_ndjson_bytes += _write_ndjson(
                os.path.join(self.pages, table, "page-0000.ndjson"), recs
            )
            self.expected_rows[table] = len(recs)
        self.descriptions = {c: d for c, _, d in TYPED_COLUMNS}

    # -- session -------------------------------------------------------------

    def bind(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        spark.dataSource.register(ODataDataSource)
        if tracer is not None:
            tracer.wrap_modules()

    def _source(self, table: str, ddl: str):
        return (
            self.spark.read.format("cbs_odata")
            .schema(ddl)
            .option("path", os.path.join(self.pages, table))
            .option("odata_version", "v3")
            .load()
        )

    def _tables(self, calls: list[str], tracer):
        ddl = {"TypedDataSet": TYPED_DDL, "Part": PART_DDL,
               "Supplier": SUPPLIER_DDL, "DataProperties": PROPS_DDL}

        def thunk(table):
            def make():
                calls.append(table)
                with tracer.span("build"):
                    return self._source(table, ddl[table])

            return make

        return {t: thunk(t) for t in ddl}

    # -- one cycle -----------------------------------------------------------

    def warm(self) -> None:
        self._cycle(-1, NullTracer())

    def run_pass(self, pass_no: int, traced: bool) -> list[Op]:
        try:
            return self._cycle(pass_no, self.tracer if traced else NullTracer())
        except Exception as exc:  # the whole cycle counts as failed
            traceback.print_exc()
            self.wrong.setdefault("cycle", f"{type(exc).__name__}: {exc}"[:300])
            return [Op(k, pass_no, float("nan"), traced, ok=False) for k in ("land", "skip", "delta")]

    def _cycle(self, pass_no: int, tracer) -> list[Op]:
        spark = self.spark
        root = os.path.join(self.work, f"cycle{pass_no}")
        spool = os.path.join(root, "spool")
        os.makedirs(spool)
        metadata = {
            "Identifier": DATASET_ID,
            "Modified": f"2024-01-01T00:00:{pass_no % 60:02d}",
            "ShortDescription": "Order lines, CBS-shaped v3 dataset",
        }
        kwargs = dict(
            storage_root=os.path.join(root, "store"),
            endpoint="catalog",
            load_date="20240101",
            column_descriptions=self.descriptions,
        )
        ops: list[Op] = []

        # (1) land
        ddl0 = getattr(tracer, "ddl_statements", 0)
        op_id = f"p{pass_no}-land"
        spark.sparkContext.setJobGroup(op_id, "land")
        calls: list[str] = []
        with tracer.op(op_id):
            t0 = time.perf_counter()
            res = pipeline.process_dataset(spark, DATASET_ID, self._tables(calls, tracer), metadata, **kwargs)
            land = Op("land", pass_no, time.perf_counter() - t0, traced=tracer is self.tracer)
        ops.append(land)

        # (2) rerun with unchanged Modified: must skip, calling no thunk
        skip_calls: list[str] = []
        with tracer.op(f"p{pass_no}-skip"):
            t0 = time.perf_counter()
            rerun = pipeline.process_dataset(spark, DATASET_ID, self._tables(skip_calls, tracer), metadata, **kwargs)
            skip = Op("skip", pass_no, time.perf_counter() - t0, traced=land.traced)
        ops.append(skip)

        # (3)+(4) delta pages appear in the spool; stream; count via catalog
        delta_table = f"{res.namespace}.{DATASET_ID}_TypedDataSet_delta"
        for name in sorted(os.listdir(self.delta_src)):
            shutil.copy(os.path.join(self.delta_src, name), os.path.join(root, name + ".tmp"))
        op_id = f"p{pass_no}-delta"
        spark.sparkContext.setJobGroup(op_id, "delta")
        with tracer.op(op_id):
            for name in sorted(os.listdir(self.delta_src)):
                os.rename(os.path.join(root, name + ".tmp"), os.path.join(spool, name))
            t0 = time.perf_counter()
            with tracer.span("stream"):
                query = (
                    spark.readStream.format("cbs_odata")
                    .schema(TYPED_DDL)
                    .option("path", spool)
                    .load()
                    .writeStream.option("checkpointLocation", os.path.join(root, "ckpt"))
                    .trigger(availableNow=True)
                    .toTable(delta_table)
                )
                query.awaitTermination(120)
            t_stream = time.perf_counter()
            with tracer.span("read_back"):
                new_rows = spark.table(delta_table).count()
            delta = Op("delta", pass_no, time.perf_counter() - t0, traced=land.traced, rows=new_rows)
        ops.append(delta)

        # checks, untimed
        spark.sparkContext.setJobGroup(f"p{pass_no}-check", "check")
        landed = {f.rsplit("_", 1)[-1]: n for f, n in res.row_counts.items()}
        main_rows = spark.table(f"{res.namespace}.{DATASET_ID}_TypedDataSet").count()
        if res.skipped or landed != self.expected_rows or main_rows != self.base_rows:
            land.ok = False
            self.wrong["land"] = f"skipped={res.skipped} landed={landed} table={main_rows}"
        if not rerun.skipped or skip_calls:
            skip.ok = False
            self.wrong["skip"] = f"skipped={rerun.skipped} thunks called={skip_calls}"
        if new_rows != self.delta_rows:
            delta.ok = False
            self.wrong["delta"] = f"{new_rows} new rows, expected {self.delta_rows}"

        if land.traced:
            self._layers(tracer, ops, res, query, t0, t_stream, tracer.ddl_statements - ddl0)
        shutil.rmtree(os.path.join(self.work, f"cycle{pass_no - 1}"), ignore_errors=True)
        return ops

    def _layers(self, tracer, ops, res, query, t_start, t_stream, ddl) -> None:
        land, skip, delta = ops
        spans = {op.kind: [s for s in tracer.spans if s["op"] == f"p{land.pass_no}-{op.kind}"] for op in ops}

        def total(kind, name, key=None):
            return sum((s[key] if key else _span_s(s)) for s in spans[kind] if s["name"] == name)

        progress = query.recentProgress
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in progress) / 1e3  # noqa: E731
        write_bytes = total("land", "layout.write", "bytes")
        stages = tracer.stage_metrics(f"p{land.pass_no}-land")
        for group in (f"p{land.pass_no}-delta", str(query.runId)):
            for k, v in tracer.stage_metrics(group).items():
                stages[k] = max(stages[k], v) if k == "exec.task_skew" else stages[k] + v
        land.layers = {
            "build.s": total("land", "build"),
            "build.py4j_calls": total("land", "build", "py4j"),
            "pipeline.land_s": total("land", "pipeline"),
            "pipeline.skip_s": total("skip", "pipeline"),
            "pipeline.tables_landed": float(len(res.files)),
            "pipeline.skip_ratio": 1.0 if skip.ok else 0.0,
            "pipeline.self_s": tracer.self_times(f"p{land.pass_no}-land").get("pipeline", 0.0),
            "layout.write_s": total("land", "layout.write"),
            "layout.files_written": total("land", "layout.write", "files"),
            "layout.bytes_written": write_bytes,
            "layout.stored_bytes_ratio": write_bytes / self.landed_ndjson_bytes,
            "catalog.register_s": total("land", "catalog.register"),
            "catalog.patch_s": total("land", "catalog.patch"),
            "catalog.ddl_statements": float(ddl),
            "metadata.s": total("land", "metadata") + total("skip", "metadata"),
            "stream.trigger_s": dur("triggerExecution"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.latest_offset_s": dur("latestOffset"),
            "stream.wal_commit_s": dur("walCommit"),
            "stream.start_stop_s": (t_stream - t_start) - dur("triggerExecution"),
            "stream.rows": float(sum(p["numInputRows"] for p in progress)),
            "stream.visible_s": delta.latency,
            **stages,
            **self._odata_scan(),
        }

    def _odata_scan(self) -> dict[str, float]:
        """The Python data-source scan alone, into the noop sink (untimed)."""
        self.spark.sparkContext.setJobGroup("odata-scan", "odata scan")
        obs = Observation(f"odata-scan-{time.monotonic_ns()}")
        t0 = time.perf_counter()
        (
            self._source("TypedDataSet", TYPED_DDL)
            .observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.format("noop").mode("overwrite").save()
        )
        scan_s = time.perf_counter() - t0
        reader = ODataReader(None, {"path": os.path.join(self.pages, "TypedDataSet")})
        return {
            "odata.scan_s": scan_s,
            "odata.rows": float(obs.get["rows"]),
            "odata.partitions": float(len(reader.partitions())),
        }

    def check(self) -> None:
        """Checks run inside each cycle, outside its timed steps."""
