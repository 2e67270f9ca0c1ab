"""The benchmark's two workloads.  Each is driven by one client thread
that calls only the engine's public functions and times every call from
outside, in a closed loop: the next pass starts when the last one ends.

* `catalog`: one catalog query per plans module, build() plus a noop
  write, over generated tables.  Planning-, scheduling- and shuffle-bound; it
  never touches the streaming or dashboard code.
* `pipeline`: feed -> stream -> sink -> dashboard.  The write-heavy path
  (file source, stateful window aggregate, dual parquet sink) followed by
  the twelve dashboard panels over the raw sink; it runs no catalog query.

The dashboard refresh rides in `pipeline` rather than in a workload of its
own: every run pays ~30 s of JVM, codegen and JIT warm-up, and three such
runs per seed do not fit the benchmark's time budget.

Every workload has the same shape:

* `setup()` stages the inputs and makes one untimed warm pass that also
  checks the engine's outputs;
* `run_pass()` is one timed unit of work (a catalog pass; a stream drain
  plus a dashboard refresh), repeated for the run's `--seconds`;
* `verify()` checks what the timed passes left behind, after the timed
  window has closed, so its Spark jobs count in no metric;
* `report()` turns the recorded timings into the end-to-end metrics, the
  per-layer metrics and the workload's own named figures.
"""

from __future__ import annotations

import ast
import json
import math
import os
import random
import statistics
import sys
import time
from datetime import datetime

from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark import dashboard
from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
from real_time_big_data_iot_monitoring_pipeline_spark.sources import sensors
from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import TABLES
from real_time_big_data_iot_monitoring_pipeline_spark.streaming import pipeline

import catalog_data

# One query from each plans module that owns a bench.py HEADLINE query.
# The headline query itself where its warm time is under ~1.3 s at this
# scale; for the five modules whose headline query is heavier, an
# oracle-bearing query of the same module, so a pass fits the run budget.
CATALOG = (
    "flagship_window_agg",  # reference_queries
    "pricing_summary",  # join_queries
    "session_window_agg",  # streaming_queries
    "embedding_cosine_topk",  # northstar_queries
    "returned_items_report",  # extension_queries
    "resample_gap_fill",  # pipeline_queries
    "salted_join_brand_revenue",  # skew_queries
    "multi_grain_rollup",  # olap_queries
    "bucketed_join_revenue",  # storage_queries
    "bloom_prune_semijoin",  # matching_queries
    "heavy_hitters_exact_2pass",  # sketch_queries
    "embedding_label_centroids",  # mlprep_queries (headline: embedding_pq_topk)
    "running_revenue_share",  # analytics_queries (headline: pagerank_trade_graph)
    "filtered_aggregates_sql",  # engine_queries (headline: layout_zorder_stats)
    "funnel_conversion",  # behavior_queries (headline: kcore_decomposition)
)
CATALOG_SF = 0.01
CATALOG_TABLE_SEED = 42

# dashboard.full_dashboard panel key -> the dashboard function behind it
PANELS = {
    "kpis": "kpis",
    "alerts": "alert_feed",
    "severity": "severity_summary",
    "location_stats": "location_stats",
    "describe": "temperature_describe",
    "histogram": "temperature_histogram",
    "correlations": "metric_correlations",
    "trend": "trend_series",
    "trend_dense": "trend_series_dense",
    "forecasts": "forecasts",
    "model_quality": "model_quality",
    "geo": "geo_map",
}
# panels whose row count follows from the feed's shape alone
FIXED_ROWS = {
    "kpis": 1,
    "location_stats": sensors.N_SENSORS,
    "describe": 1,
    "correlations": 3,
    "forecasts": sensors.N_SENSORS,
    "model_quality": 1,
    "geo": sensors.N_SENSORS,
}

PIPELINE_HOURS = 2
PIPELINE_FILES = 2
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
WATERMARK_S = 600  # start_dual_sink's default "10 minutes"


def module_of(name: str) -> str:
    return REGISTRY[name].build.__module__.rsplit(".", 1)[-1]


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Workload:
    """Shared bookkeeping: check outcomes, pass timings, per-layer sums."""

    name = ""
    nominal_pass_s = 1.0  # seconds budgeted per timed pass (4-core machine)

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.rng = random.Random(ctx.seed)
        self.attempted = 0
        self.failed = 0
        self.pass_s: list[float] = []
        self.layers: dict[str, list[float]] = {}

    def passes_for(self, seconds: float) -> int:
        """How many timed passes fill `seconds` (at least one)."""
        return max(1, int(seconds / self.nominal_pass_s))

    def verify(self) -> None:
        """Check the timed passes' outputs (after the timed window)."""

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED [{self.name}]: {what}")

    def add(self, layer: str, value: float) -> None:
        self.layers.setdefault(layer, []).append(value)

    def layer_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.layers.items()}


# ---- dashboard panels -----------------------------------------------------


class Panels:
    """One dashboard refresh: re-read the readings and collect all twelve
    `dashboard.full_dashboard` panels with toPandas(), as a serving layer
    would, in a seed-permuted order."""

    def __init__(self, wl: "Workload"):
        self.wl = wl
        self.loc = sensors.location_dim(wl.spark)
        self.order = list(PANELS)
        wl.rng.shuffle(self.order)

    def refresh(self, path: str, n_rows: int, first_s: int, last_s: int, record: bool) -> None:
        wl = self.wl
        readings = wl.spark.read.parquet(path)
        if not record and set(dashboard.full_dashboard(readings, self.loc)) != set(PANELS):
            raise RuntimeError("dashboard.full_dashboard panels no longer match PANELS")
        expected = dict(
            FIXED_ROWS,
            trend=n_rows,
            trend_dense=sensors.N_SENSORS * (last_s // 300 - first_s // 300 + 1),
        )
        rows = {}
        for key in self.order:
            fn = PANELS[key]
            with wl.tracer.span(f"dashboard.{fn}", count_jobs=wl.ctx.trace) as sp:
                df = getattr(dashboard, fn)(readings, self.loc) if fn == "geo_map" else getattr(dashboard, fn)(readings)
                pdf = df.toPandas()
            rows[key] = len(pdf)
            if key == "kpis":
                kpi = pdf.iloc[0]
                wl.check(int(kpi["n_readings"]) == n_rows, f"kpis.n_readings={kpi['n_readings']} != {n_rows}")
                wl.check(int(kpi["n_sensors"]) == sensors.N_SENSORS, f"kpis.n_sensors={kpi['n_sensors']}")
            if record:
                wl.add(f"dashboard.{fn}_s", sp["end"] - sp["start"])
                for c in ("jobs", "stages", "tasks"):
                    if c in sp:
                        wl.add(f"dashboard.{c}.{fn}", sp[c])
        for key, n in expected.items():
            wl.check(rows[key] == n, f"{key} rows {rows[key]} != {n}")
        wl.check(0 < rows["histogram"] <= 30, f"histogram has {rows['histogram']} of 30 bins")
        wl.check(rows["alerts"] > 0 and rows["severity"] > 0, "empty alert panels")

    @staticmethod
    def layers(med: dict[str, float]) -> dict[str, float]:
        layers = {k: v for k, v in med.items() if k.startswith("dashboard.") and k.endswith("_s")}
        for c in ("jobs", "stages", "tasks"):
            per_panel = [v for k, v in med.items() if k.startswith(f"dashboard.{c}.")]
            if per_panel:
                layers[f"dashboard.{c}"] = sum(per_panel)
        return layers


# ---- catalog --------------------------------------------------------------


class Catalog(Workload):
    """The CATALOG queries over generated tables, in a seed-permuted order;
    each runs build() and then a noop write.  Setup checks every result
    against its DuckDB oracle."""

    name = "catalog"
    nominal_pass_s = 10.0  # a pass takes ~11 s

    def setup(self) -> None:
        import duckdb

        sys.path.insert(0, os.path.join(self.ctx.root, "tests"))
        from compare import assert_frames_match

        self.sf_dir = os.path.join(self.ctx.work_dir, "tables")
        catalog_data.generate(self.sf_dir, CATALOG_SF, seed=CATALOG_TABLE_SEED)
        order = list(CATALOG)
        self.rng.shuffle(order)
        self.order = order
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in order:
                q = REGISTRY[name]
                self.attempted += 1
                got = q.build(self.spark, self.sf_dir).toPandas()
                try:
                    assert_frames_match(got, con.sql(q.oracle).df(), name)
                except AssertionError as exc:
                    self.check(False, str(exc))
        finally:
            con.close()

    def run_pass(self) -> None:
        spark = self.spark
        with self.tracer.span("plans.pass") as pass_sp:
            for name in self.order:
                spark.catalog.clearCache()
                module = module_of(name)
                with self.tracer.span(f"plans.{module}.{name}", count_jobs=self.ctx.trace) as sp:
                    with self.tracer.span("build") as b:
                        df = REGISTRY[name].build(spark, self.sf_dir)
                    with self.tracer.span("exec") as e:
                        df.write.format("noop").mode("overwrite").save()
                self.attempted += 1
                self.add(f"query.{name}", sp["end"] - sp["start"])
                self.add(f"plans.{module}.build_s", b["end"] - b["start"])
                self.add(f"plans.{module}.exec_s", e["end"] - e["start"])
                for c in ("jobs", "stages", "tasks"):
                    if c in sp:
                        self.add(f"plans.{c}.{name}", sp[c])
        self.pass_s.append(pass_sp["end"] - pass_sp["start"])

    def report(self) -> dict:
        med = self.layer_medians()
        layers = {k: v for k, v in med.items() if k.startswith("plans.") and k.endswith("_s")}
        layers["plans.build_s"] = sum(v for k, v in layers.items() if k.endswith(".build_s"))
        layers["plans.exec_s"] = sum(v for k, v in layers.items() if k.endswith(".exec_s"))
        for c in ("jobs", "stages", "tasks"):
            per_query = [v for k, v in med.items() if k.startswith(f"plans.{c}.")]
            if per_query:
                layers[f"plans.{c}"] = sum(per_query)
        query_medians = {n: med[f"query.{n}"] for n in CATALOG}
        named = {
            "catalog_s": statistics.median(self.pass_s),
            "query_geomean_s": geomean(query_medians.values()),
            "passes": len(self.pass_s),
            "queries_s": query_medians,
        }
        return {"item_geomean_s": named["query_geomean_s"], "layers": layers, "named": named}


# ---- pipeline -------------------------------------------------------------


def _offset(o) -> int | None:
    """The file source's log offset from a progress entry (a dict, or its
    JSON text; None before the first batch)."""
    if isinstance(o, str):
        try:
            o = json.loads(o)
        except ValueError:
            o = ast.literal_eval(o)
    return None if o is None else int(o["logOffset"])


def _epoch_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class TimedWriter:
    """Wraps a foreachBatch callable and adds up how long its calls took."""

    def __init__(self, fn):
        self.fn = fn
        self.total_s = 0.0

    def __call__(self, batch_df, batch_id):
        t0 = time.perf_counter()
        try:
            self.fn(batch_df, batch_id)
        finally:
            self.total_s += time.perf_counter() - t0


class Pipeline(Workload):
    """Feed -> stream -> sink -> dashboard.  The sensor feed is staged as
    event-time-ordered files and drained through the dual sink, one file
    per micro-batch; then the dashboard refreshes over the raw sink."""

    name = "pipeline"
    nominal_pass_s = 9.0  # a pass takes ~8-11 s

    def _stage(self, hours: int, start: int, n_files: int, path: str) -> tuple[int, int, int]:
        """Stage `hours` of feed from `start`; return (rows, first, last
        event second)."""
        feed = sensors.readings(self.spark, hours=hours, start_epoch=start)
        self.schema = feed.schema
        pipeline.stage_event_time_slices(feed, path, n_slices=n_files)
        per_sensor = hours * 3600 // sensors.CADENCE_S
        return per_sensor * sensors.N_SENSORS, start, start + (per_sensor - 1) * sensors.CADENCE_S

    def setup(self) -> None:
        spark = self.spark
        self.panels = Panels(self)
        start = sensors.EPOCH_START + self.rng.randrange(0, 7 * 24) * 3600 + self.rng.randrange(0, 30) * 60
        self.staging = os.path.join(self.ctx.work_dir, "staging")
        with self.tracer.span("streaming.pipeline.stage_event_time_slices") as sp:
            self.feed = self._stage(PIPELINE_HOURS, start, PIPELINE_FILES, self.staging)
        self.stage_s = sp["end"] - sp["start"]
        # append mode emits a window once the final watermark (max event
        # time - 10 min) has passed its end; later windows stay in state
        staged = spark.read.parquet(self.staging)
        self.expected_agg = (
            pipeline.windowed_aggregate_stream(staged)
            .filter(F.unix_seconds("window_end") <= self.feed[2] - WATERMARK_S)
            .toPandas()
        )
        # warm pass: a two-file feed ahead of the timed one, same code path
        warm_staging = os.path.join(self.ctx.work_dir, "warm_staging")
        warm_feed = self._stage(2, start - 4 * 3600, 2, warm_staging)
        out, _ = self._drain(warm_staging, "warm", record=False)
        self.panels.refresh(f"{out}/raw", *warm_feed, record=False)
        self.visible: list[float] = []
        self.refresh_s: list[float] = []
        self.drained: list[tuple[str, int]] = []  # (sinks' dir, late drops) per timed drain

    def _drain(self, staging: str, tag: str, record: bool) -> tuple[str, float]:
        """Drain `staging` through the dual sink; return the sinks' dir and
        the seconds from `start_dual_sink` until both queries drained."""
        spark = self.spark
        out = os.path.join(self.ctx.work_dir, f"drain-{tag}")
        raw_w = TimedWriter(pipeline.parquet_append_writer(f"{out}/raw"))
        agg_w = TimedWriter(pipeline.parquet_upsert_writer(f"{out}/agg", partition_col="window_start"))
        src = pipeline.file_source(spark, staging, schema=self.schema, max_files_per_trigger=1)
        with self.tracer.span("streaming.drain") as sp:
            raw_q, agg_q = pipeline.start_dual_sink(src, raw_w, agg_w, f"{out}/ckpt")
            try:
                raw_q.processAllAvailable()
                agg_q.processAllAvailable()
            finally:
                raw_q.stop()
                agg_q.stop()
        drain_s = sp["end"] - sp["start"]
        if not record:
            return out, drain_s
        raw_p, agg_p = raw_q.recentProgress, agg_q.recentProgress

        # per-file visibility: batch k of each query reads staged file k
        spans: dict[int, list[float]] = {}
        for prog in (raw_p, agg_p):
            for p in prog:
                src_p = p["sources"][0]
                end, begin = _offset(src_p.get("endOffset")), _offset(src_p.get("startOffset"))
                if end is None or end == begin or not p.get("numInputRows"):
                    continue
                t0 = _epoch_s(p["timestamp"])
                t1 = t0 + p["durationMs"]["triggerExecution"] / 1000.0
                s = spans.setdefault(end, [t0, t1])
                s[0], s[1] = min(s[0], t0), max(s[1], t1)
        self.check(len(spans) == PIPELINE_FILES, f"{len(spans)} data batches for {PIPELINE_FILES} files")
        for k, (t0, t1) in spans.items():
            self.add(f"visible.{k}", t1 - t0)
            self.visible.append(t1 - t0)

        for tag_q, prog in (("raw", raw_p), ("agg", agg_p)):
            for phase in STREAM_PHASES:
                self.add(f"streaming.{tag_q}.{phase}_s", sum(p["durationMs"].get(phase, 0) for p in prog) / 1000.0)
        ops = [o for p in agg_p for o in (p.get("stateOperators") or [])]
        dropped = sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops)
        self.add("streaming.batches", len(raw_p) + len(agg_p))
        self.add("streaming.state_rows", int(ops[-1]["numRowsTotal"]) if ops else 0)
        self.add("streaming.state_mem_bytes", max((int(o["memoryUsedBytes"]) for o in ops), default=0))
        self.add("streaming.rows_dropped_late", dropped)
        self.add("streaming.pipeline.parquet_append_writer_s", raw_w.total_s)
        self.add("streaming.pipeline.parquet_upsert_writer_s", agg_w.total_s)
        self.drained.append((out, dropped))
        return out, drain_s

    def run_pass(self) -> None:
        self.attempted += 1
        out, drain_s = self._drain(self.staging, str(len(self.pass_s)), record=True)
        with self.tracer.span("dashboard.refresh") as sp:
            self.panels.refresh(f"{out}/raw", *self.feed, record=True)
        self.refresh_s.append(sp["end"] - sp["start"])
        self.pass_s.append(drain_s + self.refresh_s[-1])
        self.add("drain_s", drain_s)

    def verify(self) -> None:
        """Every timed drain: the raw sink holds every staged row, the
        aggregate sink equals the batch aggregate of the sealed windows,
        and no row came too late."""
        sys.path.insert(0, os.path.join(self.ctx.root, "tests"))
        from compare import assert_frames_match

        n_rows = self.feed[0]
        for out, dropped in self.drained:
            raw_rows = self.spark.read.parquet(f"{out}/raw").count()
            self.check(raw_rows == n_rows, f"raw sink {raw_rows} rows != {n_rows}")
            got = self.spark.read.parquet(f"{out}/agg").select(*self.expected_agg.columns).toPandas()
            try:
                assert_frames_match(got, self.expected_agg, f"agg sink {out}")
            except AssertionError as exc:
                self.check(False, str(exc))
            self.check(dropped == 0, f"{dropped} rows dropped late")

    def report(self) -> dict:
        med = self.layer_medians()
        layers = {k: v for k, v in med.items() if k.startswith("streaming.")}
        layers["streaming.pipeline.stage_event_time_slices_s"] = self.stage_s
        layers.update(Panels.layers(med))
        per_file = [med[f"visible.{k}"] for k in range(PIPELINE_FILES) if f"visible.{k}" in med]
        named = {
            "ingest_rows_per_s": self.feed[0] / med["drain_s"],
            "visible_p50_s": statistics.median(self.visible),
            "refresh_p50_s": statistics.median(self.refresh_s),
            "files": len(self.visible),
            "refreshes": len(self.refresh_s),
            "staged_rows": self.feed[0],
            "agg_rows": len(self.expected_agg),
        }
        return {"item_geomean_s": geomean(per_file), "layers": layers, "named": named}


WORKLOADS = {w.name: w for w in (Catalog, Pipeline)}
