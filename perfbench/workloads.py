"""The benchmark's three workloads, driven through the program's public
entry points: ``plans`` (PipelineRunner), ``sources``, ``operators``,
``queries`` (the registry) and ``streaming`` (TxnBatchSink).

Each workload prepares its inputs (from the seed, or the kept corpus
for the query mix), runs one round at a
time (a whole chain, a whole query mix, a fixed group of appends) and
checks the program's outputs against computations made apart from it.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import gen
import probe
import reference as ref

HERE = os.path.dirname(os.path.abspath(__file__))
PIPELINES = os.path.join(HERE, "pipelines")
START = dt.date(2023, 1, 1)
AGGS = ",".join(ref.AGGS)

# The query mix. The first two are the zonal pair that regressed three
# rounds running; the next five are the queries touched last round that
# then regressed. The rest are one cheap, oracle-checked query per
# family. Left out on purpose: streaming queries, the exhaustive O(n^2)
# baselines and the own-format (own parquet/ORC/IPC) stack.
NAMED_QUERIES = (
    "zonal_stats_disc",
    "zonal_stats_ranked",
    "curation_drop_audit",
    "benchmark_contamination",
    "embedding_near_dup_lsh",
    "ann_index_upsert_topk",
    "similarity_topk_lsh_indexed",
)
QUERY_MIX = NAMED_QUERIES + (
    "growing_degree_days",
    "cube_order_counts",
    "mode_event_type",
    "per_source_cap",
)
FAMILIES = ("geo", "relational", "analytics", "llm")

# Every per-layer metric a workload may set, with its unit; a traced run
# reports each of them, 0 where the workload does not exercise the layer.
LAYER_METRICS = [
    ("plans.parse_s", "s"), ("plans.plugin_s", "s"), ("plans.steps_run", "count"),
    ("plans.self_s", "s"),
    ("sources.decode_s", "s"), ("sources.files", "count"), ("sources.pixels", "count"),
    ("sources.shapefile_s", "s"),
    ("operators.clip_s", "s"), ("operators.rolling_s", "s"), ("operators.zscore_s", "s"),
    ("operators.zonal_s", "s"), ("operators.write_s", "s"),
    *[(f"queries.{f}.{k}", u) for f in FAMILIES
      for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))],
    *[(f"queries.{q}.{k}", u) for q in NAMED_QUERIES
      for k, u in (("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))],
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.append_p50_s", "s"),
    ("streaming.trigger_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.sink_write_s", "s"),
]


@dataclass
class RoundResult:
    attempted: int
    failed: int


def _median(xs) -> float:
    xs = list(xs)
    return float(np.median(xs)) if xs else 0.0


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Workload:
    def __init__(self, seed: int, work: str, ncpu: int):
        self.seed, self.work, self.ncpu = seed, work, ncpu
        self.outputs = os.path.join(work, "out")

    def import_program(self) -> None: ...
    def generate(self, inputs: str) -> None:
        """Make the inputs from the seed under ``inputs``."""
    def start(self, spark, tracer: probe.Tracer) -> None: ...
    def round(self, i: int) -> RoundResult: ...
    def more(self) -> bool:
        return True
    def verify(self) -> bool: ...
    def traced_extras(self, spark) -> None: ...
    def layer_metrics(self) -> dict[str, tuple[float, str]]: ...
    def close(self) -> None: ...


def _job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


# ------------------------------------------------------------ prism_chain
class PrismChain(Workload):
    """The PRISM medallion chain as YAML documents run by PipelineRunner:
    stage (decode + clip + parquet) -> 3-day and 7-day rolling sums (a
    parallel_with group of pipeline_execute children) -> SPI (zscore)
    -> county zonal statistics landed as CSV."""

    H, W, DAYS = 48, 64, 365
    STEPS = 17  # plugin calls one chain makes
    STREAM_DAYS = 8  # appended through the stream in a traced run

    def import_program(self) -> None:
        global PipelineRunner, PipelineSpec, Registry
        import shared_etl_pipelines_spark.plans.builtins  # noqa: F401  registers plugins
        import shared_etl_pipelines_spark.plans.ingest_plugins  # noqa: F401
        from shared_etl_pipelines_spark.plans.registry import Registry
        from shared_etl_pipelines_spark.plans.runner import PipelineRunner
        from shared_etl_pipelines_spark.plans.spec import PipelineSpec

    def generate(self, inputs: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.grid = gen.make_grid(rng, self.H, self.W)
        self.vals = gen.daily_values(rng, self.grid, self.DAYS)
        self.raster_dir = os.path.join(inputs, "rasters")
        gen.write_rasters(self.vals, START, self.raster_dir)
        self.county_shp, self.state_shp = gen.write_shapes(self.grid, os.path.join(inputs, "shp"))

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.plugin_spans: list[list[tuple[float, float]]] = []
        self.extras: dict[str, tuple[float, str]] = {}
        self.stream_ok = True

    def _registry(self, spans: list, done: list):
        spark, tracer = self.spark, self.tracer

        class TimedRegistry(Registry):
            """Wraps every plugin: its own job group and a span per call."""

            def resolve(self, name):
                fn = super().resolve(name)

                def call(ctx, **kw):
                    step = f"{ctx.spec.dataset_id}/{ctx.scope.render(ctx.step.name)}"
                    _job_group(spark, f"plans:{step}")
                    t0 = time.perf_counter()
                    try:
                        out = fn(ctx, **kw)
                    finally:
                        t1 = time.perf_counter()
                        tracer.add(f"plans.step:{step}", t0, t1, parent=f"plans.plugin:{name}")
                        if name != "pipeline_execute":  # a child run, not plugin work
                            spans.append((t0, t1))
                    done.append(step)
                    return out

                return call

        return TimedRegistry()

    def round(self, i: int) -> RoundResult:
        spans: list[tuple[float, float]] = []
        done: list[str] = []
        basedir = os.path.join(self.outputs, f"round{i:03d}")
        runner = PipelineRunner(
            self.spark,
            env={"raster_dir": self.raster_dir, "state_shp": self.state_shp,
                 "county_shp": self.county_shp, "basedir": basedir},
            registry=self._registry(spans, done),
            max_workers=self.ncpu,
        )
        t0 = time.perf_counter()
        try:
            runner.run(os.path.join(PIPELINES, "county.yml"))
        except Exception:
            traceback.print_exc()
        t1 = time.perf_counter()
        self.tracer.add("plans.run", t0, t1, parent=f"round:{i}")
        self.plugin_spans.append([(t0, t1), *spans])
        return RoundResult(self.STEPS, self.STEPS - len(done))

    # -- checks -----------------------------------------------------------
    def verify(self) -> bool:
        import pyarrow.parquet as pq
        import pandas as pd

        g = self.grid
        keep = ~g.lake & (np.arange(self.W)[None, :] < g.mi_cols)
        ys, xs = np.nonzero(keep)
        series = self.vals[:, keep].astype(np.float64)  # (days, cells)
        days = np.repeat(np.arange(self.DAYS), len(ys))
        cell_y, cell_x = np.tile(ys, self.DAYS), np.tile(xs, self.DAYS)
        expect = {
            "stage": ("value", series),
            "rollsum_3d": ("sum_3", ref.trailing_sum(series, 3)),
            "rollsum_7d": ("sum_7", ref.trailing_sum(series, 7)),
            "spi_3d": ("spi_3", ref.zscore(ref.trailing_sum(series, 3))),
        }
        zonal = ref.zonal_by_day(self.vals, g.label, keep, g.geoids)
        ok = True
        for rdir in sorted(glob.glob(os.path.join(self.outputs, "round*"))):
            for name, (col, want) in expect.items():
                t = pq.read_table(os.path.join(rdir, name)).to_pandas()
                d = (pd.to_datetime(t["day"]) - pd.Timestamp(START)).dt.days.to_numpy()
                order = np.lexsort((t["x"].to_numpy(), t["y"].to_numpy(), d))
                got_key = np.stack([d[order], t["y"].to_numpy()[order], t["x"].to_numpy()[order]])
                if len(t) != want.size or not np.array_equal(got_key, np.stack([days, cell_y, cell_x])):
                    print(f"MISMATCH {rdir}/{name}: rows or keys differ", file=sys.stderr, flush=True)
                    ok = False
                    continue
                if not ref.close(t[col].to_numpy()[order], want.reshape(-1)):
                    print(f"MISMATCH {rdir}/{name}.{col}", file=sys.stderr, flush=True)
                    ok = False
            parts = glob.glob(os.path.join(rdir, "county_daily", "*.csv"))
            csv = pd.concat(pd.read_csv(p, dtype={"zone_id": str}) for p in parts)
            got = {}
            for r in csv.itertuples(index=False):
                day = (dt.date.fromisoformat(str(r.day)) - START).days
                got[(str(r.zone_id), day)] = {a: getattr(r, f"ppt_{a}") for a in ref.AGGS}
            if got.keys() != zonal.keys() or not all(
                ref.close([got[k][a] for a in ref.AGGS], [zonal[k][a] for a in ref.AGGS]) for k in zonal
            ):
                print(f"MISMATCH {rdir}/county_daily", file=sys.stderr, flush=True)
                ok = False
        return ok and self.stream_ok

    # -- tracing ----------------------------------------------------------
    def traced_extras(self, spark) -> None:
        """Layer costs measured outside the runner: YAML parsing, the
        bulk decode on a noop sink, shapefile reads, and the forced-step
        pass that prices each operator as the noop-write time it adds
        on top of the step before it."""
        from shared_etl_pipelines_spark.operators.geo import clip_by_polygon, zonal_stats_polygons
        from shared_etl_pipelines_spark.operators.windows import rolling_metric, zscore
        from shared_etl_pipelines_spark.sources.raster import read_geotiff_long
        from shared_etl_pipelines_spark.sources.vector import read_shapefile

        _job_group(spark, "perfbench:forced-steps")
        t0 = time.perf_counter()
        for p in sorted(glob.glob(os.path.join(PIPELINES, "*.yml"))):
            PipelineSpec.from_yaml(p)
        parse_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        states = read_shapefile(self.state_shp, id_field="STUSPS")
        counties = read_shapefile(self.county_shp, id_field="GEOID")
        shp_s = time.perf_counter() - t0

        decoded = read_geotiff_long(spark, self.raster_dir)
        t_decode = _noop(decoded)
        pixels = decoded.count()
        clipped = clip_by_polygon(decoded, states, key="STUSPS", value="MI", x_col="x", y_col="y")
        t_clip = _noop(clipped)
        stage = os.path.join(self.work, "forced", "stage")
        t0 = time.perf_counter()
        clipped.write.mode("overwrite").parquet(stage)
        t_write = time.perf_counter() - t0
        staged = spark.read.parquet(stage)
        t_read = _noop(staged)
        rolled = staged
        for w in (3, 7):
            rolled = rolling_metric(rolled, ["y", "x"], "day", "value", window=w, out_col=f"sum_{w}")
        t_roll = _noop(rolled)
        t_z = _noop(zscore(rolled, ["y", "x"], "sum_3", out_col="spi_3"))
        t_zonal = _noop(zonal_stats_polygons(staged, counties, "value", aggregations=AGGS,
                                             value_prefix="ppt", x_col="x", y_col="y",
                                             extra_group_cols=["day"]))
        # the incremental path over the same inputs, day by day, for the
        # streaming layer's figures (the first, cold batch is left out)
        loop = AppendLoop(spark, self.grid, self.vals[: self.STREAM_DAYS], self.county_shp,
                          os.path.join(self.work, "forced", "stream"))
        try:
            lat = [loop.append() for _ in range(self.STREAM_DAYS)]
            if None in lat:
                raise RuntimeError("an append was not committed")
            self.stream_ok = loop.verify()
            loop.spans(self.tracer)
            stream = loop.metrics(1, lat[1:])
        finally:
            loop.stop()
        self.extras = {
            **stream,
            "plans.parse_s": (parse_s, "s"),
            "sources.decode_s": (t_decode, "s"),
            "sources.files": (float(len(os.listdir(self.raster_dir))), "count"),
            "sources.pixels": (float(pixels), "count"),
            "sources.shapefile_s": (shp_s, "s"),
            "operators.clip_s": (t_clip - t_decode, "s"),
            "operators.write_s": (t_write - t_clip, "s"),
            "operators.rolling_s": (t_roll - t_read, "s"),
            "operators.zscore_s": (t_z - t_roll, "s"),
            "operators.zonal_s": (t_zonal - t_read, "s"),
        }

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        plugin, self_s = [], []
        for (r0, r1), *spans in self.plugin_spans:
            covered = probe.union_length(spans)
            plugin.append(covered)
            self_s.append((r1 - r0) - covered)
        out = {
            "plans.plugin_s": (_median(plugin), "s"),
            "plans.self_s": (_median(self_s), "s"),
            "plans.steps_run": (float(self.STEPS), "count"),
        }
        out.update(self.extras)
        return out


# -------------------------------------------------------------- query_mix
class QueryMix(Workload):
    """A fixed, family-stratified list of registry queries, each built
    and collected in turn in one session, the way
    ``__spark_entry__.queries()`` walks them (a persistent-RDD sweep
    before each build). The tables are the registry corpus at sf0.01,
    kept as parquet under ``corpus/`` so that a run reads nothing
    outside its checkout. The seed only picks the overlaps planted in
    the copy the contamination query reads (``gen.plant_contamination``)."""

    CORPUS = os.path.join(HERE, "corpus", "sf0.01")
    PLANTED = ("benchmark_contamination",)  # read the copy with planted overlaps

    def import_program(self) -> None:
        global Q, sweep_persistent_rdds
        from shared_etl_pipelines_spark import queries as Q
        from shared_etl_pipelines_spark.engine import sweep_persistent_rdds

    def generate(self, inputs: str) -> None:
        planted = os.path.join(inputs, "planted")
        gen.plant_contamination(np.random.default_rng(self.seed), self.CORPUS, planted)
        self.tables = {n: planted if n in self.PLANTED else self.CORPUS for n in QUERY_MIX}

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.counters = probe.SparkCounters(spark)
        self.results: list[dict[str, object]] = []
        self.per_query: list[dict[str, dict]] = []
        self.family = {n: Q.REGISTRY[n].fn.__module__.rsplit("_", 1)[-1] for n in QUERY_MIX}
        unknown = {f for f in self.family.values() if f not in FAMILIES}
        if unknown:
            raise RuntimeError(f"query mix has queries outside the four families: {unknown}")

    def round(self, i: int) -> RoundResult:
        res = RoundResult(len(QUERY_MIX), 0)
        per: dict[str, dict] = {}
        outs: dict[str, object] = {}
        for name in QUERY_MIX:
            t0 = time.perf_counter()
            sweep_persistent_rdds(self.spark)
            t1 = time.perf_counter()
            _job_group(self.spark, f"queries:{name}")
            lo = self.counters.mark()
            try:
                df = Q.REGISTRY[name].fn(self.spark, self.tables[name])
                t2 = time.perf_counter()
                pdf = df.toPandas()
            except Exception:
                traceback.print_exc()
                res.failed += 1
                continue
            t3 = time.perf_counter()
            self.tracer.add(f"queries.build:{name}", t1, t2, parent=f"round:{i}")
            self.tracer.add(f"queries.exec:{name}", t2, t3, parent=f"round:{i}")
            per[name] = {"sweep": t1 - t0, "build": t2 - t1, "exec": t3 - t2,
                         "jobs": (lo, self.counters.mark())}
            outs[name] = pdf
        self.results.append(outs)
        self.per_query.append(per)
        return res

    def verify(self) -> bool:
        import duckdb

        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        from check_correctness import TABLES, compare

        cons = {}
        for d in set(self.tables.values()):
            cons[d] = duckdb.connect()
            for t in TABLES:
                cons[d].sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        ok = True
        for name in QUERY_MIX:
            want = cons[self.tables[name]].sql(Q.REGISTRY[name].sql).df()
            if len(want) == 0:
                # an empty oracle result would make the comparison unable to fail
                print(f"MISMATCH {name}: the oracle returns no rows on the corpus",
                      file=sys.stderr, flush=True)
                ok = False
            for i, outs in enumerate(self.results):
                if name not in outs:
                    continue  # failed to run; counted in `failed`
                good, msgs = compare(name, outs[name], want)
                if not good:
                    print(f"MISMATCH {name} (round {i}): {'; '.join(msgs)}", file=sys.stderr, flush=True)
                    ok = False
            print(f"checked {name}: {len(want)} rows", file=sys.stderr, flush=True)
        for con in cons.values():
            con.close()
        return ok

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        per_round = []
        for per in self.per_query:
            m: dict[str, float] = {}
            for name, q in per.items():
                fam = self.family[name]
                stats = self.counters.since(*q["jobs"])
                m[f"queries.{fam}.build_s"] = m.get(f"queries.{fam}.build_s", 0.0) + q["build"]
                m[f"queries.{fam}.exec_s"] = m.get(f"queries.{fam}.exec_s", 0.0) + q["exec"]
                m[f"queries.{fam}.jobs"] = m.get(f"queries.{fam}.jobs", 0.0) + stats["spark_jobs"]
                m["engine.sweep_s"] = m.get("engine.sweep_s", 0.0) + q["sweep"]
                if name in NAMED_QUERIES:
                    m[f"queries.{name}.wall_s"] = q["build"] + q["exec"]
                    m[f"queries.{name}.jobs"] = stats["spark_jobs"]
                    m[f"queries.{name}.shuffle_bytes"] = stats["shuffle_bytes"]
            per_round.append(m)
        units = dict(LAYER_METRICS, **{"engine.sweep_s": "s"})
        keys = {k for m in per_round for k in m}
        return {k: (_median(m.get(k, 0.0) for m in per_round), units[k]) for k in keys}


# ----------------------------------------------------------- daily_append
class AppendLoop:
    """One writer and the streaming query it feeds. ``append`` lands the
    next day's GeoTIFF in the drop directory (tmp file + atomic rename)
    and waits until that day's county statistics are committed: a closed
    loop. The query is geotiff_stream -> foreachBatch(zonal_stats_polygons
    -> TxnBatchSink), started once in the constructor."""

    TIMEOUT_S = 60.0

    def __init__(self, spark, grid: gen.Grid, vals: np.ndarray, county_shp: str, root: str):
        from shared_etl_pipelines_spark.operators.geo import zonal_stats_polygons
        from shared_etl_pipelines_spark.sources.raster_stream import GeoTiffStreamDataSource
        from shared_etl_pipelines_spark.sources.vector import read_shapefile
        from shared_etl_pipelines_spark.streaming.sinks import TxnBatchSink

        self.grid, self.vals = grid, vals
        polys = read_shapefile(county_shp, id_field="GEOID")
        self.drop = os.path.join(root, "drop")
        os.makedirs(self.drop)
        self.sink = TxnBatchSink(os.path.join(root, "county_daily"))
        self.sink_s: list[tuple[int, float]] = []
        self.next_day = 0

        def handle(batch_df, batch_id):
            _job_group(spark, "streaming:batch")
            stats = zonal_stats_polygons(batch_df, polys, "value", aggregations=AGGS,
                                         value_prefix="ppt", x_col="x", y_col="y",
                                         extra_group_cols=["day"])
            t0 = time.perf_counter()
            self.sink(stats, batch_id)
            self.sink_s.append((int(batch_id), time.perf_counter() - t0))

        spark.dataSource.register(GeoTiffStreamDataSource)
        self.query = (
            spark.readStream.format("geotiff_stream").option("path", self.drop).load()
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )

    def room(self) -> bool:
        return self.next_day < len(self.vals)

    def append(self) -> float | None:
        """Land the next day; seconds from its rename to its commit
        marker, or None if it was not committed within the timeout."""
        d = self.next_day
        self.next_day += 1
        name = gen.raster_name(START + dt.timedelta(days=d))
        tmp = os.path.join(self.drop, name + ".tmp")
        with open(tmp, "wb") as f:
            f.write(gen.encode_geotiff(self.vals[d]))
        before = len(self.sink.committed_batches())
        t0 = time.perf_counter()
        os.rename(tmp, os.path.join(self.drop, name))
        while time.perf_counter() - t0 < self.TIMEOUT_S:
            if len(self.sink.committed_batches()) > before:
                return time.perf_counter() - t0
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            time.sleep(0.001)
        return None

    def verify(self) -> bool:
        """Each committed batch holds one day and equals numpy's county
        statistics for it; every landed day is committed exactly once."""
        import pyarrow.parquet as pq

        keep = ~self.grid.lake
        ok = True
        seen: dict[int, int] = {}
        for b in self.sink.committed_batches():
            t = pq.read_table(os.path.join(self.sink.root, f"batch={b}")).to_pandas()
            days = set(t["day"])
            if len(days) != 1:
                print(f"MISMATCH batch {b}: {len(days)} days in one batch", file=sys.stderr, flush=True)
                ok = False
                continue
            d = (dt.date.fromisoformat(days.pop()) - START).days
            seen[d] = seen.get(d, 0) + 1
            want = ref.zonal_by_day(self.vals[d : d + 1], self.grid.label, keep, self.grid.geoids)
            got = {(str(r.zone_id), 0): [getattr(r, f"ppt_{a}") for a in ref.AGGS]
                   for r in t.itertuples(index=False)}
            if got.keys() != want.keys() or not all(
                ref.close(got[k], [want[k][a] for a in ref.AGGS]) for k in want
            ):
                print(f"MISMATCH batch {b} (day {d})", file=sys.stderr, flush=True)
                ok = False
        landed = set(range(self.next_day))
        if set(seen) != landed or any(n != 1 for n in seen.values()):
            dup = sorted(d for d, n in seen.items() if n != 1)
            print(f"MISMATCH delivery: {len(landed - set(seen))} days missing, "
                  f"duplicated {dup[:5]}", file=sys.stderr, flush=True)
            ok = False
        return ok

    def metrics(self, first_batch: int, latencies: list[float]) -> dict[str, tuple[float, str]]:
        """Streaming-layer figures over batches from ``first_batch`` on,
        from the query's per-trigger progress reports."""
        progs = [p for p in self.query.recentProgress if p.batchId >= first_batch]
        dur = [p.durationMs for p in progs]
        return {
            "streaming.batches": (float(len(progs)), "count"),
            "streaming.input_rows": (float(sum(p.numInputRows for p in progs)), "count"),
            "streaming.append_p50_s": (_median(latencies), "s"),
            "streaming.trigger_ms": (_median(d.get("triggerExecution", 0) for d in dur), "ms"),
            "streaming.latest_offset_ms": (_median(d.get("latestOffset", 0) for d in dur), "ms"),
            "streaming.add_batch_ms": (_median(d.get("addBatch", 0) for d in dur), "ms"),
            "streaming.wal_commit_ms": (_median(d.get("walCommit", 0) for d in dur), "ms"),
            "streaming.sink_write_s": (_median(s for b, s in self.sink_s if b >= first_batch), "s"),
        }

    def spans(self, tracer: probe.Tracer) -> None:
        """One span per trigger, from the query's progress reports, moved
        from wall-clock onto the perf_counter clock the other spans use."""
        shift = time.time() - time.perf_counter()
        for p in self.query.recentProgress:
            t = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() - shift
            tracer.add(f"streaming.trigger:{p.batchId}", t,
                       t + p.durationMs.get("triggerExecution", 0) / 1e3, parent="streaming")

    def stop(self) -> None:
        self.query.stop()


class DailyAppend(Workload):
    """The daily-append cadence: one round is one append through
    AppendLoop, timed from the rename to the commit marker. The streaming
    query is started during set-up, with one warm-up day."""

    H, W = 24, 32
    POOL = 1000  # days available to append; the loop stops when used up
    WARM_DAYS = 1

    def generate(self, inputs: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.grid = gen.make_grid(rng, self.H, self.W)
        self.vals = gen.daily_values(rng, self.grid, self.POOL)
        self.county_shp, _ = gen.write_shapes(self.grid, os.path.join(inputs, "shp"))

    def start(self, spark, tracer) -> None:
        self.tracer = tracer
        self.loop = AppendLoop(spark, self.grid, self.vals, self.county_shp,
                               os.path.join(self.work, "stream"))
        for _ in range(self.WARM_DAYS):
            if self.loop.append() is None:
                raise RuntimeError("warm-up append was not committed")
        self.first_timed_batch = len(self.loop.sink.committed_batches())
        self.latencies: list[float] = []

    def round(self, i: int) -> RoundResult:
        lat = self.loop.append()
        if lat is None:
            return RoundResult(1, 1)
        self.latencies.append(lat)
        return RoundResult(1, 0)

    def more(self) -> bool:
        return self.loop.room()

    def verify(self) -> bool:
        return self.loop.verify()

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        self.loop.spans(self.tracer)
        return self.loop.metrics(self.first_timed_batch, self.latencies)

    def close(self) -> None:
        loop = getattr(self, "loop", None)
        if loop is not None:
            loop.stop()


WORKLOADS = {"prism_chain": PrismChain, "query_mix": QueryMix, "daily_append": DailyAppend}
