#!/usr/bin/env python3
"""sparketl benchmark: one workload, one run, one seed.

    python3 perfbench/run.py --workload prism_chain --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (emptied at the start of every run), the
timed section repeats whole rounds of the workload until ``--seconds``
have passed, the program's outputs are checked against computations
made apart from it, and the last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and prints the per-layer metrics instead, and
writes its spans to ``.perfbench_traces/``. See perfbench/README.md.
"""


import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import probe
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _prepare_environment() -> int:
    """Pin everything the run writes under the checkout and fix the
    process-wide settings before pyspark (and so the JVM) is started."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    ncpu = len(os.sched_getaffinity(0))
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_SCRATCH=os.path.join(WORK, "scratch"),
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(path),
    )
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]
    return ncpu


def _session_conf() -> dict[str, str]:
    tmp = os.environ["TMPDIR"]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def warmup(spark) -> None:
    """The fixed warm-up: one Arrow pandas UDF, one shuffle with an exact
    percentile, one parquet round trip. It starts the Python workers and
    loads the JVM classes every workload needs, whatever the seed."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def twice(v: pd.Series) -> pd.Series:
        return v * 2.0

    df = spark.range(0, 20000, numPartitions=4).withColumn("v", twice(F.col("id").cast("double")))
    path = os.path.join(WORK, "warmup")
    df.groupBy((F.col("id") % 7).alias("k")).agg(
        F.sum("v").alias("s"), F.percentile("v", 0.5).alias("p")
    ).write.mode("overwrite").parquet(path)
    if spark.read.parquet(path).count() != 7:
        raise RuntimeError("warm-up produced a wrong result")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            gateway.shutdown()
        finally:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def run(args: argparse.Namespace) -> tuple[dict, int]:
    ncpu = _prepare_environment()
    t0 = time.perf_counter()
    from shared_etl_pipelines_spark import engine

    wl = workloads.WORKLOADS[args.workload](args.seed, WORK, ncpu)
    wl.import_program()
    import_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = engine.get_spark("perfbench", extra_conf=_session_conf())
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        warmup(spark)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.generate(os.path.join(WORK, "in"))
        inputs_s = time.perf_counter() - t0
        tracer = probe.Tracer(run_id=f"{args.workload}-{args.seed}", on=bool(args.trace))
        t0 = time.perf_counter()
        wl.start(spark, tracer)
        start_s = time.perf_counter() - t0
        setup_s = import_s + session_s + warmup_s + inputs_s + start_s
        print(f"set-up: import {import_s:.2f} s, session {session_s:.2f} s, warm-up "
              f"{warmup_s:.2f} s, inputs {inputs_s:.2f} s, start {start_s:.2f} s",
              file=sys.stderr, flush=True)

        counters = probe.SparkCounters(spark)
        mem = probe.MemoryPeak()
        rounds = []
        marks = [counters.mark()]
        begin = time.perf_counter()
        while True:
            sampler0, cpu0 = mem.cpu_s(), probe.cpu_by_kind()
            r0, w0 = time.perf_counter(), time.time()
            res = wl.round(len(rounds))
            r1, w1 = time.perf_counter(), time.time()
            tracer.add(f"round:{len(rounds)}", r0, r1)
            cpu1, sampler1 = probe.cpu_by_kind(), mem.cpu_s()
            cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
            cpu["python"] -= sampler1 - sampler0  # the memory sampling is not the program's
            rounds.append({"res": res, "wall": r1 - r0, "epoch": (w0, w1), "cpu": cpu})
            marks.append(counters.mark())
            print(f"round {len(rounds) - 1}: {r1 - r0:.3f} s (memory sampling "
                  f"{sampler1 - sampler0:.3f} CPU-s)", file=sys.stderr, flush=True)
            if r1 - begin >= args.seconds or not wl.more():
                break
        mem.close()
        peak = mem.peak
        print(f"memory: JVM high-water {peak['jvm']:.0f} MB, workers' peak PSS "
              f"{peak['pyworker']:.0f} MB", file=sys.stderr, flush=True)
        for i, rd in enumerate(rounds):
            rd["spark"] = counters.since(marks[i], marks[i + 1])
        if args.trace:
            wl.traced_extras(spark)
        t0 = time.perf_counter()
        correct = wl.verify()
        print(f"checks: {time.perf_counter() - t0:.2f} s", file=sys.stderr, flush=True)
        if args.trace:
            metrics = per_layer(wl, rounds, peak, session_s, warmup_s)
    finally:
        wl.close()
        _stop(spark)

    attempted = sum(rd["res"].attempted for rd in rounds)
    failed = sum(rd["res"].failed for rd in rounds)
    if args.trace:
        os.makedirs(TRACES, exist_ok=True)
        with open(os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"wall_s": _median([rd["wall"] for rd in rounds]),
                       "spans": [s.__dict__ for s in tracer.spans], "metrics": metrics}, f)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (_median([rd["wall"] for rd in rounds]), "s"),
            "cpu_s": (_median([sum(rd["cpu"].values()) for rd in rounds]), "s"),
            "peak_rss_mb": (peak["total"], "MB"),
            "spark_jobs": (_median([rd["spark"]["spark_jobs"] for rd in rounds]), "count"),
            "shuffle_bytes": (_median([rd["spark"]["shuffle_bytes"] for rd in rounds]), "bytes"),
        }
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return out, 0 if correct else 1


def per_layer(wl, rounds, peak, session_s, warmup_s) -> dict[str, tuple[float, str]]:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0. Per-round figures are medians over the run's rounds."""
    def med(key: str) -> float:
        return _median([rd["spark"][key] for rd in rounds])

    outside = []
    for rd in rounds:
        w0, w1 = rd["epoch"]
        clipped = [(max(s, w0), min(e, w1)) for s, e in rd["spark"]["_intervals"] if e > w0 and s < w1]
        outside.append(rd["wall"] - probe.union_length(clipped))
    m: dict[str, tuple[float, str]] = {
        "engine.session_s": (session_s, "s"),
        "engine.warmup_s": (warmup_s, "s"),
        "engine.sweep_s": (0.0, "s"),
        "spark.stages": (med("spark.stages"), "count"),
        "spark.tasks": (med("spark.tasks"), "count"),
        "spark.executor_run_s": (med("spark.executor_run_s"), "s"),
        "spark.executor_cpu_s": (med("spark.executor_cpu_s"), "s"),
        "spark.gc_s": (med("spark.gc_s"), "s"),
        "spark.shuffle_read_bytes": (med("spark.shuffle_read_bytes"), "bytes"),
        "spark.spill_bytes": (med("spark.spill_bytes"), "bytes"),
        "spark.input_bytes": (med("spark.input_bytes"), "bytes"),
        "spark.output_bytes": (med("spark.output_bytes"), "bytes"),
        "spark.outside_jobs_s": (_median(outside), "s"),
        "process.python_cpu_s": (_median([rd["cpu"]["python"] for rd in rounds]), "s"),
        "process.jvm_cpu_s": (_median([rd["cpu"]["jvm"] for rd in rounds]), "s"),
        "process.pyworker_cpu_s": (_median([rd["cpu"]["pyworker"] for rd in rounds]), "s"),
        "process.jvm_rss_mb": (peak["jvm"], "MB"),
        "process.pyworker_rss_mb": (peak["pyworker"], "MB"),
    }
    for name, unit in workloads.LAYER_METRICS:
        m[name] = (0.0, unit)
    m.update(wl.layer_metrics())
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # hash order must not vary between runs: re-exec with it pinned
        env = dict(os.environ, PYTHONHASHSEED="0")
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)
    try:
        out, code = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
