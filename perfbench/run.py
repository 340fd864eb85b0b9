"""The engine's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 32 --trace 0

One driver process and one closed-loop client: operations run back to back
on ``local[<cpus>]``, pass after pass over the workload: the first pass,
then steady passes for ``--seconds`` (a pass starts only if it is expected
to end in time). Every output is checked (see each workload's ``check``),
and the run prints two JSON lines: a ``detail`` record (inputs,
environment, every metric, check results, tracing overhead) and, last, the
result record ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the result's metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, and spans go to
``perfbench/.traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The result's metrics with --trace 0, in BENCHMARK.json order.
UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s_per_pass": "s"}
END_TO_END = tuple(UNITS)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("relational", "ingest_files"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str, tables_dir: str) -> int:
    """Keep every file the run writes inside ``work``; return the cpu count.

    Must run before the engine is imported: its ingest fixtures resolve the
    temp directory at import time.
    """
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        DIP_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        # golden-VALUES oracles read their fixtures from here at import
        SPARK_GRAFT_ORACLE_SF_DIR=tables_dir,
        # every JVM, the spark-submit launcher included: temp files in the
        # work directory, and no /tmp/hsperfdata_<user> perf-data file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    return cpus


def warm_python_worker_pools(spark, cpus: int) -> None:
    """Start the Python worker pools of the two eval paths the ingest
    pipeline uses (mapInPandas, and plain RDD functions for the blob
    upload) on every core, so no operation pays the worker daemon's start
    and preload."""
    df = spark.range(64, numPartitions=cpus)
    df.mapInPandas(lambda it: it, df.schema).write.format("noop").mode("overwrite").save()
    df.rdd.foreachPartition(lambda rows: None)


def _stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        sys.path.insert(0, ROOT)
        from perfbench import probes
        from perfbench.workloads import TABLES_DIR, WORKLOADS

        cpus = _isolate(work, TABLES_DIR)
        wl = WORKLOADS[args.workload](work, args.seed)
        t = time.perf_counter()
        inputs = wl.generate()
        gen_s = time.perf_counter() - t
        tracer = probes.Tracer(None, enabled=bool(args.trace))

        # one cold set-up: engine import, JVM launch, session, warm-up query
        # and Python worker pools. Where the engine is absent, the run fails
        # here, before any output.
        t_setup = time.perf_counter()
        import pyspark
        import pyarrow

        from data_ingestion_poc_spark.session import get_spark

        wl.load_program()
        import_s = time.perf_counter() - t_setup
        with tracer.span("session.start") as s_start:
            spark = get_spark(app_name="perfbench")
        sc = spark.sparkContext
        tracer.set_context(sc)
        with tracer.span("session.warmup") as s_warm:
            wl.warmup(spark)
        with tracer.span("session.pool_warm") as s_pool:
            if wl.uses_python_workers:
                warm_python_worker_pools(spark, cpus)
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            from data_ingestion_poc_spark import catalog

            # catalog.load and register_views look ``table`` up in the
            # catalog module at call time, so rebinding it catches every read
            tracer.wrap(catalog, "table", "catalog.table", "catalog")

        passes = []  # {"wall", "cpu", "ops": [(op, seconds, ok)], "traced"}
        failures = []
        n_traced = 0
        t_window = deadline = None
        # the first pass, then steady passes for --seconds, at least
        # min_steady_passes of them (traced runs trace every second pass
        # after the first). A further steady pass starts only if, as long
        # as the last pass, it would end in time.
        min_passes = 1 + wl.min_steady_passes
        while (len(passes) < min_passes
               or time.perf_counter() + passes[-1]["wall"] <= deadline):
            p = len(passes)
            tracer.active = bool(args.trace) and p % 2 == 1
            n_traced += tracer.active
            ops, cpu = [], 0.0  # cpu: of the operations, not of their checks
            for op in wl.ops():
                op_id = f"p{p}.{op}"
                tracer.begin_op(op_id)
                cpu0, t, dt = probes.tree_cpu_s(), time.perf_counter(), None
                try:
                    with tracer.span(op):
                        out = wl.run(spark, tracer, op, p)
                    dt = time.perf_counter() - t
                    cpu += probes.tree_cpu_s() - cpu0
                    tracer.harvest()
                    wl.verify(op, out, tracer)
                    ops.append((op, dt, True))
                except Exception as e:  # noqa: BLE001 - count it, keep the loop going
                    if dt is None:
                        dt = time.perf_counter() - t
                        cpu += probes.tree_cpu_s() - cpu0
                    ops.append((op, dt, False))
                    failures.append(f"{op_id}: {type(e).__name__}: {e}"[:500])
                tracer.end_op()
            passes.append({"wall": sum(dt for _, dt, _ in ops), "cpu": cpu,
                           "ops": ops, "traced": tracer.active})
            wl.end_pass(p)
            if deadline is None:
                t_window = time.perf_counter()
                deadline = t_window + args.seconds
        window_s = time.perf_counter() - t_window
        tracer.active = False

        t = time.perf_counter()
        checks = wl.check(spark)
        check_s = time.perf_counter() - t
        failures += [f"check {name}: {err}"[:500] for name, err in checks if err]

        jvm = getattr(sc._gateway, "proc", None)
        rss = probes.peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
        env = {
            "cpus": cpus,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "seed": args.seed,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
        }
        _stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    # -- end-to-end metrics: untraced passes only; the first pass is its own
    plain = [p for p in passes if not p["traced"]] or passes
    steady = [p for p in passes[1:] if not p["traced"]] or passes[1:]
    lat = [dt for p in steady for _, dt, ok in p["ops"] if ok] or [float("nan")]
    per_op: dict[str, list[float]] = {}
    for p in steady:
        for op, dt, ok in p["ops"]:
            if ok:
                per_op.setdefault(op, []).append(dt)
    attempted = sum(len(p["ops"]) for p in passes) + len(checks)
    failed = sum(1 for p in passes for *_, ok in p["ops"] if not ok) + sum(
        1 for _, err in checks if err
    )
    # The end-to-end figures rest on the first min_steady_passes steady
    # passes, which every run makes: the same number of samples at the same
    # point in the JVM's life, however fast the host ran. Other tenants on a
    # shared host only ever add time, in stretches of several seconds that
    # slow every operation they overlap, so pass_s takes each operation's
    # fastest of those samples; summing over operations lets each one come
    # from a different stretch. Later passes feed ``detail`` only.
    measured = steady[: wl.min_steady_passes]
    fastest: dict[str, float] = {}
    for p in measured:
        for op, dt, ok in p["ops"]:
            if ok:
                fastest[op] = min(dt, fastest.get(op, dt))
    e2e = {
        "setup_s": setup_s,
        "pass_s": sum(fastest.values()),
        "cpu_s_per_pass": statistics.mean(p["cpu"] for p in measured),
    }
    detail = {
        "workload": args.workload,
        "inputs": inputs,
        "env": env,
        "window_s": window_s,
        "passes": len(passes),
        "ops_per_pass": len(wl.ops()),
        "op_samples": len(lat),
        "gen_s": gen_s,
        "setup_phases_s": {"import": import_s, "start": s_start.seconds,
                           "warmup": s_warm.seconds, "pool_warm": s_pool.seconds},
        "check_s": check_s,
        "failed_frac": failed / attempted,
        "failures": failures[:20],
        # measured, but too unsteady on a shared host to gate on
        "metrics": dict(
            e2e,
            # median over operations of each one's median: the middle
            # operation, with its own pass-to-pass noise averaged out
            op_p50_s=statistics.median(
                [statistics.median(v) for v in per_op.values()] or [float("nan")]
            ),
            median_pass_s=statistics.median(p["wall"] for p in steady),
            first_pass_s=passes[0]["wall"],
            peak_rss_mb=rss,
        ),
        "untraced_pass_walls": [p["wall"] for p in plain],
        "untraced_pass_cpu_s": [p["cpu"] for p in plain],
        "steady_op_latencies_s": per_op,
    }
    # p90 only where at least ten samples lie beyond it
    if len(lat) >= 100:
        detail["metrics"]["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    if args.workload == "ingest_files":
        detail["metrics"]["ingest_files_per_s"] = inputs["files"] / e2e["pass_s"]
        detail["metrics"]["ingest_mb_per_s"] = inputs["bytes"] / 2**20 / e2e["pass_s"]

    if args.trace:
        layers = _layer_metrics(tracer, n_traced)
        layers["session.start_s"] = s_start.seconds
        layers["session.pool_warm_s"] = s_pool.seconds
        detail["layers"] = layers
        detail["trace_overhead"] = _overhead(passes)
        trace_dir = os.path.join(HERE, ".traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "counts": dict(tracer.counts)}, f)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in _per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}

    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _layer_metrics(tracer, n_traced) -> dict[str, float]:
    """Per-layer figures per traced pass (counts and times summed over the
    traced passes, divided by their number); cache.* are maxima after any
    operation."""
    c = tracer.counts
    n = max(1, n_traced)
    per = {}
    for key in ("catalog.table.calls", "catalog.table.s", "catalog.jobs",
                "build.s", "build.jobs", "build.tasks", "plan.s", "plan.jobs",
                "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
                "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                "exec.spill_bytes", "exec.input_bytes", "exec.executor_run_ms",
                "exec.executor_cpu_ms", "exec.gc_ms",
                "ingest.run_pipeline.s", "ingest.dedup_against_sink.s",
                "ingest.write_sink.s", "ingest.write_blob_sink.s",
                "ingest.quarantine.s", "ingest.records_out",
                "ingest.quarantined", "ingest.dedup_skipped"):
        per[key] = c.get(key, 0.0) / n
    per["catalog.table.jobs"] = per.pop("catalog.jobs")
    per["cache.rdds_left"] = c.get("cache.rdds_left", 0.0)
    per["cache.bytes_left"] = c.get("cache.bytes_left", 0.0)
    return per


def _overhead(passes) -> dict:
    """Tracing overhead: per operation, the median traced latency over the
    median untraced latency in the steady passes, then the median ratio."""
    traced, plain = {}, {}
    for p in passes[1:]:
        for op, dt, ok in p["ops"]:
            if ok:
                (traced if p["traced"] else plain).setdefault(op, []).append(dt)
    ratios = [statistics.median(traced[op]) / statistics.median(plain[op])
              for op in traced if op in plain]
    return {
        "median_ratio": statistics.median(ratios) if ratios else None,
        "ops_compared": len(ratios),
    }


if __name__ == "__main__":
    sys.exit(main())
