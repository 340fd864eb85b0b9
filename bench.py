"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "queries_mean": {...}, "runs": 3, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver collect bottleneck). A warmup run of the flagship absorbs JVM/codegen
startup so numbers reflect steady-state execution.

Each query runs BENCH_RUNS (default 3) times; "queries"/"value" carry the
per-query MIN (the noise-robust steady-state number — cross-round
adjudication showed single contended runs swing +-2 s/query on this host),
"queries_mean" the mean. Set SPARK_GRAFT_BENCH_RUNS=1 for a quick pass.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_ingestion_poc_spark import registry
from data_ingestion_poc_spark.session import get_spark

HEADLINE = [
    "agg_hash_group",
    "agg_distinct",
    "agg_grouping_sets",
    "join_inner_hash",
    "join_broadcast",
    "join_sort_merge",
    "join_asof_time",
    "join_skew_salted",
    "join_bucketed_colocated",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "q_returned_items",
    "q_large_volume_customer",
    "q_market_share",
    "q_forecast_revenue",
    "q_product_profit",
    "q_sole_late_shippers",
    "win_topk_per_group",
    "win_running_sum",
    "limit_topk",
    "set_union_distinct",
    "filter_predicate",
    "fn_hash",
    "text_tokenize_tf",
    "text_stats",
    "dedup_exact_hash",
    "dedup_minhash",
    "sim_search_knn",
    "sim_search_ivf",
    "sql_cte_subquery",
    "udf_surface",
    "stream_tumbling_agg",
    "ingest_pipeline_e2e",
    "dedup_clusters",
    "embed_kmeans",
    "corpus_quality_filter",
    "text_bpe_pairs",
    "rollup_time_hierarchy",
    "join_asof_nearest",
    "agg_unpivot",
    "win_gapfill_locf",
    "text_tfidf",
    "corpus_decontaminate",
    "join_lateral_topk",
]

# Second tracked battery (r11, VERDICT r10 item 4): the widest operators
# registered since the r5-era HEADLINE set froze — invisible to the
# per-round trend until now. HEADLINE stays unchanged for cross-round
# comparability; this battery gets its own totals ("value2"/"queries2")
# so the heavy tail (curation e2e, pagerank, prefix-filter join,
# grouped OLS, star rollup) is regression-tracked from its r11 baseline.
HEADLINE2 = [
    "corpus_curate_e2e",
    "dedup_prefix_filter",
    "graph_pagerank",
    "q_full_star_rollup",
    "agg_logrank_test",
    # hubness: the IVF scale path — plain embed_hubness at sf0.1 sits
    # exactly at its HUBNESS_BRUTE_MAX boundary and runs the deliberate
    # ~24s brute-force audit, which would drown the battery's trend
    "embed_hubness_ivf",
    "win_rolling_regression",
    "agg_spearman_corr",
    # r13 (VERDICT r12 item 1): the top-3 slowest ops the two batteries
    # did not watch, promoted from the BENCH_ALL_r13 whole-engine
    # record (embed_hubness_exact is slower but stays out — it is the
    # DELIBERATELY quadratic audit path, the same reasoning that keeps
    # the brute hubness out of this battery). value2 jumps ~73 s by
    # construction at r13; per-query mins remain the comparable unit.
    "dedup_semantic_recall",
    "graph_kcore",
    "text_bpe_encode",
    # r14 (VERDICT r13 item 3): the NSW graph-ANN pair was registered
    # after the r13 --all sweep and sat in no battery — track it here
    # so its cost trend is watched. value2 grows by their wall (~10 s
    # at sf0.1, r14 global-cell rebuild) by construction at r14.
    "sim_search_nsw",
    "sim_search_nsw_recall",
]


def _warm_python_worker_pools(spark) -> None:
    """Spin up the Python worker pool for every UDF eval type once.

    Spark keeps one daemon/worker factory per eval path (scalar pandas,
    grouped map, mapInPandas, mapInArrow, cogrouped map, pickled UDF);
    each pool's first use forks + imports the Arrow stack across all 32
    workers, a multi-second one-off that belongs to session setup, not
    to whichever query happens to hit that eval path first. On a real
    cluster this is executor-image warm-up; the bench measures
    steady-state execution, so pay it here, outside the timed region.
    (daemon_preload.py already cuts the per-worker import via COW forks;
    this removes the residual fork/handshake latency from query timings.)
    """
    import pyspark.sql.functions as F  # noqa: N812, PLC0415
    from pyspark.sql.functions import PandasUDFType  # noqa: PLC0415

    _scalar = F.pandas_udf(lambda s: s, "double", PandasUDFType.SCALAR)

    df = spark.range(64, numPartitions=8).select(
        F.col("id"), F.col("id").cast("double").alias("v")
    )
    ident = lambda p: p  # noqa: E731
    df.select(_scalar("v")).write.format("noop").mode("overwrite").save()
    df.groupBy("id").applyInPandas(ident, df.schema).write.format("noop").mode(
        "overwrite"
    ).save()
    df.mapInPandas(ident, df.schema).write.format("noop").mode("overwrite").save()
    df.mapInArrow(ident, df.schema).write.format("noop").mode("overwrite").save()
    df.groupBy("id").cogroup(df.groupBy("id")).applyInPandas(
        lambda a, b: a, df.schema
    ).write.format("noop").mode("overwrite").save()
    df.select(
        F.udf(lambda x: x, "long")(F.col("id")).alias("id")
    ).write.format("noop").mode("overwrite").save()


def _master_cpus(master: str) -> int | None:
    """Cores a ``local[N]`` / ``local[*]`` master runs on; None otherwise."""
    m = re.fullmatch(r"local\[(\d+|\*)(?:,\d+)?\]", master)
    if m is None:
        return None
    return os.cpu_count() if m[1] == "*" else int(m[1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dip-bench")
    qs = registry.all_queries()

    def run(name: str) -> float:
        t0 = time.time()
        df = qs[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # --all: time EVERY registered batch query instead of the headline set
    # (driver uses the default; --all is the exhaustive perf record).
    # stream_* queries are excluded, matching tests/test_registry.py's
    # SKIP_PREFIXES: constructing them executes a full streaming job with
    # fixture side effects, which would mix workload classes in the record.
    if "--all" in sys.argv:
        names = [n for n in qs if not n.startswith("stream_")]
        names2: list[str] = []
    else:
        names = HEADLINE
        names2 = [n for n in HEADLINE2 if n in qs]
    run("agg_hash_group")  # warmup: JVM + codegen + parquet footer cache
    _warm_python_worker_pools(spark)
    # one-time table builds run OUTSIDE the timed region: the bucketed
    # write is amortized ingest-time cost, so the bench records the
    # steady-state join (~0.3s), not setup (~2.9s at sf0.1)
    from data_ingestion_poc_spark.operators.scale import prepare_bucketed

    if "join_bucketed_colocated" in names:
        prepare_bucketed(spark, sf_dir)
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    times: dict[str, float] = {}
    means: dict[str, float] = {}
    # run the whole set n_runs times in PASSES (not back-to-back per
    # query) so a transient host stall hits one pass, not every sample
    # of one query
    samples: dict[str, list[float]] = {n: [] for n in names if n in qs}
    samples2: dict[str, list[float]] = {n: [] for n in names2}
    for _ in range(n_runs):
        for name in samples:
            samples[name].append(run(name))
        for name in samples2:
            samples2[name].append(run(name))
    for name, ts in samples.items():
        times[name] = round(min(ts), 3)
        means[name] = round(sum(ts) / len(ts), 3)
    times2 = {n: round(min(ts), 3) for n, ts in samples2.items()}
    means2 = {n: round(sum(ts) / len(ts), 3) for n, ts in samples2.items()}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline query wall-clock, noop sink, min of "
        f"{n_runs}",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_mean": means,
        "runs": n_runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # what the session actually got, so a record shows whether
        # SPARK_GRAFT_CPUS was honoured
        "cpus": _master_cpus(spark.sparkContext.master),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    if times2:
        # second battery (r11+): heavy post-r5 operators, own totals so
        # the primary "value" stays comparable across all rounds
        out["value2"] = round(sum(times2.values()), 3)
        out["queries2"] = times2
        out["queries2_mean"] = means2
    print(json.dumps(out))


if __name__ == "__main__":
    main()
