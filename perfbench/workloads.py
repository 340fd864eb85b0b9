"""The benchmark's workloads. Each one makes its inputs from the seed,
names the operations of one pass, runs one operation, and checks outputs.

An operation is timed by the caller around ``run``; ``verify`` then checks
what ``run`` returned, outside the timed region. ``check`` returns the
run's output-check results after the timed passes: ``relational`` compares
the first pass's collected results with their oracles, ``ingest_files``
reads back what the last pass wrote.
"""

from __future__ import annotations

import os
import random
import shutil

from . import ingest_gen

#: The repository's documented test tables at scale factor 0.001 (TPC-H-ish
#: star schema plus events, documents and embeddings; seed 42, described in
#: TESTDATA.md), copied here so the benchmark reads only its own files.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.001")

RELATIONAL_QUERIES = (
    "agg_hash_group",
    "agg_distinct",
    "agg_grouping_sets",
    "join_inner_hash",
    "join_broadcast",
    "join_sort_merge",
    "q_shipping_priority",
    "q_market_share",
    "q_product_profit",
    "q_returned_items",
    "q_sole_late_shippers",
    "win_topk_per_group",
    "win_running_sum",
    "sql_cte_subquery",
    "join_lateral_topk",
)


def _force_plan(df) -> None:
    """Make Catalyst analyse, optimise and physically plan ``df``."""
    df._jdf.queryExecution().executedPlan()


class Relational:
    """Headline SQL/DataFrame queries over the sf0.001 test tables.

    Execution is short, so driver-side build (one schema-inference job per
    ``catalog.table`` read) and planning are a large share of each query.
    No Python UDFs run. The seed fixes the order of the queries in a pass.
    """

    name = "relational"
    warmup_query = "agg_hash_group"
    uses_python_workers = False
    #: steady passes every run makes, and the end-to-end figures rest on:
    #: three samples of each query for its minimum
    min_steady_passes = 3
    sf_dir = TABLES_DIR

    def __init__(self, work: str, seed: int):
        self.order = list(RELATIONAL_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.queries = None
        self._oracle = None
        self._checks: list[tuple[str, str | None]] = []

    def generate(self) -> dict:
        return {"tables": os.path.basename(self.sf_dir), "order": self.order}

    def load_program(self) -> None:
        from data_ingestion_poc_spark import registry

        self.queries = registry.all_queries()

    def warmup(self, spark) -> None:
        self.queries[self.warmup_query].fn(spark, self.sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()

    def ops(self) -> list[str]:
        return self.order

    def run(self, spark, tracer, op: str, pass_idx: int):
        """Build, plan (traced passes only) and execute one query. The first
        pass collects each result for the output check; later passes run
        it into the noop sink."""
        with tracer.span("build"), tracer.phase("build"):
            df = self.queries[op].fn(spark, self.sf_dir)
        if tracer.active:
            with tracer.span("plan"), tracer.phase("plan"):
                _force_plan(df)
        with tracer.span("exec"), tracer.phase("exec"):
            if pass_idx == 0:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def verify(self, op: str, out, tracer) -> None:
        if out is not None:
            self._checks.append((op, self._compare(op, out)))

    def _compare(self, op: str, sp) -> str | None:
        """``op``'s collected result against its DuckDB oracle, compared
        the way ``tools/check_oracle.py`` compares them."""
        import duckdb

        from tools.check_oracle import canonicalize, dtype_mismatches

        if self._oracle is None:
            self._oracle = duckdb.connect()
            for name in sorted(os.listdir(self.sf_dir)):
                table = name.removesuffix(".parquet")
                path = os.path.join(self.sf_dir, name)
                self._oracle.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
                )
        try:
            du = self._oracle.execute(self.queries[op].oracle).df()
            hard, _ = dtype_mismatches(sp, du)
            a, b = canonicalize(sp), canonicalize(du)
        except Exception as e:  # noqa: BLE001 - a failing oracle is a result
            return f"{type(e).__name__}: {e}"
        if hard:
            return f"dtype mismatch: {'; '.join(hard)}"
        if sorted(a.columns) != sorted(b.columns):
            return f"columns differ: {list(a.columns)} vs {list(b.columns)}"
        if len(a) != len(b):
            return f"row counts differ: spark={len(a)} duckdb={len(b)}"
        if not a.equals(b):
            return f"{int((a != b).any(axis=1).sum())} rows differ"
        return None

    def end_pass(self, pass_idx: int) -> None:
        pass

    def check(self, spark) -> list[tuple[str, str | None]]:
        """The oracle comparisons made on the first pass's results."""
        if self._oracle is not None:
            self._oracle.close()
        return self._checks


class IngestFiles:
    """The reference system's own traffic: one delivery (a manifest of
    files and zip archives) through fetch, verify, zip explode, dedup
    against the sink's existing objects, and both sinks.

    A pass ingests the whole delivery into a fresh sink, so every pass does
    the same work. Its operations are the delivery's three actions, in
    order: ``write_sink`` (which also builds the delivery's frames),
    ``write_blob_sink`` and ``quarantine``.
    """

    name = "ingest_files"
    uses_python_workers = True
    #: steady passes every run makes, and the end-to-end figures rest on:
    #: a pass takes about 11 s on 4 cores, so two fill the window
    min_steady_passes = 2
    #: delivery size: plain files, and zip archives of 12 members each
    n_plain, n_zip = 150, 3

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.tree: ingest_gen.Tree | None = None
        self.fetcher = None
        self._frames_of_pass = None
        self._last_pass = 0

    def generate(self) -> dict:
        self.tree = ingest_gen.generate(
            os.path.join(self.work, "tree"), self.seed, n_plain=self.n_plain,
            n_zip=self.n_zip,
        )
        return {
            "files": len(self.tree.manifest),
            "bytes": self.tree.fetched_bytes,
            "records": len(self.tree.records),
        }

    def load_program(self) -> None:
        from data_ingestion_poc_spark.ingest import pipeline  # noqa: F401

        self.fetcher = self.tree.fetcher()

    def warmup(self, spark) -> None:
        pass  # the worker-pool warm-up runs the pipeline's mapInPandas path

    def ops(self) -> list[str]:
        return ["write_sink", "write_blob_sink", "quarantine"]

    def _frames(self, spark, tracer):
        """The lazy frames of one delivery: final records (run_pipeline,
        then dedup_against_sink), its quarantine, and the content-bearing
        frame the blob sink uploads (the same stages, deduped likewise)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from data_ingestion_poc_spark.ingest import pipeline as P

        manifest, fetcher = self.tree.manifest, self.fetcher
        state = spark.createDataFrame(self.tree.sink_state, P.SINK_STATE_SCHEMA)
        with tracer.span("ingest.run_pipeline"):
            records, quarantine = P.run_pipeline(spark, manifest, fetcher=fetcher)
        obs = None
        if tracer.active:
            obs = Observation()
            records = records.observe(obs, F.count(F.lit(1)).alias("n"))
        with tracer.span("ingest.dedup_against_sink"):
            records = P.dedup_against_sink(records, state)
            ok, _ = P.split_verified(P.fetch(spark, manifest, fetcher=fetcher))
            derived = P.derive_columns(
                ok.mapInPandas(P.explode_archives, schema=P.EXPLODED_SCHEMA)
            )
            content = P.dedup_against_sink(derived, state)
        return records, quarantine, content, obs

    def run(self, spark, tracer, op: str, pass_idx: int):
        from data_ingestion_poc_spark.ingest import pipeline as P

        base = os.path.join(self.work, "sink", f"pass{pass_idx}")
        if op == "write_sink":
            self._frames_of_pass = None  # a failed build fails the pass's other ops
            with tracer.span("build"), tracer.phase("build"):
                self._frames_of_pass = self._frames(spark, tracer)
            records, _, _, obs = self._frames_of_pass
            if tracer.active:
                with tracer.span("plan"), tracer.phase("plan"):
                    _force_plan(records)
            with tracer.span("exec"), tracer.phase("exec"):
                with tracer.span("ingest.write_sink"):
                    return P.write_sink(records, os.path.join(base, "table")).collect(), obs
        _, quarantine, content, _ = self._frames_of_pass
        with tracer.span("exec"), tracer.phase("exec"):
            if op == "write_blob_sink":
                with tracer.span("ingest.write_blob_sink"):
                    return P.write_blob_sink(content, os.path.join(base, "blob")).collect()
            with tracer.span("ingest.quarantine"):
                return quarantine.count()

    def verify(self, op: str, out, tracer) -> None:
        tree = self.tree
        if op == "write_sink":
            audit, obs = out
            got = {(r.server_folder, r.file_type): (r.n_files, r.total_bytes) for r in audit}
            if tracer.active:
                tracer.counts["ingest.dedup_skipped"] += obs.get["n"] - sum(
                    n for n, _ in got.values()
                )
            if got != tree.audit():
                raise AssertionError(f"sink audit {got} != {tree.audit()}")
        elif op == "write_blob_sink":
            written = {(r.server_folder, r.file_type, r.file_name, r.length,
                        r.modified_time) for r in out}
            if tracer.active:
                tracer.counts["ingest.records_out"] += len(out)
            if written != {r[:5] for r in tree.records} or not all(r.props_match for r in out):
                raise AssertionError("blob sink wrote the wrong objects")
        else:
            if tracer.active:
                tracer.counts["ingest.quarantined"] += out
            if out != tree.quarantined:
                raise AssertionError(f"quarantined {out} != {tree.quarantined}")

    def end_pass(self, pass_idx: int) -> None:
        """Drop the previous pass's sinks; check() reads the last one."""
        shutil.rmtree(os.path.join(self.work, "sink", f"pass{pass_idx - 1}"),
                      ignore_errors=True)
        self._last_pass = pass_idx

    def check(self, spark) -> list[tuple[str, str | None]]:
        """Every record the last pass wrote to the table sink, value for
        value (sha256 included), read back from its parquet files. Audits,
        blob objects and quarantine counts are checked after every pass."""
        import pyarrow.dataset as ds

        path = os.path.join(self.work, "sink", f"pass{self._last_pass}", "table")
        cols = ["server_folder", "file_type", "file_name", "length",
                "modified_time", "from_archive", "sha256"]
        try:
            table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
                columns=cols
            )
            got = sorted(zip(*(table.column(c).to_pylist() for c in cols)))
            err = None if got == sorted(self.tree.records) else (
                f"{len(set(got) ^ set(self.tree.records))} records differ"
            )
        except Exception as e:  # noqa: BLE001 - a failing check is a result
            err = f"{type(e).__name__}: {e}"
        return [("sink_records", err)]


WORKLOADS = {w.name: w for w in (Relational, IngestFiles)}
