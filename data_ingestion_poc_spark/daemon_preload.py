"""Python-worker daemon with the Arrow/pandas stack preloaded pre-fork.

Drop-in replacement for ``pyspark.daemon`` (wired via the public
``spark.python.daemon.module`` conf in session.builder): the daemon
process imports pandas / pyarrow / numpy and the pandas-serializer
machinery ONCE, then every forked worker inherits the already-loaded
modules through copy-on-write pages instead of re-importing them.

Why this matters: ``pyspark/worker.py`` imports pandas/pyarrow lazily
inside each UDF eval path, so by default EVERY worker process pays the
full import (~1s user + ~2.5s sys of page-cache faulting on
virtualised kernels). With 32 workers that is ~2 CPU-minutes of pure
import work racing the actual query the first time each pool spins up.
Preloading moves that cost to one process, once per executor — on a
1000-executor cluster this is the difference between a warm first
stage and a thundering herd of 32 000 cold CPython imports.

Cluster use: ship the package via ``--py-files`` (or a cluster image)
and set ``spark.python.daemon.module=data_ingestion_poc_spark.daemon_preload``;
a module that cannot be imported (e.g. a heavy lib that is absent) is skipped
and named on stderr, and the daemon serves workers as the stock one would.
"""

from __future__ import annotations

import importlib
import sys

#: Exposed as a constant so tests can verify every name actually
#: imports. A module that fails to import is skipped on its own: the
#: preload daemon still runs and still preloads every other module, but
#: forked workers pay that one module's import again. Failures are
#: recorded in PRELOAD_FAILED and reported on stderr, so a typo'd or
#: bit-rotted name does not quietly bring the per-fork import tax back.
PRELOAD_MODULES = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.parquet",
    # worker-side serializer paths touched by every Arrow UDF eval type
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "pyspark.worker",
    # r15: engine modules whose module-level kernel helpers ship BY
    # REFERENCE in UDF closures (cloudpickle pickles a module-global
    # function of an importable module as (module, qualname), not by
    # value — e.g. _topk_ids_tiled inside the hubness/NSW cell
    # kernels). Without preloading, EVERY forked worker re-imports
    # ~0.8 s of engine+pyspark.sql modules on its first such task —
    # measured 4x on embed_hubness_ivf's cell stage (314 ms -> 1.3 s
    # of "time to run Python workers"). Importing similarity pulls
    # dedup and catalog transitively; all are import-side-effect-free
    # beyond oracle-string construction.
    "data_ingestion_poc_spark.llm.similarity",
    "data_ingestion_poc_spark.llm.evaluation",
    "data_ingestion_poc_spark.functions.udfs",
    # ...and every other module that defines worker-side kernels or
    # module-level functions passed to mapIn*/applyInPandas (e.g.
    # ingest.pipeline.explode_archives ships by reference). Incremental
    # cost over the imports above, measured: multimodal 0.78 s (its own
    # codec stack), spans 0.12 s, the rest <15 ms — all one-time per
    # executor, COW-shared across forks.
    "data_ingestion_poc_spark.llm.multimodal",
    "data_ingestion_poc_spark.llm.spans",
    "data_ingestion_poc_spark.llm.textstats",
    "data_ingestion_poc_spark.ingest.pipeline",
    "data_ingestion_poc_spark.ingest.blobstore",
    "data_ingestion_poc_spark.ingest.netfetch",
    "data_ingestion_poc_spark.ingest.avro_ocf",
    "data_ingestion_poc_spark.operators.scans",
    "data_ingestion_poc_spark.streaming.core",
    "data_ingestion_poc_spark.streaming.batch_parity",
)


def _preload(modules: tuple[str, ...]) -> tuple[str, ...]:
    """Import each module; return the names that failed, each reported
    with its error on one stderr line."""
    failed = []
    for mod in modules:
        try:
            importlib.import_module(mod)
        except Exception as exc:  # noqa: BLE001 - skip the module, keep the daemon
            failed.append(mod)
            print(
                f"daemon_preload: failed to preload {mod}: "
                f"{type(exc).__name__}: {exc}",
                file=sys.stderr,
            )
    return tuple(failed)


#: Names from PRELOAD_MODULES that failed to import in this process.
PRELOAD_FAILED = _preload(PRELOAD_MODULES)

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
