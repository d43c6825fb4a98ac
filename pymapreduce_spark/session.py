"""SparkSession factory and the engine's pinned runtime configuration.

All configs here are justified in SURVEY.md §4.3. The critical one is
``spark.sql.legacy.parquet.nanosAsLong``: the fixture ``events.parquet``
stores ``ts`` as parquet INT64 TIMESTAMP(NANOS) which Spark 4.x refuses to
read by default ([PARQUET_TYPE_ILLEGAL]); with the flag the column arrives
as a long that :mod:`pymapreduce_spark.io` converts to a proper timestamp.

Every query entry point calls :func:`ensure_runtime_configs` defensively so
the engine works inside a driver-created SparkSession it did not build.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory that holds the ``pymapreduce_spark`` package. Python
#: workers need it on their path to unpickle engine functions and to
#: start the engine's worker daemon, whatever the driver's cwd is.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Configs that are settable on a live session (spark.conf.set).
RUNTIME_CONFS: dict[str, str] = {
    # Oracle comparability: DuckDB timestamps are naive/UTC.
    "spark.sql.session.timeZone": "UTC",
    # Required to read events.parquet (ns timestamps) at all. SURVEY §1.2.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for pandas UDFs / toPandas — the only sane Python path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # broadcast conversion from runtime stats. Core of the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Right-sized for local test scale; AQE coalesces below it anyway.
    # (Streaming state ops can't use AQE, so the static value matters
    # there most — 200 default partitions on 100 k rows is pure overhead.)
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # AQE's coalesce target is a bytes-per-task knob: the 64 MB default
    # assumes cluster-scale shuffles and collapses this fixture's few-MB
    # shuffles to ONE post-shuffle task, idling 31 of 32 cores in every
    # window/join reduce stage. 2 MB keeps reduce stages parallel at
    # local scale (measured 20-25% off win_*/sessionize/q3 at sf0.1);
    # on a real cluster leave the default via the env override.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY_BYTES", "2097152"
    ),
}

#: Optimizer rules the engine excludes (merged into any exclusions the
#: hosting session already carries, never clobbered).
#:
#: InferFiltersFromGenerate duplicates every generator expression into a
#: ``Filter size(gen) > 0`` that predicate pushdown then rewrites through
#: the projection chain — substituting hoisted aliases back into lambda
#: bodies. For explode-over-transform pipelines (shingles, bigrams, BPE
#: pairs) that turns a hoisted ``split(text)`` into a per-iteration split
#: INSIDE the higher-order function: O(words x bytes) per document,
#: interpreted, at the scan. A single ~500 KB document (round-8 huge_doc
#: axis) took llm_boilerplate_share from ~6 s to >15 min. Generate
#: already skips empty arrays for non-outer explode, so the inferred
#: filter never changes results — it only re-evaluates the generator
#: twice per row (and quadratically when pushdown inlines the hoist).
EXCLUDED_OPTIMIZER_RULES: tuple[str, ...] = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
)

#: Configs that must be set before the JVM session exists.
BUILD_CONFS: dict[str, str] = {
    # Local-mode default; on a real cluster leave unset and let AQE coalesce.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Python workers re-read zip import caches only when the archive
    # changed (see worker_daemon): ~0.1-0.2 s of CPU off every UDF task.
    "spark.python.daemon.module": "pymapreduce_spark.worker_daemon",
}


def ensure_runtime_configs(spark: SparkSession) -> SparkSession:
    """Idempotently pin runtime configs on an existing session.

    Safe to call per-query: ``spark.conf.set`` on an already-set value is a
    no-op, and configs a given Spark build rejects are skipped rather than
    fatal (they only degrade, never corrupt, behavior).
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - config not recognized
            pass
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules", None)
        have = [r for r in (current or "").split(",") if r.strip()]
        merged = have + [r for r in EXCLUDED_OPTIMIZER_RULES if r not in have]
        if merged != have or current is None:
            spark.conf.set(
                "spark.sql.optimizer.excludedRules", ",".join(merged)
            )
    except Exception:  # pragma: no cover - config not recognized
        pass
    return spark


def get_spark(
    app_name: str = "pymapreduce-spark",
    master: str | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession with pinned configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no active
    session exists; an already-running session is reused and only its
    runtime-settable configs and its workers' ``PYTHONPATH`` are adjusted.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    for key, value in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _put_engine_on_worker_path(spark)
    return ensure_runtime_configs(spark)


def _put_engine_on_worker_path(spark: SparkSession) -> None:
    """Prepend :data:`ENGINE_ROOT` to the Python workers' ``PYTHONPATH``.

    ``SparkContext.environment`` is PySpark's copy of the
    ``spark.executorEnv.*`` confs, shipped with every Python function it
    creates. Merging into it after start keeps a value set by
    spark-defaults, ``--conf`` or the builder, which a build-time conf
    would overwrite.
    """
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ENGINE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([ENGINE_ROOT, *paths])
