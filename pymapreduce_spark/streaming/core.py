"""Structured Streaming operators (SURVEY.md §2-J) + the replay harness.

Harness design: ``events.parquet`` is re-laid-out once per sf as a
*replay directory* — one file per calendar day (30 files, day-ordered
modification times) with the ns→µs fix already applied. Streaming queries
read it with ``readStream`` and drain it with ``trigger(availableNow=
True)`` into a memory sink; the final table is returned as a plain
DataFrame. That makes every windowed streaming op **SQL-oracle-checkable**
(the driver sees an ordinary DataFrame whose contents must equal the
batch-computed equivalent) — the strongest correctness statement a
finite-replay stream can make.

Scale posture: the same code runs unbounded — file source → watermarked
state → sink is exactly the production topology; availableNow is just the
finite trigger. State per key is bounded by the watermark horizon, not by
stream length.
"""

from __future__ import annotations

import itertools
import os
import threading
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from pymapreduce_spark.functions.checked import cents
from pymapreduce_spark.io import (
    derived_artifact,
    load_table,
    read_back,
    table_row_count,
)
from pymapreduce_spark.operators.events import _SESSION_GAP_US, _gap_session_id
from pymapreduce_spark.registry import query

_counter = itertools.count()

#: Streaming stages cannot use AQE partition coalescing, so the static
#: ``spark.sql.shuffle.partitions`` value IS the state-partition count
#: of every stateful streaming operator — and it is paid PER TRIGGER
#: (one stateful task + one state-store commit per partition per
#: micro-batch). At the fixture's ~10⁵ replay rows, 32 partitions of
#: ~300 rows each are pure scheduler/commit floor: an interleaved A/B
#: at sf0.1 (r13, 3 rounds × {32, 8, 4}) measured the timers drain
#: 2.4-2.7× faster at width 4-8 than at 32, with bit-identical output
#: (guide §2.2 "fewer, larger reduce partitions", §2 scale-adaptive
#: partitioning). The width is derived from the replay's row count —
#: one partition per ~25 k events, floor 4, capped at the session's
#: configured shuffle width — so a 100× corpus derives the full
#: configured width and nothing is tuned to local mode. The caller's
#: session is narrowed only across ``start()`` (see :func:`_run`): the
#: query keeps its own copy of the conf, so batch work after the start
#: sees the session default again. Production overrides:
#: SPARK_GRAFT_STREAM_PARTITIONS pins the width outright;
#: SPARK_GRAFT_SHUFFLE_PARTITIONS raises the cap.
_STREAM_ROWS_PER_PARTITION = 25_000

_WIDTH_CONF = "spark.sql.shuffle.partitions"
_CHECKPOINT_CONF = "spark.sql.streaming.checkpointLocation"
_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
#: Hadoop's local filesystem without libhadoop (NativeIO unavailable)
#: starts a shell process for every ``readlink`` and ``chmod``. The
#: default FileContext checkpoint manager reads the link status of the
#: source and target of every rename (``getFileLinkStatus`` →
#: ``FileUtil.readLink``), and a drain renames every offset, commit,
#: state-delta and checksum file it writes; the FileSystem manager's
#: rename is a plain ``File.renameTo``. It writes the same files.
_FS_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
#: Held while a query's start confs are set on the caller's session, so
#: two concurrent starts never save each other's narrowed value.
_START_LOCK = threading.Lock()

#: Target events per micro-batch for drains whose RESULT is provably
#: trigger-count-independent (r14, guide §2.2 "fewer, larger"): the
#: applyInPandasWithState surface pays a per-KEY state roundtrip every
#: batch a key appears in (~5 ms/key measured at sf0.1 — the r14
#: breakdown put ~8 s of allUpdatesTimeMs on a 1500-key batch even at
#: ZERO input rows), so with every user active in every day-file,
#: trigger count multiplies the whole per-key cost. 100 k events per
#: trigger amortizes that floor while keeping in-flight state bounded:
#: eviction (watermark/timers) happens at batch boundaries, so a
#: trigger's time-horizon is what bounds un-evicted state — at the
#: smoke's 100× corpus this derives ~31 files (≈1 replica span) per
#: trigger, trigger count grows linearly with the stream length, and
#: the state-flat checks hold (attested in the r14 streamstate run).
_STREAM_ROWS_PER_TRIGGER = 100_000


def derived_mfpt(spark: SparkSession, sf_dir: str) -> int:
    """maxFilesPerTrigger derived from the replay's shape so one
    micro-batch carries ~``_STREAM_ROWS_PER_TRIGGER`` events (see
    above). ONLY for ops whose emitted result is invariant under
    trigger boundaries (append-mode emissions gated on the final
    watermark, or update-mode emissions folded with a monotone
    aggregate): per-batch-emission contracts (stream_progress_audit,
    the per-batch drains) keep their pinned cadence."""
    try:
        # self-heal BEFORE touching replay_dir: callers evaluate this
        # in read_stream's argument list, so a first-ever replay
        # materialization would otherwise run under whatever session
        # timezone the host left behind (the round-8 clock axis —
        # date_format day layout is tz-sensitive)
        from pymapreduce_spark.session import ensure_runtime_configs

        ensure_runtime_configs(spark)
        n = table_row_count(sf_dir, "events")
        path = replay_dir(spark, sf_dir)
        n_files = sum(
            1 for d in os.listdir(path) if d.startswith("day=")
        )
        rows_per_file = max(1, n // max(1, n_files))
        return max(1, _STREAM_ROWS_PER_TRIGGER // rows_per_file)
    except Exception:  # pragma: no cover - footer unreadable etc.
        return 10


def _stream_width(sf_dir: str, multi_trigger: bool = True) -> int | None:
    """The state width of a drain over this replay (see above), from
    the replay's row count and whether the drain runs several triggers;
    ``None`` keeps the session width. The session width caps it when
    the query starts (:func:`_run` only narrows).

    Only MULTI-trigger drains (maxFilesPerTrigger set) narrow: the
    floor being amortized is per-trigger, so a single-data-trigger
    drain has nothing to amortize and instead wants the session's full
    width for its one heavy stateful batch (measured r13: narrowing
    state_audit's single-trigger drain to 4 cost ~1-2 s of Python-fold
    parallelism at sf0.1 while winning nothing)."""
    try:
        env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
        if env:
            return max(1, int(env))
        if not multi_trigger:
            return None
        n = table_row_count(sf_dir, "events")
        return max(4, n // _STREAM_ROWS_PER_PARTITION)
    except Exception:  # pragma: no cover - footer unreadable etc.
        return None


def _checkpoint_is_local(spark: SparkSession, checkpoint: str | None) -> bool:
    """Whether a query's checkpoint root is on the local filesystem: the
    explicit ``checkpoint``, else the session's checkpointLocation, else
    Spark's temp dir (a local path with no scheme); a path with no
    scheme resolves against ``fs.defaultFS``, as Spark resolves it."""
    root = checkpoint or spark.conf.get(_CHECKPOINT_CONF, None) or ""
    scheme = urlparse(root).scheme
    if not scheme:
        hadoop = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = urlparse(hadoop.get("fs.defaultFS", "file:///")).scheme
    return scheme == "file"


def _run(
    spark: SparkSession,
    writer: DataStreamWriter,
    width: int | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """The one place a streaming query starts and its checkpoint is set:
    set the confs the query takes at start on ``spark``, start it,
    restore them, then wait for the query to finish.

    ``start()`` copies the session conf into the query (its offset log
    pins numShufflePartitions, foreachBatch bodies run on the copy), so
    the caller's session carries the narrowed ``width`` only while
    ``start()`` runs. Narrowing only: a ``width`` wider than the
    session value is ignored. The state-store provider is the
    session's own.

    ``checkpoint`` is the explicit checkpointLocation; ``None`` keeps
    Spark's default root (the session's checkpointLocation, else a temp
    dir). When that root is on the local filesystem and the session
    names no checkpoint manager class of its own, the session carries
    Spark's FileSystem-based manager (``_FS_FILE_MANAGER``) until the
    query ends, then goes back to unset. Not just across ``start()``: a
    file source builds its offset log from the READING session's conf
    after ``start()`` returns, in the query's own thread (restored right
    after ``start()``, a one-file-per-trigger drain kept 240 ``readlink``
    starts from that log). A local rename is atomic and every engine
    checkpoint has one writer (a temp dir or a per-thread
    ``stable_scratch`` epoch), so the manager changes no file and no
    result. A drain that starts while another is ending may still build
    its source log under the default manager: slower, same files.

    The query stays on the caller's session, whose listeners see its
    progress; a child session would hide it from them and drop the
    caller's runtime confs."""
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    owns_manager = False
    try:
        with _START_LOCK:
            saved = None if width is None else spark.conf.get(_WIDTH_CONF)
            narrow = saved is not None and width < int(saved)
            owns_manager = spark.conf.get(
                _FILE_MANAGER_CONF, None
            ) is None and _checkpoint_is_local(spark, checkpoint)
            if owns_manager:
                spark.conf.set(_FILE_MANAGER_CONF, _FS_FILE_MANAGER)
            if narrow:
                spark.conf.set(_WIDTH_CONF, str(width))
            try:
                q = writer.start()
            finally:
                if narrow:
                    spark.conf.set(_WIDTH_CONF, saved)
        q.awaitTermination()
    finally:
        if owns_manager:
            with _START_LOCK:
                if spark.conf.get(_FILE_MANAGER_CONF, None) == _FS_FILE_MANAGER:
                    spark.conf.unset(_FILE_MANAGER_CONF)
    return q


def replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per fixture stamp) the events replay directory:
    one parquet file per day under day=YYYY-MM-DD/, timestamps already
    normalized."""
    # The version names the replay layout, which the source stamp
    # cannot show. v2: replay files written after the fixture moved ts
    # to timestamp[us]. v3: NULL event times are excluded from the
    # replay (round-7 null-ts axis): the layout IS the event-time axis
    # (one file per day, mod-time ordered), and a row with no event time
    # has no day — it previously leaked into
    # day=__HIVE_DEFAULT_PARTITION__ and replayed as a phantom LAST
    # batch. Every stream op's oracle states the exclusion. v4: the
    # engine's canonical ts type moved to TimestampNTZType (round-8
    # clock/timezone doctrine, io._fix_events) — replay copies written
    # by earlier versions carry zoned timestamps; regenerate.

    def build(path: str) -> None:
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("ts").isNotNull())
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        )
        # repartition(1): a single task writes every day dir → exactly one
        # file per day, deterministic layout. 100 k rows — trivially fine.
        ev.repartition(1).write.mode("overwrite").partitionBy("day").parquet(
            path
        )
        # Day-ordered modification times: the file stream source lists by
        # mod time, so batches replay in event-time order.
        day_dirs = sorted(
            d for d in os.listdir(path) if d.startswith("day=")
        )
        base = 1_700_000_000
        for i, d in enumerate(day_dirs):
            full = os.path.join(path, d)
            for f in os.listdir(full):
                os.utime(os.path.join(full, f), (base + i, base + i))

    return derived_artifact(sf_dir, "events_replay", ("events",), build, "v4")


def _replay_schema(spark: SparkSession, sf_dir: str):
    """Replay-dir schema derived from the SOURCE table, never inferred
    from the written files: inference needs at least one part file, so
    an empty source (a day with no events — routine at scale) would
    crash the read. An explicit readStream schema is the production
    rule anyway — inference races file arrival.

    Built as a FRESH StructType: ``StructType.add`` mutates in place,
    and the base schema object belongs to the cached events DataFrame —
    mutating it would leak a phantom ``day`` column into every later
    events query in the session."""
    from pyspark.sql.types import StringType, StructField, StructType

    base = load_table(spark, sf_dir, "events").schema
    return StructType(
        list(base.fields) + [StructField("day", StringType())]
    )


def read_stream(spark: SparkSession, sf_dir: str, **options) -> DataFrame:
    """events as a stream (schema-explicit; no inference on a stream)."""
    from pymapreduce_spark.session import ensure_runtime_configs

    # Self-heal here too: when the replay copy is already materialized,
    # replay_dir never touches load_table, so without this call a
    # stream op would analyze its window/watermark expressions under
    # whatever session timezone the host left behind (round-8 clock
    # axis: buckets aligned to :45 under Asia/Kathmandu).
    ensure_runtime_configs(spark)
    path = replay_dir(spark, sf_dir)
    schema = _replay_schema(spark, sf_dir)
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    s = reader.parquet(path).drop("day")
    # Defense in depth: if a stale replay copy (or a future fixture
    # change) yields NTZ event time, normalize — the session timezone is
    # pinned UTC so the cast is value-preserving, and watermarks require
    # the zoned TimestampType.
    if dict(s.dtypes).get("ts") == "timestamp_ntz":
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def drain(
    stream_df: DataFrame,
    output_mode: str = "complete",
    checkpoint: str | None = None,
    width: int | None = None,
) -> DataFrame:
    """Run a finite stream to completion into a memory sink and return
    the resulting table as a batch DataFrame.

    Every zoned timestamp output column is normalized back to the
    engine's canonical NAIVE type (TimestampNTZType) on the way out:
    streaming must run zoned internally (withWatermark rejects NTZ,
    measured on 4.1) under the pinned-UTC session tz, but a zoned
    OUTPUT is the round-8 clock hazard — driver-side collect() converts
    zoned values through the host OS timezone, shifting results on any
    non-UTC machine. The single cast here covers every stream op.

    ``checkpoint``: explicit checkpointLocation — pass one when the
    caller reads the run's state back (spark.read.format("statestore")
    needs a durable checkpoint path; the default ephemeral one is
    session-temp). ``width``: the state width the query starts with
    (see :func:`_run`).

    The sink's view is dropped before returning: the returned DataFrame
    keeps the sink's rows alive, and nothing else in the session does."""
    spark = stream_df.sparkSession
    name = f"stream_result_{next(_counter)}"
    w = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    _run(spark, w, width, checkpoint=checkpoint)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    zoned = [c for c, t in out.dtypes if t == "timestamp"]
    if zoned:
        out = out.withColumns(
            {c: F.col(c).cast("timestamp_ntz") for c in zoned}
        )
    return out


@query(
    "stream_source",
    oracle="""
    SELECT count(*) AS n_rows,
           bit_xor(event_id)::BIGINT AS id_xor,
           min(ts::TIMESTAMP) AS min_ts,
           max(ts::TIMESTAMP) AS max_ts
    FROM events
    -- the replay delivers every row that HAS an event time (null-ts
    -- doctrine: the replay layout is the event-time axis)
    WHERE ts IS NOT NULL
    """,
)
def stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a file stream and prove lossless
    delivery: global fingerprint (count + id-XOR + ts range) equals
    the batch table's. (COUNT DISTINCT is unsupported on streams; the
    fingerprint folds ids with bit_xor — order-insensitive and exact
    like a sum, but overflow-free at ±Long.MAX ids, where Σ id crashed
    the stream under ANSI on the extreme_ids axis. Ids are unique, so
    a lost or duplicated row always flips the fold.)"""
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    agg = s.agg(
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(event_id)").alias("id_xor"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    return drain(agg, "complete", width=_stream_width(sf_dir))


@query(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS window_start,
           (date_trunc('hour', ts::TIMESTAMP) + INTERVAL 1 HOUR)::TIMESTAMP
               AS window_end,
           event_type,
           count(*) AS n_events
    FROM events
    -- Spark's window() bucketing silently excludes NULL event times;
    -- the contract says so explicitly (round-7 null-ts axis)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 1-hour windows by event type (epoch-aligned tumbling ≡
    date_trunc). Complete-mode drain == the batch windowed aggregate."""
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
    )
    return drain(out, "complete", width=_stream_width(sf_dir))


@query(
    "stream_sliding",
    oracle="""
    WITH hits AS (
        -- FLOOR alignment via a non-negative modulus: `//` truncates
        -- toward zero for negative operands, which mis-aligns every
        -- pre-1970 (negative-epoch) event's window start by one slide
        -- (Spark's F.window floors; caught by the ts-extreme audit)
        SELECT make_timestamp(
                   epoch_us(ts::TIMESTAMP)
                   - ((epoch_us(ts::TIMESTAMP) % 900000000) + 900000000)
                     % 900000000
                   - j * 900000000) AS window_start,
               event_type
        FROM events, (SELECT unnest(range(0, 4)) AS j)
        WHERE ts IS NOT NULL
    )
    SELECT window_start,
           (window_start + INTERVAL 1 HOUR) AS window_end,
           event_type, count(*) AS n_events
    FROM hits
    GROUP BY 1, 2, 3
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes — each event lands in 4
    overlapping windows (oracle materializes them via a 0..3 offset
    cross join)."""
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    agg = s.groupBy(
        F.window("ts", "1 hour", "15 minutes"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
    )
    return drain(out, "complete", width=_stream_width(sf_dir))


@query(
    "stream_session",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS tsu,
               epoch_us(ts::TIMESTAMP) AS mu
        FROM events
        WHERE ts IS NOT NULL
    ), flagged AS (
        SELECT user_id, event_id, tsu, mu,
               CASE WHEN mu - lag(mu) OVER w > 1800000000
                         OR lag(mu) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, tsu, mu,
               sum(is_new) OVER (
                   PARTITION BY user_id
                   ORDER BY tsu, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(tsu) AS session_start,
           (max(tsu) + INTERVAL 30 MINUTE) AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min). Spark's session_window end =
    last event + gap; the oracle is the batch sessionization
    (llm_sessionize's twin) with the same end-extension."""
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    agg = s.groupBy(
        F.session_window("ts", "30 minutes"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )
    return drain(out, "complete", width=_stream_width(sf_dir))


@query(
    "stream_watermark",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS window_start,
               (date_trunc('hour', ts::TIMESTAMP)
                   + INTERVAL 1 HOUR)::TIMESTAMP AS window_end,
               count(*)::BIGINT AS n_events
        FROM events
        -- Spark's watermark starts at epoch 0, so pre-1970 events are
        -- born late and dropped by every watermarked stateful op
        -- (ts-extreme audit); the batch twin must drop them too
        WHERE ts::TIMESTAMP >= TIMESTAMP '1970-01-01 00:00:00'
        GROUP BY 1, 2
    ), wm AS (
        SELECT max(ts::TIMESTAMP) - INTERVAL 2 HOUR AS w FROM events
    )
    SELECT window_start, window_end, n_events,
           n_events AS batch_n_events, TRUE AS matches_batch
    FROM b, wm WHERE window_end <= wm.w
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregate in APPEND mode: only windows
    finalized w.r.t. the 2-hour watermark are emitted; the tail of the
    stream stays in state. Late-data dropping is exercised with a
    crafted two-file scenario in tests/test_streaming.py (a file-source
    replay can't make the fixture itself late).

    HASH-CHECKED (previously the one rows-only §2 row): in availableNow
    mode Spark processes every file and then runs a final commit in
    which the watermark advances past the last batch's max event time,
    so the append-mode emission set is exactly the deterministic
    batch-predictable set {windows: end <= max(ts) - 2h} — which is
    what the oracle computes (verified identical and run-stable at all
    three SFs). The self-evidencing ``matches_batch`` column stays:
    the oracle proves WHICH windows were emitted, matches_batch proves
    each was emitted COMPLETE."""
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_events",
    )
    emitted = drain(out, "append", width=_stream_width(sf_dir))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("batch_n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "batch_n_events",
        )
    )
    return emitted.join(
        F.broadcast(batch), ["window_start", "window_end"], "left"
    ).withColumn(
        "matches_batch",
        F.col("n_events") == F.coalesce("batch_n_events", F.lit(-1)),
    )


@query(
    "stream_dedup",
    oracle="""
    -- the batch twin replays the dedup key exactly: DISTINCT on
    -- (event_id, ts, event_type), not count(*) — two DIFFERENT events
    -- colliding on event_id (dup-fact-key axis) both survive the
    -- stream dedup, so an oracle that assumed inject-twice/dedup is
    -- the identity under-counted them
    SELECT event_type, count(*) AS n_unique
    FROM (SELECT DISTINCT event_id, ts::TIMESTAMP AS tsu, event_type
          FROM events
          -- pre-1970 events are late vs Spark's initial epoch-0
          -- watermark and are dropped by dropDuplicatesWithinWatermark
          -- (ts-extreme audit); the batch twin drops them too
          WHERE ts::TIMESTAMP >= TIMESTAMP '1970-01-01 00:00:00')
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within the watermark: each event is injected
    twice (explode of a 2-element array), dropDuplicatesWithinWatermark
    must restore exactly the original per-type counts.

    The dedup key identifies a DELIVERY — (event_id, ts, event_type) —
    not the bare event_id: at-least-once redeliveries are byte-equal,
    so they still collapse, while two genuinely different events that
    COLLIDE on event_id (an id-collision-across-sources corruption,
    the dup-fact-key axis) each survive instead of one being dropped
    arrival-order-arbitrarily. Keeping ts in the key also keeps the
    within-watermark guarantee exact: equal keys share an event time,
    so they always fall in the same watermark window. NULL event times
    are excluded on both sides (null-ts doctrine: a row without an
    event time has no position against the watermark — the oracle's
    epoch-floor predicate already rejects NULL via three-valued
    logic)."""
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10).where(
        F.col("ts").isNotNull()
    )
    doubled = s.withColumn("copy", F.explode(F.array(F.lit(0), F.lit(1)))).drop(
        "copy"
    )
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id", "ts", "event_type"]
    )
    collected = drain(
        deduped.select("event_id", "event_type"),
        "append",
        width=_stream_width(sf_dir),
    )
    return collected.groupBy("event_type").agg(
        F.count("*").alias("n_unique")
    )


@query(
    "stream_bitmap_distinct",
    oracle="""
    SELECT date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS window_start,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
    """,
)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per hourly window over the replay stream.
    COUNT DISTINCT is unsupported in streaming aggregates (state would
    have to hold every id), but the bitmap fold (agg_bitmap_distinct's
    pattern) IS streamable: bitmap_construct_agg is a mergeable
    single-buffer accumulator, so the state store carries one ≤4 KB
    bitmap per (window, id-bucket) — bounded by key space, not stream
    length — and the per-window count is exact, not an HLL estimate.
    Complete-mode drain == the batch distinct count (the oracle).
    NULL user_ids carry no identity and are excluded on both sides;
    NULL event times have no window (null-ts doctrine)."""
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10).where(
        F.col("user_id").isNotNull()
    )
    per_bucket = (
        s.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        )
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(user_id))"
            ).alias("bm")
        )
        .select(F.col("w.start").alias("window_start"), "bm")
    )
    drained = drain(per_bucket, "complete", width=_stream_width(sf_dir))
    return drained.groupBy("window_start").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )


@query(
    "stream_join_static",
    oracle="""
    WITH cohorts(cohort_id, cohort_name) AS (VALUES
        (0, 'control'), (1, 'variant_a'), (2, 'variant_b'))
    SELECT cohort_name, event_type, count(*) AS n_events
    FROM events JOIN cohorts ON (user_id % 3) = cohort_id
    WHERE ts IS NOT NULL
    GROUP BY cohort_name, event_type
    """,
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the static side is broadcast to
    every micro-batch (the streaming form of the MR distributed cache)."""
    cohorts = spark.createDataFrame(
        [(0, "control"), (1, "variant_a"), (2, "variant_b")],
        "cohort_id int, cohort_name string",
    )
    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    enriched = s.withColumn(
        "cohort_id", (F.col("user_id") % 3).cast("int")
    ).join(F.broadcast(cohorts), "cohort_id")
    agg = enriched.groupBy("cohort_name", "event_type").agg(
        F.count("*").alias("n_events")
    )
    return drain(agg, "complete", width=_stream_width(sf_dir))


@query(
    "stream_join_stream",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id AS view_id, ts::TIMESTAMP AS vts
        FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, event_id AS purchase_id, ts::TIMESTAMP AS pts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, count(*) AS n_pairs
    FROM v JOIN p ON v.user_id = p.user_id
       AND p.pts >= v.vts AND p.pts < v.vts + INTERVAL 10 MINUTE
    GROUP BY v.user_id
    """,
)
def stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on both sides and a
    time-bounded condition (purchase within 10 min after a view) —
    state on each side is bounded by watermark + interval. availableNow
    drain of an interval-bounded inner join is lossless, so the batch
    join is an exact oracle."""
    views = (
        read_stream(spark, sf_dir, maxFilesPerTrigger=10)
        .where(F.col("event_type") == "view")
        .select(
            "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
        )
        .withWatermark("vts", "2 hours")
    )
    purchases = (
        read_stream(spark, sf_dir, maxFilesPerTrigger=10)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "2 hours")
    )
    joined = views.join(
        purchases,
        (views.user_id == purchases.user_id)
        & (purchases.pts >= views.vts)
        & (purchases.pts < views.vts + F.expr("INTERVAL 10 MINUTES")),
    ).select(views.user_id, "view_id", "purchase_id")
    pairs = drain(joined, "append", width=_stream_width(sf_dir))
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


@query(
    "stream_sink_foreachbatch",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND value > 200 AND ts IS NOT NULL
    """,
)
def stream_sink_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary sink via foreachBatch: each micro-batch of filtered
    events is appended to a parquet sink (idempotent by batch id — the
    exactly-once pattern); the sink's final contents are the result.

    The sink and its checkpoint live in a fresh stable_scratch EPOCH
    per invocation: the previous in-process counter collided across
    processes (counter restarts at 0), so a rerun appended onto the
    prior run's parquet and reused its checkpoint — the combined-axis
    audit saw stale rows from an earlier fixture leak into the result.
    Epoch dirs give a clean sink + checkpoint every invocation while
    keeping the footprint bounded and the prior result readable."""
    from pymapreduce_spark.io import stable_scratch

    epoch = stable_scratch(sf_dir, "stream_sink")
    sink_path = os.path.join(epoch, "data")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_path)

    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    filtered = s.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 200)
    ).select("event_id", "user_id", "value")
    _run(
        spark,
        filtered.writeStream.foreachBatch(write_batch).trigger(
            availableNow=True
        ),
        checkpoint=sink_path + "_chk",
    )
    # schema-explicit read-back: zero batches (empty source) leave no
    # part files — inference would crash on a legitimately quiet stream
    return read_back(spark, sink_path, filtered.schema)


@query(
    "stream_stateful",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS mu
        FROM events WHERE ts IS NOT NULL
    ), g AS (
        SELECT user_id,
               mu - lag(mu) OVER (
                   PARTITION BY user_id ORDER BY mu, event_id NULLS FIRST) AS gap
        FROM e
    )
    SELECT user_id, count(*) AS n_events,
           coalesce(max(gap), 0) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key state machine via ``applyInPandasWithState``: for
    every user, carry (last event time, max inter-event gap, count)
    across micro-batches; emit the running totals each batch and keep
    the final row per user. The batch twin (lag + max per user) is an
    exact SQL oracle because the replay is day-ordered.

    State is O(1) per user — the canonical pattern for 100 TB streams
    (no event retention, just a scalar accumulator per key)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def track(key, pdfs, state):
        (user_id,) = key
        last_ts, max_gap, n = (
            state.get if state.exists else (None, 0, 0)
        )
        mus = _concat_sorted(pdfs)  # one global per-key µs sort: a key
        # spanning multiple Arrow chunks must fold in time order
        if mus is not None:
            for mu in mus.tolist():
                if last_ts is not None and mu - last_ts > max_gap:
                    max_gap = mu - last_ts
                last_ts = mu
                n += 1
        state.update((int(last_ts), int(max_gap), int(n)))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "max_gap_us": [max_gap],
            }
        )

    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    tracked = (
        s.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id bigint, n_events bigint, max_gap_us bigint",
            stateStructType="last_ts bigint, max_gap bigint, n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    per_batch = drain(tracked, "update", width=_stream_width(sf_dir))
    # update-mode memory sink appends one row per (user, batch); the
    # final state per user is the row with the highest count (monotone).
    return per_batch.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_gap_us").alias("max_gap_us"),
    )


def _session_due_ms(last_us: int, gap_us: int = _SESSION_GAP_US) -> int:
    """Timer expiry for a session whose last event is at ``last_us``:
    ceil to ms so the timer NEVER fires before the true µs-precision
    due time (floor could emit a session whose end is <1 ms past the
    watermark). The timer and the oracle use this exact arithmetic.
    ``gap_us`` is overridable so the streaming property-differential
    harness (r11 verdict #7) can sweep the gap parameter; the
    registered ops always use the module default."""
    return -((-(last_us + gap_us)) // 1000)


def _session_emit_pdf(user_id, sessions: list, gap_us: int = _SESSION_GAP_US):
    """ONE output frame for a whole list of closed (start, last, n)
    sessions, built from int64 arrays viewed as datetime64[us] — no
    per-value pd.Timestamp boxing (guide §4.2: the r14 per-trigger
    breakdown put ~10 s of allUpdatesTimeMs per 1500-key batch on the
    per-key Python, and Timestamp-list frame construction was a big
    slice of it). Values are identical to pd.Timestamp(x, unit="us"):
    both are µs-precision naive timestamps."""
    import numpy as np
    import pandas as pd

    k = len(sessions)
    starts = np.fromiter((s for s, _l, _n in sessions), "int64", count=k)
    lasts = np.fromiter((l for _s, l, _n in sessions), "int64", count=k)
    ns = np.fromiter((n for _s, _l, n in sessions), "int64", count=k)
    # A NULL grouping key arrives as None OR as float NaN (the
    # applyInPandasWithState key tuple) — np.full(..., NaN, "int64")
    # would silently cast it to INT64_MIN (caught by the streaming
    # property differential), so keep the nullable object column the
    # original per-value form produced for both null spellings.
    null_key = user_id is None or user_id != user_id
    uid = (
        np.array([None] * k, dtype=object)
        if null_key
        else np.full(k, user_id, dtype="int64")
    )
    return pd.DataFrame(
        {
            "user_id": uid,
            "session_start": starts.view("datetime64[us]"),
            "session_end": (lasts + gap_us).view("datetime64[us]"),
            "n_events": ns,
        }
    )


def _concat_sorted(chunks):
    """All of one key's event times for this batch — every Arrow chunk
    concatenated, converted to int64 µs, and globally sorted — as one
    numpy array; None when the batch carried no rows for the key.

    The per-key iterator delivers a key's rows in MULTIPLE chunks when
    the partition's data crosses the Arrow batch limit, and the chunks'
    relative order does NOT follow event time (the stateful exchange
    sorts on the grouping key only). Folding chunk-by-chunk with a
    per-chunk sort therefore mis-splits sessions the moment a key spans
    chunks: a later chunk's earlier-in-time event looks in-gap against
    the running `last` and never splits. Surfaced in r13 when the
    derived stream shuffle width put ~24 k rows in one partition at
    sf0.1 (>10 k-row Arrow chunks); the same splitting already occurred
    at any width on a 100 TB feed — width only changed WHEN. One concat
    + one sort per (key, batch) is the batch's own data, bounded by the
    trigger size, not stream length.

    r14 (guide §4.2): returns the sorted µs array directly instead of a
    sorted DataFrame — every consumer folds only event times, and the
    DataFrame concat + sort_values + per-value Timestamp boxing were
    the bulk of the per-key Python cost (allUpdatesTimeMs). Equal
    event times need no tie-break: the folds' max/count arithmetic is
    invariant under their order."""
    import numpy as np

    arrs = []
    for p in chunks:
        if not len(p):
            continue
        v = p["ts"].values
        if v.dtype == np.dtype("datetime64[us]"):
            arrs.append(v.astype("int64"))
        else:
            # ns (or other) unit: floor to µs exactly like Timestamp
            # .value // 1000 did
            arrs.append(v.astype("datetime64[ns]").astype("int64") // 1000)
    if not arrs:
        return None
    mus = arrs[0] if len(arrs) == 1 else np.concatenate(arrs)
    mus.sort()
    return mus


def _session_fold_events(
    mus, start, last, n, closed: list, gap_us: int = _SESSION_GAP_US
):
    """Fold one batch's (sorted) event times — int64 µs, the
    :func:`_concat_sorted` output — into the running session scalar,
    appending each gap-closed (start, last, n) to ``closed``; returns
    the updated scalar. The loop runs over plain Python ints
    (``.tolist()``), not boxed pandas Timestamps (guide §4.2).

    ``last`` is the session's MAX event time (``max(last, mu)``), not
    the most recently folded one: each batch is sorted before folding,
    but an in-gap out-of-order event arriving in a LATER micro-batch
    carries ``mu < last``, and overwriting would move the session end
    BACKWARD — skewing every subsequent gap split versus the
    globally-ordered oracle's ``max(mu)`` (round-11 ADVICE #1)."""
    import numpy as np

    if isinstance(mus, np.ndarray):
        mus = mus.tolist()
    for mu in mus:
        if start is None:
            start, last, n = mu, mu, 1
        elif mu - last > gap_us:
            closed.append((start, last, n))
            start, last, n = mu, mu, 1
        else:
            last, n = max(last, mu), n + 1
    return start, last, n


def _make_session_timeout_track(gap_us: int = _SESSION_GAP_US):
    """Build the timer-based session-timeout track function
    (``applyInPandasWithState`` + EventTimeTimeout) for an arbitrary
    inactivity gap. The registered ops use the module-default
    instance ``_session_timeout_track`` (30 min); the streaming
    property-differential harness (r11 verdict #7) sweeps ``gap_us``
    randomly — the closure carries the gap by VALUE, so it survives
    cloudpickle to the Python workers where a monkeypatched module
    global would not."""

    def track(key, pdfs, state):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield _session_emit_pdf(user_id, [(start, last, n)], gap_us)
            return
        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list = []
        mus = _concat_sorted(pdfs)  # global per-key µs sort (see helper)
        if mus is not None:
            start, last, n = _session_fold_events(
                mus, start, last, n, closed, gap_us
            )
        if closed:
            yield _session_emit_pdf(user_id, closed, gap_us)
        state.update((int(start), int(last), int(n)))
        # defensive clamp: a timeout timestamp at/below the current
        # watermark is rejected by Spark; the fixture's day-ordered
        # replay never produces one (no born-late events), but a
        # generic feed can. KNOWN DIVERGENCE on the clamped branch
        # (round-11 ADVICE #2): when due <= wm the clamp arms at wm+1,
        # so this surface emits only once the watermark advances PAST
        # wm+1 — later than the oracle's strict `wm > due` boundary. On
        # a feed whose watermark never advances again, a born-late
        # trailing session is under-emitted relative to the oracle. Pinned by
        # tests/test_streaming.py::test_legacy_clamp_branch_divergence.
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(_session_due_ms(last, gap_us), wm + 1))

    return track


#: The registered ops' instance (30-minute gap).
_session_timeout_track = _make_session_timeout_track()


def _timed_sessions(spark: SparkSession, sf_dir: str, **options) -> DataFrame:
    """The timer-based session-timeout stream over the replay (reader
    ``options`` as for :func:`read_stream`): a 2-hour event-time
    watermark, then :data:`_session_timeout_track` per user on
    ``applyInPandasWithState`` with EventTimeTimeout, appending each
    closed session. State per user is (start_us, last_us, n)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = read_stream(spark, sf_dir, **options).where(F.col("ts").isNotNull())
    return (
        s.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_track,
            outputStructType=(
                "user_id bigint, session_start timestamp, "
                "session_end timestamp, n_events bigint"
            ),
            stateStructType="start_us bigint, last_us bigint, n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


@query(
    "stream_stateful_timers",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS tsu,
               epoch_us(ts::TIMESTAMP) AS mu
        FROM events
        WHERE ts IS NOT NULL
    ), flagged AS (
        SELECT user_id, event_id, tsu, mu,
               CASE WHEN mu - lag(mu) OVER w > 1800000000
                         OR lag(mu) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, tsu, mu,
               sum(is_new) OVER (
                   PARTITION BY user_id
                   ORDER BY tsu, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    ), sess AS (
        SELECT user_id, sid, min(tsu) AS session_start,
               max(tsu) + INTERVAL 30 MINUTE AS session_end,
               max(mu) AS last_mu,
               count(*)::BIGINT AS n_events,
               max(sid) OVER (PARTITION BY user_id) AS last_sid
        FROM s GROUP BY user_id, sid
    ), wm AS (
        -- Spark's event-time watermark is ms-floored: max event time
        -- in ms (µs // 1000) minus the 2 h delay
        SELECT max(epoch_us(ts::TIMESTAMP)) // 1000 - 7200000 AS wm_ms
        FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess, wm
    -- a session is emitted when it was closed by a successor event
    -- (every non-last session) or by its inactivity TIMER: the timer
    -- is armed at ceil_ms(last + 30 min) and fires when the final
    -- watermark is STRICTLY past it (Spark event-time timeout)
    WHERE sid < last_sid
       OR wm.wm_ms > (last_mu + 1800000000 + 999) // 1000
    """,
)
def stream_stateful_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timer-based session timeout on Spark's arbitrary-stateful
    surface with event-time TIMERS (r10 verdict #7). Per user, ONE
    scalar state row (session_start, last_event, count) plus ONE
    inactivity timer armed at ceil_ms(last_event + 30 min):

    - a successor event within the gap extends the session and re-arms
      the timer; past the gap it CLOSES the session (emit) and starts
      a new one;
    - the timer fires when the event-time watermark moves strictly
      past the armed expiry — no event ≤ the watermark can arrive
      anymore, so the trailing session is provably complete and emits
      exactly once, evicting its state and timer.

    Emission is deterministic under the day-ordered replay: every
    non-last session per user emits (its successor always arrives),
    and the last session emits iff the final watermark (ms-floored
    max(ts) − 2 h, the stream_watermark doctrine) passed its timer.
    The batch oracle computes exactly that set with the same integer
    arithmetic. State is O(1) per ACTIVE user and timers are one per
    active user — the bounded shape the streamstate smoke measures.

    One state machine (:func:`_timed_sessions`):
    ``applyInPandasWithState`` with EventTimeTimeout, whose timer is
    setTimeoutTimestamp / hasTimedOut. Spark's event-time watermark is
    ms-floored from µs, so the timer is armed at ceil-to-ms of the due
    time, and a timeout fires only on a STRICTLY greater watermark.

    Trigger cadence is DERIVED (r14, see ``derived_mfpt``): the
    emitted session set depends only on the gap splits (batch-
    boundary-invariant: state carries the trailing session across
    triggers) and on the FINAL watermark (the timer boundary), never
    on where triggers fall — so fewer, larger micro-batches change
    nothing the oracle sees while amortizing the per-key state
    roundtrip that dominates this op's cost.
    """
    out = _timed_sessions(
        spark, sf_dir, maxFilesPerTrigger=derived_mfpt(spark, sf_dir)
    )
    return drain(out, "append", width=_stream_width(sf_dir))


@query(
    "stream_state_audit",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS tsu,
               epoch_us(ts::TIMESTAMP) AS mu
        FROM events
        WHERE ts IS NOT NULL
    ), flagged AS (
        SELECT user_id, event_id, tsu, mu,
               CASE WHEN mu - lag(mu) OVER w > 1800000000
                         OR lag(mu) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, tsu, mu,
               sum(is_new) OVER (
                   PARTITION BY user_id
                   ORDER BY tsu, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    ), sess AS (
        SELECT user_id, sid, min(tsu) AS session_start,
               max(mu) AS last_mu,
               count(*)::BIGINT AS n_events,
               max(sid) OVER (PARTITION BY user_id) AS last_sid
        FROM s GROUP BY user_id, sid
    ), wm AS (
        SELECT max(epoch_us(ts::TIMESTAMP)) // 1000 - 7200000 AS wm_ms
        FROM events WHERE ts IS NOT NULL
    )
    -- the IN-FLIGHT state at end of stream: each user's LAST session
    -- unless its inactivity timer already fired (the exact complement
    -- of stream_stateful_timers' trailing-session emission)
    SELECT user_id, session_start,
           make_timestamp(last_mu) AS last_event, n_events
    FROM sess, wm
    WHERE sid = last_sid
      AND wm.wm_ms <= (last_mu + 1800000000 + 999) // 1000
    """,
)
def stream_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state-store READER as a first-class operator (r11 verdict
    #4): run the checkpointed timer-sessionization to completion, then
    audit its surviving state with Spark 4's
    ``spark.read.format("statestore")`` — the tool an operator of a
    100 TB production stream actually uses to inspect in-flight state
    without touching the running query.

    The audited query is stream_stateful_timers' stream
    (:func:`_timed_sessions`) drained over the
    same replay with an EXPLICIT checkpoint (statestore reads the
    checkpoint's state/ tree; stable_scratch epochs keep exactly one
    prior checkpoint around). What survives in the store is each
    user's trailing session whose inactivity timer the final watermark
    never fired — the oracle computes exactly that complement with the
    same integer arithmetic as the timers op's emission oracle, so the
    READER itself is hash-checked end-to-end: key struct (user_id),
    groupState struct (start_us/last_us/n) and row count must all
    round-trip bit-exact through the store.

    The state's clamp-dependent ``timeoutTimestamp`` field is
    deliberately NOT exposed (the timer's wm+1 clamp makes it
    feed-dependent — see _session_timeout_track); the groupState
    fields are clamp-independent. At 100 TB: the reader plans one task
    per state-store shard (metadata-recorded numPartitions), no
    shuffle, no driver data — auditing is a parallel scan of the
    store, never a replay of the stream.

    The audited drain runs the replay in ONE data trigger (no
    maxFilesPerTrigger): the END-OF-STREAM state is trigger-split
    invariant (a timer whose due time the final watermark passed fires
    by the availableNow no-data batch regardless of how the feed was
    chopped — proven across random splits by
    tests/test_property_streaming.py), and the multi-batch replay
    attestation is stream_stateful_timers' job, not this op's. Measured
    r12: 7.36 s at mfpt=10 → ~3.5 s single-trigger, pure scheduler
    floor (README's drain cost split)."""
    from pymapreduce_spark.io import stable_scratch

    out = _timed_sessions(spark, sf_dir)
    chk = os.path.join(stable_scratch(sf_dir, "state_audit"), "chk")
    # The drained RESULT (the full timers emission) is never read —
    # only the checkpoint's state store is — so it is dropped here.
    drain(
        out,
        "append",
        checkpoint=chk,
        width=_stream_width(sf_dir, multi_trigger=False),
    )
    try:
        committed = any(
            f.isdigit() for f in os.listdir(os.path.join(chk, "commits"))
        )
    except OSError:
        committed = False
    if not committed:
        # zero-file replay (empty events — routine at scale): no
        # micro-batch ever COMMITTED (a no-data run can still log
        # progress), and the statestore reader refuses a commit-less
        # checkpoint (STDS_COMMITTED_BATCH_UNAVAILABLE, measured).
        # No committed batches ⇒ no state, exactly.
        return spark.createDataFrame(
            [],
            "user_id bigint, session_start timestamp_ntz, "
            "last_event timestamp_ntz, n_events bigint",
        )
    state = spark.read.format("statestore").load(chk)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.timestamp_micros(F.col("value.groupState.start_us"))
        .cast("timestamp_ntz")
        .alias("session_start"),
        F.timestamp_micros(F.col("value.groupState.last_us"))
        .cast("timestamp_ntz")
        .alias("last_event"),
        F.col("value.groupState.n").alias("n_events"),
    )


@query(
    "stream_join",
    oracle="""
    WITH cohorts(cohort_id, cohort_name) AS (VALUES
        (0, 'control'), (1, 'variant_a'), (2, 'variant_b'))
    SELECT cohort_name, event_type, count(*) AS n_events
    FROM events JOIN cohorts ON (user_id % 3) = cohort_id
    WHERE ts IS NOT NULL
    GROUP BY cohort_name, event_type
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2-J `stream_join` contract key: stream-static enrichment
    (the stream-stream variant is stream_join_stream)."""
    return stream_join_static(spark, sf_dir)


@query(
    "stream_sink",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND value > 200 AND ts IS NOT NULL
    """,
)
def stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2-J `stream_sink` contract key: arbitrary sink via
    foreachBatch (see stream_sink_foreachbatch)."""
    return stream_sink_foreachbatch(spark, sf_dir)


@query(
    "stream_progress_audit",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', ts::TIMESTAMP) AS day,
               count(*)::BIGINT AS input_rows
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT (row_number() OVER (ORDER BY day) - 1)::BIGINT AS batch_id,
           input_rows
    FROM d
    """,
)
def stream_progress_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability, hash-checked: drain the replay stream
    one file per micro-batch and return each batch's numInputRows from
    the StreamingQueryProgress feed. Because the replay layout is one
    day per file with day-ordered modification times (the file source
    lists by mod time), batch i IS day i — so the progress metrics an
    operator team alerts on are verifiable against a plain SQL
    aggregate, not just eyeballed. The collected progress list is
    bounded by the batch count (one row per batch), the same
    O(metrics) driver-side footprint any metrics sink has."""
    path = replay_dir(spark, sf_dir)
    schema = _replay_schema(spark, sf_dir)
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .drop("day")
    )
    q = _run(spark, s.writeStream.format("noop").trigger(availableNow=True))
    rows = [
        (i, int(p["numInputRows"]))
        for i, p in enumerate(
            p for p in q.recentProgress if p["numInputRows"] > 0
        )
    ]
    return spark.createDataFrame(
        rows, "batch_id long, input_rows long"
    )


def _hourly_counts(df: DataFrame) -> DataFrame:
    """The SHARED transform for stream_unified_api: identical code
    applied to a batch frame and a streaming frame."""
    return (
        df.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n",
        )
    )


@query(
    "stream_unified_api",
    oracle="""
    SELECT date_trunc('hour', ts::TIMESTAMP) AS hour,
           event_type,
           count(*) AS n_batch,
           count(*) AS n_stream,
           true AS matches
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_unified_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch/stream unification contract, proven: ONE transform
    function (hourly counts by type) is applied unchanged to the batch
    table AND to the replay stream; the two results are full-outer
    joined and every (hour, type) cell must agree — the property that
    makes Structured Streaming a re-usable batch plan rather than a
    second codebase. The oracle states the same claim declaratively:
    both counts equal the SQL aggregate and `matches` is uniformly
    true, so a divergence (late-batch loss, double-count on replay)
    fails the hash, not just an eyeball."""
    batch = _hourly_counts(load_table(spark, sf_dir, "events"))
    stream = drain(
        _hourly_counts(read_stream(spark, sf_dir)),
        "complete",
        width=_stream_width(sf_dir, multi_trigger=False),
    )
    b = batch.select(
        F.col("hour").alias("b_hour"),
        F.col("event_type").alias("b_et"),
        F.col("n").alias("n_batch"),
    )
    s = stream.select(
        F.col("hour").alias("s_hour"),
        F.col("event_type").alias("s_et"),
        F.col("n").alias("n_stream"),
    )
    # Null-SAFE join keys: a NULL event_type is a real group on both
    # sides; a plain USING join would fail to match the two NULL-group
    # rows and report a spurious batch/stream divergence for exactly
    # the dirty slice of the data.
    joined = b.join(
        s,
        b["b_hour"].eqNullSafe(s["s_hour"])
        & b["b_et"].eqNullSafe(s["s_et"]),
        "full",
    )
    return joined.select(
        F.coalesce("b_hour", "s_hour").alias("hour"),
        F.coalesce("b_et", "s_et").alias("event_type"),
        "n_batch",
        "n_stream",
        (
            F.col("n_batch").isNotNull()
            & F.col("n_stream").isNotNull()
            & (F.col("n_batch") == F.col("n_stream"))
        ).alias("matches"),
    )


@query(
    "stream_cdc_apply",
    oracle="""
    WITH latest AS (
        SELECT user_id,
               max(struct_pack(tsu := ts::TIMESTAMP, id := event_id,
                               et := event_type,
                               vc := TRY_CAST(round(value * 100) AS BIGINT))) AS c
        FROM events WHERE ts IS NOT NULL GROUP BY user_id
    )
    SELECT user_id,
           c.id AS last_event_id,
           c.et AS last_event_type,
           c.vc AS last_value_cents
    FROM latest
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the replay stream drains through
    foreachBatch, each micro-batch MERGED into a keyed state table
    (latest event per user, overwrite-on-key) persisted as parquet —
    the production upsert loop every streaming materialized view runs.
    Each merge is union(state, batch) → one partial-aggregable
    max-of-struct per key → atomic swap of the state directory. The
    final state must equal the batch argmax over ALL events (the
    oracle) — so both per-batch merge logic and cross-batch
    composition are under test, not just a single drain. At scale the
    state table is key-cardinality-sized and the merge shuffles only
    state+batch, never history."""
    import shutil

    from pymapreduce_spark.io import stable_scratch

    base = stable_scratch(sf_dir, "cdc_apply")
    state_dir = os.path.join(base, "state")
    pick = F.max(
        F.struct(
            F.col("ts").alias("tsu"),
            F.col("event_id").alias("id"),
            F.col("event_type").alias("et"),
            cents("value").alias("vc"),
        )
    ).alias("c")
    # State schema derived by PLANNING the merge shape on the batch
    # table (no execution): the state dir may be empty or absent when
    # the source had no events, so reads of it are schema-explicit.
    _state_schema = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .groupBy("user_id")
        .agg(pick)
        .schema
    )

    def merge(batch_df, batch_id):
        cur = batch_df.select(
            "user_id", "ts", "event_id", "event_type", "value"
        )
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            prev = read_back(
                batch_df.sparkSession, state_dir, _state_schema
            ).select(
                "user_id",
                F.col("c.tsu").alias("ts"),
                F.col("c.id").alias("event_id"),
                F.col("c.et").alias("event_type"),
                (F.col("c.vc") / 100.0).alias("value"),
            )
            cur = cur.unionByName(prev)
        merged = cur.groupBy("user_id").agg(pick)
        tmp = os.path.join(base, f"state_tmp_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)

    s = read_stream(spark, sf_dir, maxFilesPerTrigger=10)
    # The per-batch merge groupBy pays the query's shuffle width on
    # EVERY trigger (and writes that many state files) — start it under
    # the derived streaming width like drain() does; the foreachBatch
    # body runs on the query's copy of the conf.
    _run(
        spark,
        s.writeStream.foreachBatch(merge).trigger(availableNow=True),
        _stream_width(sf_dir),
        checkpoint=os.path.join(base, "chk"),
    )
    return read_back(spark, state_dir, _state_schema).select(
        "user_id",
        F.col("c.id").alias("last_event_id"),
        F.col("c.et").alias("last_event_type"),
        F.col("c.vc").alias("last_value_cents"),
    )


@query(
    "stream_session_watermarked",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS tsu,
               epoch_us(ts::TIMESTAMP) AS mu
        FROM events
        -- watermark starts at epoch 0: pre-1970 events are born late
        -- and dropped by every watermarked stateful op (stream_watermark
        -- doctrine); the batch twin drops them too
        WHERE ts IS NOT NULL
          AND ts::TIMESTAMP >= TIMESTAMP '1970-01-01 00:00:00'
    ), flagged AS (
        SELECT user_id, event_id, tsu, mu,
               CASE WHEN mu - lag(mu) OVER w > 1800000000
                         OR lag(mu) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, tsu,
               sum(is_new) OVER (
                   PARTITION BY user_id
                   ORDER BY tsu, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    ), sess AS (
        SELECT user_id, min(tsu) AS session_start,
               max(tsu) + INTERVAL 30 MINUTE AS session_end,
               count(*)::BIGINT AS n_events
        FROM s GROUP BY user_id, sid
    ), wm AS (
        SELECT max(ts::TIMESTAMP) - INTERVAL 2 HOUR AS w FROM events
    )
    SELECT user_id, session_start, session_end, n_events,
           TRUE AS matches_batch
    FROM sess, wm WHERE session_end <= wm.w
    """,
)
def stream_session_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows under a WATERMARK in APPEND mode — the
    bounded-state sessionization a 100 TB stream actually runs
    (stream_session's complete-mode form must retain every session ever
    seen; this one evicts a session the moment the watermark passes its
    end, so state is the ACTIVE sessions only — the --streamstate smoke
    measured complete-mode session state growing with the group count,
    which is exactly the curve this op exists to avoid).

    HASH-CHECKED via the stream_watermark doctrine: availableNow's
    final watermark commit advances past the last batch's max event
    time, so the append emission set is the deterministic batch set
    {sessions: end ≤ max(ts) − 2h} — Spark merges session fragments
    across micro-batches in state, and since the day-ordered replay
    never delivers an event older than the previous batch's watermark,
    the merged result equals the batch sessionization (llm_sessionize's
    window form) restricted to finalized sessions. The oracle computes
    exactly that; ``matches_batch`` additionally proves each emitted
    session is COMPLETE (its event count equals the batch twin's, via a
    null-safe user key — NULL-user sessions are real sessions).

    Trigger cadence is DERIVED (r14, see ``derived_mfpt``): the append
    emission set is {sessions: end ≤ final watermark} whatever the
    batch boundaries — Spark merges session fragments in state across
    triggers and the day-ordered replay never delivers late events —
    so fewer, larger micro-batches leave the emitted set (and the
    completeness join) unchanged while amortizing the per-trigger
    state commit floor."""
    s = read_stream(
        spark, sf_dir, maxFilesPerTrigger=derived_mfpt(spark, sf_dir)
    ).where(F.col("ts").isNotNull())
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )
    emitted = drain(out, "append", width=_stream_width(sf_dir))

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
    )
    twin = (
        ev.withColumn("sid", _gap_session_id())
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias(
                "session_end"
            ),
            F.count("*").alias("twin_n"),
        )
        .drop("sid")
        .withColumnRenamed("user_id", "twin_user")
    )
    cond = (
        emitted.user_id.eqNullSafe(twin.twin_user)
        & (emitted.session_start == twin.session_start)
        & (emitted.session_end == twin.session_end)
    )
    # Count-gated broadcast (house rule — an explicit hint is honored
    # REGARDLESS of size, AQE never demotes it): the twin is the full
    # session set, which scales with the corpus. At fixture scale it is
    # a few-MB dim; at the 100× streamstate smoke it is ~9.5 M rows and
    # an ungated hint wedged the join building the broadcast table.
    from pymapreduce_spark.io import table_row_count

    if table_row_count(sf_dir, "events") <= 2_000_000:
        twin = F.broadcast(twin)
    return (
        emitted.join(twin, cond, "left")
        .withColumn(
            "matches_batch",
            F.col("n_events") == F.coalesce("twin_n", F.lit(-1)),
        )
        .select(
            emitted.user_id,
            emitted.session_start,
            emitted.session_end,
            "n_events",
            "matches_batch",
        )
    )
