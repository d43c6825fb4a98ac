"""Streaming scenario tests that the replay-based oracles can't cover:
late-data dropping under a watermark with a controlled two-file replay,
and batch-equivalence spot checks (SURVEY §5.3)."""

from __future__ import annotations

import ast
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

import pymapreduce_spark  # noqa: F401
from pymapreduce_spark.registry import QUERIES

_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Three files replayed in order. Spark's watermark advances at
    batch boundaries and takes effect one batch later, so the late event
    arrives in batch 3 — well after the watermark passed its window —
    and must NOT be counted (its hour stays at 1)."""
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    rows1 = [(i, f"2024-01-01 {h:02d}:00:01", "x") for i, h in enumerate(range(12))]
    # benign file: lets the already-computed watermark take effect
    rows2 = [(50, "2024-01-01 11:30:00", "x")]
    # late event: hour 01 again, delivered two batches after hour 11
    rows3 = [(100, "2024-01-01 01:00:02", "late"), (101, "2024-01-01 12:00:01", "x")]

    def write_file(rows, name, mtime):
        df = spark.createDataFrame(rows, "event_id long, ts_s string, tag string")
        df = df.select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "tag")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = str(tmp_path / name)
        for f in os.listdir(part):
            if f.endswith(".parquet"):
                dst = os.path.join(src, name + ".parquet")
                os.rename(os.path.join(part, f), dst)
                os.utime(dst, (mtime, mtime))

    write_file(rows1, "f1", 1_700_000_000)
    write_file(rows2, "f2", 1_700_000_100)
    write_file(rows3, "f3", 1_700_000_200)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    name = f"late_test_{int(time.time()*1000)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.ws.isoformat(): r.n for r in spark.table(name).collect()}
    # hour 01 was finalized with exactly 1 event; the late duplicate of
    # hour 01 must not have been added.
    assert got.get("2024-01-01T01:00:00") == 1, got


def test_stream_tumbling_equals_batch(spark, sf_dir):
    """Drained stream result == the batch windowed aggregate, computed
    independently Spark-side (not just the DuckDB oracle)."""
    from pymapreduce_spark.io import load_table

    streamed = QUERIES["stream_tumbling"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_watermark_emits_finalized_prefix(spark, sf_dir):
    """Append-mode watermarked windows: emitted set must be a prefix of
    the batch windows (nothing fabricated), and re-running must be
    deterministic."""
    from pymapreduce_spark.io import load_table

    a = {
        (r.window_start, r.n_events)
        for r in QUERIES["stream_watermark"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r.ws, r.n)
        for r in ev.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), F.col("n"))
        .collect()
    }
    assert a <= batch
    assert len(a) > 0
    b = {
        (r.window_start, r.n_events)
        for r in QUERIES["stream_watermark"](spark, sf_dir).collect()
    }
    assert a == b


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across a restart: drain half the replay files into a
    parquet sink with a checkpoint, add the rest, resume with the SAME
    checkpoint — the second run must process only the new files and the
    final sink must equal the batch result with zero duplicates. This is
    the recovery contract a production file→sink topology relies on."""
    import shutil

    from pymapreduce_spark.io import load_table
    from pymapreduce_spark.streaming.core import replay_dir

    replay = replay_dir(spark, sf_dir)
    days = sorted(d for d in os.listdir(replay) if d.startswith("day="))
    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    src.mkdir()

    def arm(day_subset):
        for d in day_subset:
            if not (src / d).exists():
                shutil.copytree(os.path.join(replay, d), src / d)

    def run_once():
        schema = spark.read.parquet(replay).schema
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(str(src))
            .drop("day")
        )
        if dict(s.dtypes).get("ts") == "timestamp_ntz":
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        s = s.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "value"
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    half = len(days) // 2
    arm(days[:half])
    rows_first = run_once()
    arm(days)  # add the remaining days
    rows_second = run_once()

    got = spark.read.parquet(sink)
    ev = load_table(spark, sf_dir, "events")
    n_batch = ev.where(F.col("event_type") == "purchase").count()
    assert got.count() == n_batch  # nothing lost, nothing duplicated
    assert got.select("event_id").distinct().count() == n_batch
    # the restart resumed from the checkpoint: source-side numInputRows
    # across both runs sums to EXACTLY the event total — a restart that
    # reprocessed the first half would exceed it
    n_events = ev.count()
    assert rows_first + rows_second == n_events
    assert 0 < rows_first < n_events and 0 < rows_second < n_events


def test_stream_python_ds_replay_between_offsets(spark, tmp_path):
    """Round-9 verdict task 3: the Python Data Source stream's
    ``readBetweenOffsets`` — the exactly-once REPLAY contract the
    docstring advertises — driven for real, not just the happy
    single-``read()`` availableNow path.

    Engineering the replay: a SimpleDataSourceStreamReader's offsets
    are written to the checkpoint WAL *before* the batch runs, and the
    prefetch cache lives in the query's reader instance. So a batch
    that FAILS after offset-logging (foreachBatch raises) leaves a
    planned-but-uncommitted range in the WAL; the restarted query's
    fresh reader has an empty cache and MUST reproduce exactly that
    range via readBetweenOffsets(start, end). Bounded 512-row slices
    per read() make the drain multi-restart (availableNow snapshots one
    prefetch per run), so the committed-offset resume is also exercised
    on every subsequent run."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    n_total, slice_rows = 2048, 512
    marker = str(tmp_path / "replay_invoked")
    ckpt = str(tmp_path / "ckpt")

    class _Reader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"k": 0}

        def read(self, start):
            k0 = int(start["k"])
            k1 = min(k0 + slice_rows, n_total)
            rows = [(k, k % 10) for k in range(k0, k1)]
            return iter(rows), {"k": k1}

        def readBetweenOffsets(self, start, end):
            with open(marker, "a") as fh:
                fh.write(f"{start['k']}..{end['k']}\n")
            return iter(
                (k, k % 10) for k in range(int(start["k"]), int(end["k"]))
            )

    class _Source(DataSource):
        @classmethod
        def name(cls):
            return "pymr_replay_probe"

        def schema(self):
            return "k bigint, bucket bigint"

        def simpleStreamReader(self, schema):
            return _Reader()

    spark.dataSource.register(_Source)
    seen: list[int] = []

    def run(on_batch):
        q = (
            spark.readStream.format("pymr_replay_probe")
            .load()
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    def fail_batch(df, epoch_id):
        raise RuntimeError("injected failure after offset WAL write")

    def collect_batch(df, epoch_id):
        seen.extend(r["k"] for r in df.collect())

    # Run 1: offsets [0, 512) hit the WAL, the batch fails uncommitted.
    with pytest.raises(Exception):
        run(fail_batch)
    # Restarts drain the rest; cap generously (one slice per run).
    for _ in range(2 * (n_total // slice_rows) + 2):
        run(collect_batch)
        if len(seen) >= n_total:
            break

    # Exactly-once across the failure boundary: every k exactly once.
    assert sorted(seen) == list(range(n_total))
    # And the replay leg actually ran — the restarted reader served the
    # WAL-planned-but-uncommitted range through readBetweenOffsets.
    assert os.path.exists(marker), "readBetweenOffsets never invoked"
    first_replay = open(marker).read().splitlines()[0]
    assert first_replay == f"0..{slice_rows}"


def test_registered_stream_python_ds_replay(spark, tmp_path):
    """r10 verdict #4: the REGISTERED ``pymr_synthetic_log_stream``
    reader (not a purpose-built probe) driven through its
    ``readBetweenOffsets`` replay leg. Bounded 512-row slices make the
    availableNow drain multi-restart; an injected foreachBatch failure
    after the first offset WAL write leaves a planned-but-uncommitted
    range that the restarted query's fresh reader MUST reproduce via
    the registered class's replay method — the marker file records the
    ranges it actually served."""
    from pymapreduce_spark.sources.scans import (
        register_synthetic_log_stream,
    )

    n_total, slice_rows = 2048, 512
    marker = str(tmp_path / "replay_invoked")
    ckpt = str(tmp_path / "ckpt")
    register_synthetic_log_stream(spark)
    seen: list[int] = []

    def run(on_batch):
        q = (
            spark.readStream.format("pymr_synthetic_log_stream")
            .option("n", str(n_total))
            .option("slice", str(slice_rows))
            .option("replay_marker", marker)
            .load()
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    def fail_batch(df, epoch_id):
        raise RuntimeError("injected failure after offset WAL write")

    def collect_batch(df, epoch_id):
        seen.extend(r["k"] for r in df.collect())

    # Run 1: offsets [0, 512) hit the WAL, the batch fails uncommitted.
    with pytest.raises(Exception):
        run(fail_batch)
    # Restarts drain the rest; cap generously (one slice per run).
    for _ in range(2 * (n_total // slice_rows) + 2):
        run(collect_batch)
        if len(seen) >= n_total:
            break

    # Exactly-once across the failure boundary, lossless restart.
    assert sorted(seen) == list(range(n_total))
    # The registered reader's replay leg fired on the WAL-planned range.
    assert os.path.exists(marker), (
        "the registered reader's readBetweenOffsets never invoked"
    )
    first_replay = open(marker).read().splitlines()[0]
    assert first_replay == f"0..{slice_rows}"
    # Value integrity of the replayed payload: the full drain's v-sum
    # equals the deterministic sequence's.
    assert sum((k * 2654435761) % 1000003 for k in seen) == sum(
        (k * 2654435761) % 1000003 for k in range(n_total)
    )


def test_legacy_clamp_branch_divergence():
    """The session-timeout state machine (_session_timeout_track) with a
    fake GroupState, on both timer branches.

    Unclamped: a gap split across two batches emits the closed session;
    the timer is armed at the pinned ceil-to-ms due time; the timed-out
    call emits the trailing session once and evicts its state.

    Clamped (round-11 ADVICE #2): when the batch's session due time is
    already at/below the current watermark (a born-late event), the
    timer can only arm at ``wm+1``, so the session is emitted only once
    the watermark advances PAST ``wm+1`` — later than the oracle's
    strict ``wm > due`` boundary. This pins the divergence as
    designed-and-documented (streaming/core.py clamp comment) rather
    than silent."""
    import numpy as np
    import pandas as pd

    from pymapreduce_spark.streaming.core import (
        _SESSION_GAP_US,
        _session_due_ms,
        _session_timeout_track,
    )

    class FakeGroupState:
        def __init__(self, wm_ms):
            self.v = None
            self.hasTimedOut = False
            self.timeout = None
            self.wm = wm_ms

        @property
        def exists(self):
            return self.v is not None

        @property
        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def remove(self):
            self.v = None

        def setTimeoutTimestamp(self, t):
            assert t > self.wm, "Spark rejects timeouts at/below the wm"
            self.timeout = t

        def getCurrentWatermarkMs(self):
            return self.wm

    def batch(ts_us):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime(pd.Series(ts_us), unit="us"),
                "event_id": range(len(ts_us)),
            }
        )

    def session(start_us, last_us, n):
        def us(v):
            return np.array([v], dtype="int64").view("datetime64[us]")

        return pd.DataFrame(
            {
                "user_id": np.array([42], dtype="int64"),
                "session_start": us(start_us),
                "session_end": us(last_us + _SESSION_GAP_US),
                "n_events": np.array([n], dtype="int64"),
            }
        )

    base = 1_600_000_000_000_000  # some µs epoch
    gap = _SESSION_GAP_US
    # batch 1: two events 10 min apart; batch 2: a gap split then one
    # more event in the new session (non-ms-aligned µs on purpose)
    first_last = base + 600_000_000 + 3
    second = [first_last + gap + 5, first_last + gap + 10]
    st = FakeGroupState(0)
    b1 = batch([base + 1, first_last])
    assert list(_session_timeout_track((42,), iter([b1]), st)) == []
    out = list(_session_timeout_track((42,), iter([batch(second)]), st))
    assert len(out) == 1
    pd.testing.assert_frame_equal(out[0], session(base + 1, first_last, 2))
    assert st.v == (second[0], second[1], 2)
    # the pinned ceil-to-ms due time of the trailing session
    assert st.timeout == _session_due_ms(second[1])
    assert st.timeout == -((-(second[1] + gap)) // 1000)
    st.hasTimedOut = True
    out = list(_session_timeout_track((42,), iter([]), st))
    assert len(out) == 1
    pd.testing.assert_frame_equal(out[0], session(second[0], second[1], 2))
    assert st.v is None  # state evicted on firing

    b = batch([base + 1])
    due = _session_due_ms(base + 1)
    # watermark already an hour past the session's due time at update
    wm = due + 3_600_000
    st = FakeGroupState(wm)
    out = list(_session_timeout_track((42,), iter([b]), st))
    assert out == []  # no gap split in a single-event batch
    # CLAMPED: armed at wm+1, NOT at the (already-passed) due time —
    # this is exactly the boundary shift the docstring documents
    assert st.timeout == wm + 1
    assert st.timeout > due
    # the oracle's boundary would have emitted at any wm' > due; the
    # track stays silent until Spark fires the wm+1 timeout (i.e.
    # under-emits if the watermark never advances past wm+1)


def test_session_fold_out_of_order_in_gap():
    """Round-11 ADVICE #1: an in-gap out-of-order event arriving in a
    LATER micro-batch (mu < last) must not move the session end
    backward — ``last`` is the max event time, matching the oracle's
    max(mu), so subsequent gap splits stay aligned."""
    import numpy as np

    from pymapreduce_spark.streaming.core import (
        _SESSION_GAP_US,
        _session_fold_events,
    )

    # the fold's r14 input contract: sorted int64 µs (the
    # _concat_sorted output)
    def ts(us_list):
        return np.array(us_list, dtype="int64")

    base = 1_600_000_000_000_000
    closed: list = []
    # batch 1 ends the session at base+600s
    start, last, n = _session_fold_events(
        ts([base, base + 600_000_000]), None, None, 0, closed
    )
    assert (start, last, n) == (base, base + 600_000_000, 2)
    # batch 2: one in-gap event 10 min EARLIER than the session end
    start, last, n = _session_fold_events(
        ts([base + 1_000]), start, last, n, closed
    )
    assert last == base + 600_000_000, "session end moved backward"
    assert n == 3 and closed == []
    # a next event GAP+1µs after the true max must split — with the
    # backward-moving bug it would have been absorbed into the session
    split_at = base + 600_000_000 + _SESSION_GAP_US + 1
    start, last, n = _session_fold_events(
        ts([split_at]), start, last, n, closed
    )
    assert closed == [(base, base + 600_000_000, 3)]
    assert (start, last, n) == (split_at, split_at, 1)


def test_concat_sorted_and_emit_pdf_vectorized_values():
    """r14 per-key vectorization (guide §4.2): _concat_sorted returns
    the globally-sorted int64 µs array across chunks of EITHER pandas
    timestamp unit (ns is Spark's Arrow default, us is pandas-2
    native), flooring exactly like Timestamp.value // 1000 did; and
    _session_emit_pdf's datetime64[us] columns carry the same values
    the per-value pd.Timestamp(x, unit='us') construction produced."""
    import numpy as np
    import pandas as pd

    from pymapreduce_spark.streaming.core import (
        _SESSION_GAP_US,
        _concat_sorted,
        _session_emit_pdf,
    )

    base = 1_600_000_000_000_000 + 123  # non-ms-aligned µs on purpose
    # chunk A in ns unit, deliberately out of time order vs chunk B
    a = pd.DataFrame(
        {"ts": pd.to_datetime(pd.Series([base + 50, base + 10]), unit="us")}
    )
    assert a["ts"].values.dtype == np.dtype("datetime64[ns]")
    b = pd.DataFrame(
        {"ts": pd.Series(np.array([base + 20], dtype="datetime64[us]"))}
    )
    empty = a.iloc[:0]
    mus = _concat_sorted(iter([a, empty, b]))
    assert mus.dtype == np.dtype("int64")
    assert mus.tolist() == [base + 10, base + 20, base + 50]
    assert _concat_sorted(iter([empty])) is None

    out = _session_emit_pdf(42, [(base, base + 7, 3), (base + 9, base + 11, 1)])
    assert out["user_id"].tolist() == [42, 42]
    assert out["n_events"].tolist() == [3, 1]
    assert out["session_start"].tolist() == [
        pd.Timestamp(base, unit="us"),
        pd.Timestamp(base + 9, unit="us"),
    ]
    assert out["session_end"].tolist() == [
        pd.Timestamp(base + 7 + _SESSION_GAP_US, unit="us"),
        pd.Timestamp(base + 11 + _SESSION_GAP_US, unit="us"),
    ]
    # NULL grouping key keeps the nullable object column — for BOTH
    # null spellings (None, and the float NaN the stateful key tuple
    # delivers; an int64 cast would turn NaN into INT64_MIN)
    out_null = _session_emit_pdf(None, [(base, base + 7, 3)])
    assert out_null["user_id"].tolist() == [None]
    out_nan = _session_emit_pdf(float("nan"), [(base, base + 7, 3)])
    assert out_nan["user_id"].tolist() == [None]


def test_fold_correct_when_key_spans_arrow_chunks(spark, duck, sf_dir):
    """r13 find: the per-key iterator delivers a key's rows in multiple
    Arrow chunks once a partition's data crosses the Arrow batch limit,
    and chunk order does not follow event time — a chunk-by-chunk fold
    mis-splits sessions (one user's trailing n_events read 13 instead
    of 1 at sf0.1 under a 4-partition drain). Force the regime hard at
    sf0.01 — ONE state partition, 200-row Arrow chunks — and require
    the timers op to still match its DuckDB oracle exactly."""
    from pymapreduce_spark.registry import ORACLES, QUERIES
    from pymapreduce_spark.testing import duck_rows, spark_rows

    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_arrow = spark.conf.get(arrow_key)
    os.environ["SPARK_GRAFT_STREAM_PARTITIONS"] = "1"
    spark.conf.set(arrow_key, "200")
    try:
        got = spark_rows(QUERIES["stream_stateful_timers"](spark, sf_dir))
    finally:
        del os.environ["SPARK_GRAFT_STREAM_PARTITIONS"]
        spark.conf.set(arrow_key, old_arrow)
    assert got == duck_rows(duck, ORACLES["stream_stateful_timers"])


# --- one start site, no state carried between drains --------------------


def _rows(df) -> list:
    from pymapreduce_spark.testing import canon_cell

    return sorted(tuple(canon_cell(x) for x in r) for r in df.collect())


def _oracle_rows(duck, name: str) -> list:
    from pymapreduce_spark.registry import ORACLES
    from pymapreduce_spark.testing import canon_cell

    return sorted(
        tuple(canon_cell(x) for x in r)
        for r in duck.execute(ORACLES[name]).fetchall()
    )


def _progress_of(spark, fn) -> tuple:
    """``fn()``'s result and the progress of the streams it ran, read by
    a listener on the session (scale_smoke's reader)."""
    from scale_smoke import StreamRuns

    runs = StreamRuns()
    spark.streams.addListener(runs)
    try:
        mark = len(runs.started)
        out = fn()
        return out, runs.progress_since(mark, timeout=120)
    finally:
        spark.streams.removeListener(runs)


def test_stream_width_does_not_leak_into_the_next_drain(spark, sf_dir):
    """A width pinned for one op reaches that op's drain only: a later
    drain that asks for no width runs at the session width."""
    from pymapreduce_spark.streaming.core import (
        _replay_schema,
        drain,
        replay_dir,
    )

    os.environ["SPARK_GRAFT_STREAM_PARTITIONS"] = "1"
    try:
        QUERIES["stream_stateful_timers"](spark, sf_dir).count()
    finally:
        del os.environ["SPARK_GRAFT_STREAM_PARTITIONS"]
    s = spark.readStream.schema(_replay_schema(spark, sf_dir)).parquet(
        replay_dir(spark, sf_dir)
    )
    _, progress = _progress_of(
        spark,
        lambda: drain(s.groupBy("event_type").count(), "complete").collect(),
    )
    widths = {
        so["numShufflePartitions"]
        for p in progress
        for so in p["stateOperators"]
    }
    assert widths == {int(spark.conf.get("spark.sql.shuffle.partitions"))}


def test_drain_leaves_no_sink_view(spark, duck, sf_dir):
    df = QUERIES["stream_tumbling"](spark, sf_dir)
    left = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("stream_result_")
    ]
    assert left == []
    assert _rows(df) == _oracle_rows(duck, "stream_tumbling")


def test_state_audit_reader_matches_listener_progress(spark, sf_dir):
    """The statestore reader's rows equal the audited drain's final
    numRowsTotal, read from a listener (scale_smoke --streamstate's
    reader check at base scale)."""
    reader, progress = _progress_of(
        spark, lambda: QUERIES["stream_state_audit"](spark, sf_dir)
    )
    state_rows = [
        so["numRowsTotal"] for p in progress for so in p["stateOperators"]
    ]
    assert state_rows and reader.count() == state_rows[-1]


def test_batch_and_stream_ops_run_concurrently_on_one_session(spark, sf_dir):
    """Four threads on one session run batch ops, a narrowed
    multi-trigger drain and a single-trigger drain at session width;
    every result equals its serial result, and the session width and
    checkpoint manager conf end where they began."""
    ops = (
        "q1_pricing_summary",
        "api_wordcount",
        "stream_stateful_timers",
        "stream_state_audit",
    )
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    serial = {op: _rows(QUERIES[op](spark, sf_dir)) for op in ops}
    barrier = threading.Barrier(4)
    got: list = []
    errors: list = []

    def client(i: int) -> None:
        barrier.wait()
        try:
            for r in range(2):
                for k in range(len(ops)):
                    op = ops[(i + r + k) % len(ops)]
                    got.append((op, _rows(QUERIES[op](spark, sf_dir))))
        except BaseException as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not [t for t in threads if t.is_alive()]
    assert not errors, errors
    assert len(got) == 4 * 2 * len(ops)
    assert [op for op, rows in got if rows != serial[op]] == []
    assert spark.conf.get(key) == width
    assert spark.conf.get(_MANAGER_CONF, None) is None


def test_streaming_core_has_one_start_site_and_no_globals():
    from pymapreduce_spark.streaming import core

    with open(core.__file__, encoding="utf-8") as fh:
        src = fh.read()
    globals_ = [
        n.lineno
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Global)
    ]
    assert globals_ == []
    assert src.count(".start(") == 1


# --- the checkpoint file manager a drain starts with ----------------------

class _ConfRecordingWriter:
    """A DataStreamWriter stand-in whose start() and awaitTermination()
    record the session's checkpoint manager conf."""

    def __init__(self, spark):
        self.spark = spark
        self.options: dict = {}
        self.seen: list = []

    def option(self, key, value):
        self.options[key] = value
        return self

    def _record(self):
        self.seen.append(self.spark.conf.get(_MANAGER_CONF, None))

    def start(self):
        self._record()
        return self

    def awaitTermination(self):
        self._record()


def test_local_checkpoint_starts_on_the_filesystem_manager(spark, tmp_path):
    """A query whose checkpoint root is local runs with the FileSystem
    checkpoint manager; an hdfs root, or a manager the host named, is
    left alone; the session conf ends as it began, unset included."""
    from pymapreduce_spark.streaming.core import _run

    def run(checkpoint=None):
        w = _ConfRecordingWriter(spark)
        _run(spark, w, checkpoint=checkpoint)
        return w

    local = str(tmp_path / "chk")
    w = run(local)
    assert w.seen == [_FS_MANAGER, _FS_MANAGER]
    assert w.options == {"checkpointLocation": local}
    for root in (None, f"file://{local}", "relative/chk"):
        assert run(root).seen == [_FS_MANAGER, _FS_MANAGER], root
    assert run("hdfs://namenode:8020/chk").seen == [None, None]
    assert spark.conf.get(_MANAGER_CONF, None) is None

    # the session's own checkpoint root and default filesystem count too
    for key, value, root in (
        ("spark.sql.streaming.checkpointLocation", "hdfs://nn:8020/c", None),
        ("fs.defaultFS", "hdfs://nn:8020", "/tmp/chk"),
    ):
        spark.conf.set(key, value)
        try:
            assert run(root).seen == [None, None], key
        finally:
            spark.conf.unset(key)
        assert run(root).seen == [_FS_MANAGER, _FS_MANAGER], key

    spark.conf.set(_MANAGER_CONF, "org.example.HostManager")
    try:
        assert run(local).seen == ["org.example.HostManager"] * 2
        assert spark.conf.get(_MANAGER_CONF) == "org.example.HostManager"
    finally:
        spark.conf.unset(_MANAGER_CONF)
    assert spark.conf.get(_MANAGER_CONF, None) is None


def _checkpoint_files(root: str) -> set:
    """Every file under a checkpoint, relative, with uuids masked."""
    import re

    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    return {
        uuid.sub("<uuid>", os.path.relpath(os.path.join(d, f), root))
        for d, _, files in os.walk(root)
        for f in files
    }


def test_state_audit_checkpoint_files_match_the_default_manager(
    spark, sf_dir, monkeypatch
):
    """stream_state_audit starts on the FileSystem manager and writes the
    same checkpoint files, every Hadoop .crc and Spark checksum file
    included, as a run the host starts on Spark's default FileContext
    manager; both runs read back the same state."""
    from pyspark.sql.streaming import DataStreamWriter

    from pymapreduce_spark.streaming import core

    seen: list = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        seen.append(spark.conf.get(_MANAGER_CONF, None))
        return start(self, *args, **kwargs)

    roots: list = []
    run = core._run

    def recording_run(*args, **kwargs):
        roots.append(kwargs.get("checkpoint"))
        return run(*args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    monkeypatch.setattr(core, "_run", recording_run)
    ours = _rows(QUERIES["stream_state_audit"](spark, sf_dir))
    spark.conf.set(_MANAGER_CONF, _FC_MANAGER)
    try:
        default = _rows(QUERIES["stream_state_audit"](spark, sf_dir))
    finally:
        spark.conf.unset(_MANAGER_CONF)
    assert seen == [_FS_MANAGER, _FC_MANAGER]
    assert ours == default
    files, default_files = (_checkpoint_files(r) for r in roots)
    assert files == default_files
    hadoop_crc = {f for f in files if os.path.basename(f).startswith(".")}
    spark_checksums = {f for f in files if f.endswith(".delta.crc")}
    assert hadoop_crc and spark_checksums


def test_timers_drain_starts_no_readlink_process(spark, sf_dir):
    """Hadoop's local filesystem without libhadoop starts a process for
    every readlink and chmod. A warm stream_stateful_timers call renames
    its checkpoint files without a readlink process and starts at most a
    quarter of the processes a call on the default manager starts."""
    from conftest import jvm_process_starts

    op = QUERIES["stream_stateful_timers"]
    op(spark, sf_dir).collect()
    with jvm_process_starts(spark) as ours:
        op(spark, sf_dir).collect()
    spark.conf.set(_MANAGER_CONF, _FC_MANAGER)
    try:
        with jvm_process_starts(spark) as default:
            op(spark, sf_dir).collect()
    finally:
        spark.conf.unset(_MANAGER_CONF)
    readlinks = [
        cmd for cmd, frames in ours
        if "org.apache.hadoop.fs.FileUtil.readLink" in frames
    ]
    assert readlinks == []
    assert 4 * len(ours) <= len(default), (len(ours), len(default))
