"""Streaming property-differential harness (round-11 verdict task 7).

The batch cogroup chains got property-differential coverage in r10;
streaming ops only had fixed scenarios. This randomizes the three
parameters the timer-sessionization oracles are closed-form in —
WATERMARK DELAY, INACTIVITY GAP, and FILE-SPLIT (how the time-ordered
feed is chopped into micro-batches) — and differentials the session
emission set against a parameterized DuckDB oracle, two ways:

1. **Simulator leg (400 seeded examples)**: the REAL track function
   (``_make_session_timeout_track(gap)``) driven through a faithful
   micro-batch simulator that mirrors Spark's applyInPandasWithState
   event-time-timeout semantics — watermark advances to
   ``floor(max_seen_us/1000) - delay_ms`` AFTER each batch, keys with
   data get a data call (timer re-armed), expired keys without data
   get a ``hasTimedOut`` call, timeouts fire on STRICTLY-greater
   watermark, and availableNow runs a final no-data batch at the final
   watermark. Milliseconds per example, so the entropy budget goes
   where it is cheap.
2. **Real-drain leg (24 seeded examples)**: the same generator run
   through an ACTUAL Spark structured stream (parquet file source,
   random maxFilesPerTrigger, real state store, real timers) — proving
   the simulator is faithful to the machinery it models, across a
   random parameter sample.

Feeds are time-contiguous across batches (sorted events chopped at
random indices, shuffled WITHIN a batch) — the day-ordered replay
contract the registered ops and their oracles share; born-late feeds
are excluded by construction because the legacy clamp's divergence
there is known and separately pinned
(test_legacy_clamp_branch_divergence). Derandomized boundary cases are
pinned explicitly below (exact-gap, gap+1µs, wm==due, wm==due+1ms,
duplicate (user, ts) straddling a batch split — the r11 found-bug
class).
"""

from __future__ import annotations

import os
import random

import pytest

from pymapreduce_spark.streaming.core import (
    _make_session_timeout_track,
    _session_due_ms,
)

SEED = 0x512CAFE
N_SIM_EXAMPLES = 400
N_DRAIN_EXAMPLES = 24

_BASE_US = 1_700_000_000_000_000  # µs epoch, far above the initial wm=0


# --- generator --------------------------------------------------------


def _gen_example(rng: random.Random) -> dict:
    """One random scenario: events (time-sorted), gap, delay, splits."""
    gap_us = rng.choice(
        [60, 300, 1800, 7200, rng.randint(30, 10_000)]
    ) * 1_000_000 + rng.choice([0, 0, rng.randint(-999_999, 999_999)])
    gap_us = max(gap_us, 1_000_000)
    delay_ms = rng.choice(
        [0, 1_000, 600_000, 7_200_000, rng.randint(1, 10_000) * 1000]
    )
    users = [None] if rng.random() < 0.15 else []
    users += list(range(rng.randint(1, 4)))
    events = []
    eid = 0
    for u in users:
        t = _BASE_US + rng.randint(0, 3_600_000_000)
        for _ in range(rng.randint(1, 25)):
            events.append((u, eid, t))
            eid += 1
            r = rng.random()
            if r < 0.15:
                delta = gap_us  # exactly the gap: must NOT split
            elif r < 0.30:
                delta = gap_us + 1  # 1µs past: must split
            elif r < 0.40:
                delta = 0  # duplicate timestamp (event_id tie-break)
            else:
                delta = rng.randint(1, 2 * gap_us)
            t += delta
    events.sort(key=lambda e: (e[2], e[1]))
    # chop the time-ordered feed at random indices (time-contiguous
    # batches — the replay contract); order WITHIN a batch is shuffled
    n_batches = rng.randint(1, min(6, len(events)))
    cuts = sorted(rng.sample(range(1, len(events)), n_batches - 1)) if (
        n_batches > 1
    ) else []
    batches = []
    prev = 0
    for c in cuts + [len(events)]:
        chunk = events[prev:c]
        rng.shuffle(chunk)
        batches.append(chunk)
        prev = c
    return {
        "gap_us": gap_us,
        "delay_ms": delay_ms,
        "events": events,
        "batches": batches,
    }


# --- the DuckDB closed-form oracle ------------------------------------


def _oracle_sessions(events, gap_us: int, delay_ms: int) -> set:
    """The batch-computed emission set, in DuckDB, with the same
    integer arithmetic as stream_stateful_timers' registered oracle —
    gap/delay parameterized."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (user_id BIGINT, event_id BIGINT, mu BIGINT)"
    )
    con.executemany(
        "INSERT INTO ev VALUES (?, ?, ?)",
        [(u, i, t) for u, i, t in events],
    )
    rows = con.execute(
        f"""
        WITH flagged AS (
            SELECT user_id, event_id, mu,
                   CASE WHEN mu - lag(mu) OVER w > {gap_us}
                             OR lag(mu) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY mu, event_id)
        ), s AS (
            SELECT user_id, mu,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY mu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        ), sess AS (
            SELECT user_id, sid, min(mu) AS start_mu, max(mu) AS last_mu,
                   count(*)::BIGINT AS n,
                   max(sid) OVER (PARTITION BY user_id) AS last_sid
            FROM s GROUP BY user_id, sid
        ), wm AS (
            SELECT max(mu) // 1000 - {delay_ms} AS wm_ms FROM ev
        )
        SELECT user_id, start_mu, last_mu + {gap_us} AS end_mu, n
        FROM sess, wm
        WHERE sid < last_sid
           OR wm.wm_ms > (last_mu + {gap_us} + 999) // 1000
        """
    ).fetchall()
    con.close()
    return {(u, s, e, n) for u, s, e, n in rows}


# --- leg 1: the faithful micro-batch simulator ------------------------


class _FakeGroupState:
    def __init__(self, wm_ms: int):
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


def _simulate(batches, gap_us: int, delay_ms: int) -> set:
    """Drive the real track function through Spark's
    applyInPandasWithState availableNow semantics."""
    import pandas as pd

    track = _make_session_timeout_track(gap_us)
    states: dict = {}  # user -> _FakeGroupState
    out = []
    wm = 0  # Spark's initial event-time watermark
    max_mu_seen = None

    def run_key(u, pdf_or_none, wm_ms):
        st = states.get(u)
        if st is None:
            st = states[u] = _FakeGroupState(wm_ms)
        st.wm = wm_ms
        pdfs = [] if pdf_or_none is None else [pdf_or_none]
        out.extend(track((u,), iter(pdfs), st))

    for chunk in batches:
        # watermark for THIS batch comes from data seen in PRIOR ones
        if max_mu_seen is not None:
            wm = max(wm, max_mu_seen // 1000 - delay_ms)
        by_user: dict = {}
        for u, i, t in chunk:
            by_user.setdefault(u, []).append((t, i))
        # expired keys WITHOUT data this batch get the timeout call
        for u, st in states.items():
            if (
                u not in by_user
                and st.exists
                and st.timeout is not None
                and wm > st.timeout
            ):
                st.hasTimedOut = True
                run_key(u, None, wm)
                st.hasTimedOut = False
                st.timeout = None
        for u, evs in by_user.items():
            pdf = pd.DataFrame(
                {
                    "ts": pd.to_datetime(
                        pd.Series([t for t, _ in evs]), unit="us"
                    ),
                    "event_id": [i for _, i in evs],
                }
            )
            run_key(u, pdf, wm)
        batch_max = max(t for _u, _i, t in chunk)
        max_mu_seen = (
            batch_max if max_mu_seen is None else max(max_mu_seen, batch_max)
        )
    # availableNow's final no-data batch at the final watermark
    wm = max(wm, max_mu_seen // 1000 - delay_ms)
    for u, st in states.items():
        if st.exists and st.timeout is not None and wm > st.timeout:
            st.hasTimedOut = True
            run_key(u, None, wm)
            st.hasTimedOut = False
    got = set()
    for pdf in out:
        for r in pdf.itertuples(index=False):
            got.add(
                (
                    r.user_id,
                    r.session_start.value // 1000,
                    r.session_end.value // 1000,
                    int(r.n_events),
                )
            )
    return got


def test_streaming_property_differential_simulated():
    """400 seeded random (gap, delay, file-split) scenarios: the REAL
    track function under simulated micro-batch/timer semantics must
    emit exactly the DuckDB closed-form set. 0 divergences required."""
    rng = random.Random(SEED)
    for i in range(N_SIM_EXAMPLES):
        ex = _gen_example(rng)
        got = _simulate(ex["batches"], ex["gap_us"], ex["delay_ms"])
        want = _oracle_sessions(ex["events"], ex["gap_us"], ex["delay_ms"])
        assert got == want, (
            f"example {i}: gap={ex['gap_us']} delay={ex['delay_ms']} "
            f"batches={[len(b) for b in ex['batches']]}\n"
            f"only_stream={sorted(got - want)[:5]}\n"
            f"only_oracle={sorted(want - got)[:5]}"
        )


# --- derandomized boundary pins ---------------------------------------


def _pin(events, batches, gap_us, delay_ms):
    got = _simulate(batches, gap_us, delay_ms)
    want = _oracle_sessions(events, gap_us, delay_ms)
    assert got == want, (got, want)
    return got


def test_streaming_boundary_pins():
    """The exact boundaries, derandomized: gap vs gap+1µs splits
    (across a batch boundary), wm==due (hold) vs due+1ms (emit), and
    duplicate (user, ts) rows straddling a split — the r11 bug class."""
    g = 1_800_000_000  # 30 min
    b = _BASE_US

    # exactly-gap delta across a BATCH boundary: one session of 2 (a
    # gap-sized delta must NOT split); user 2's far-later event drives
    # the final watermark past user 1's due time so the merged session
    # provably EMITS as one
    ev = [(1, 0, b), (1, 1, b + g), (2, 2, b + 10 * g)]
    got = _pin(ev, [ev[:1], ev[1:2], ev[2:]], g, 0)
    assert got == {(1, b, b + 2 * g, 2)}  # user 2's trailing held

    # gap+1µs across the same boundary: TWO sessions, both emitted
    # (the first by the split, the second by the timer)
    ev = [(1, 0, b), (1, 1, b + g + 1), (2, 2, b + 10 * g)]
    got = _pin(ev, [ev[:1], ev[1:2], ev[2:]], g, 0)
    assert got == {
        (1, b, b + g, 1),
        (1, b + g + 1, b + 2 * g + 1, 1),
    }

    # wm == due exactly: trailing session must HOLD (strict >).
    # last=b (ms-aligned), due = (b+g)/1000; choose delay so
    # wm = max//1000 - delay == due → a second user's later event sets
    # the max.
    due_ms = _session_due_ms(b, g)
    max_mu = b + 10 * g  # user 2's lone event, ms-aligned
    delay_hold = max_mu // 1000 - due_ms
    ev = [(1, 0, b), (2, 1, max_mu)]
    got = _pin(ev, [ev], g, delay_hold)
    # user 1 trailing held; user 2 trailing held (wm far below its due)
    assert got == set()
    # one ms more of wm (one less of delay): user 1 emits
    got = _pin(ev, [ev], g, delay_hold - 1)
    assert got == {(1, b, b + g, 1)}

    # duplicate (user, ts) straddling a batch split: both rows count
    # into ONE session of 2 (event_id tie-break keeps the fold
    # aligned); the successor event closes it by gap split, and the
    # trailing single-event session is held (wm g short of its due)
    ev = [(1, 0, b), (1, 1, b), (1, 2, b + g + 1)]
    got = _pin(ev, [ev[:1], ev[1:2], ev[2:]], g, 0)
    assert got == {(1, b, b + g, 2)}


# --- leg 2: real Spark stream drains ----------------------------------


def _drain_real(spark, tmp_path, ex, mfpt: int) -> set:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pymapreduce_spark.streaming.core import drain

    src = tmp_path / "feed"
    src.mkdir(parents=True, exist_ok=True)
    schema = pa.schema(
        [
            pa.field("user_id", pa.int64()),
            pa.field("event_id", pa.int64()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    for k, chunk in enumerate(ex["batches"]):
        tb = pa.table(
            {
                "user_id": pa.array(
                    [u for u, _i, _t in chunk], pa.int64()
                ),
                "event_id": pa.array(
                    [i for _u, i, _t in chunk], pa.int64()
                ),
                "ts": pa.array(
                    [t for _u, _i, t in chunk],
                    pa.timestamp("us", tz="UTC"),
                ),
            },
            schema=schema,
        )
        f = src / f"part-{k:04d}.parquet"
        pq.write_table(tb, f)
        os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))

    from pyspark.sql.streaming.state import GroupStateTimeout

    s = (
        spark.readStream.schema("user_id bigint, event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", mfpt)
        .parquet(str(src))
    )
    wm = s.withWatermark("ts", f"{ex['delay_ms']} milliseconds")
    out = wm.groupBy("user_id").applyInPandasWithState(
        _make_session_timeout_track(ex["gap_us"]),
        outputStructType=(
            "user_id bigint, session_start timestamp, "
            "session_end timestamp, n_events bigint"
        ),
        stateStructType="start_us bigint, last_us bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    res = drain(out, "append").collect()

    def us(x):
        # NTZ-normalized naive timestamps under the pinned-UTC session
        import calendar

        return (
            calendar.timegm(x.timetuple()) * 1_000_000 + x.microsecond
        )

    return {
        (r.user_id, us(r.session_start), us(r.session_end), r.n_events)
        for r in res
    }


def test_streaming_property_differential_real_drains(spark, tmp_path):
    """24 seeded random scenarios through an ACTUAL structured stream
    (parquet source, random maxFilesPerTrigger, real state store and
    timers): emission set == the DuckDB closed form == the simulator —
    the simulator leg's 400 examples are only as good as this
    faithfulness proof."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        rng = random.Random(SEED ^ 0xD12A1)
        for i in range(N_DRAIN_EXAMPLES):
            ex = _gen_example(rng)
            mfpt = rng.randint(1, 3)
            got = _drain_real(spark, tmp_path / f"ex{i}", ex, mfpt)
            want = _oracle_sessions(
                ex["events"], ex["gap_us"], ex["delay_ms"]
            )
            sim = _simulate(ex["batches"], ex["gap_us"], ex["delay_ms"])
            assert got == want, (
                f"example {i}: gap={ex['gap_us']} delay={ex['delay_ms']} "
                f"mfpt={mfpt} files={[len(b) for b in ex['batches']]}\n"
                f"only_stream={sorted(got - want)[:5]}\n"
                f"only_oracle={sorted(want - got)[:5]}"
            )
            assert sim == want, f"simulator diverged on example {i}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
