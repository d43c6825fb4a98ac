"""Event-stream analytics: sessionization, funnels, as-of join
(SURVEY.md §2-D `join_asof`, §2-L `llm_sessionize` / `llm_event_funnel`).

All time arithmetic is integer microseconds (`unix_micros`) — exact and
identical to DuckDB's `epoch_us` after the ns→µs truncation both engines
apply (SURVEY §1.2).

Scale posture: every query here shuffles once on `user_id` and then works
within per-user partitions (windows / grouped aggregation). State per key
is bounded by a user's event count, never by total volume — the same
layout a 100 TB clickstream would use (and the batch twin of the
streaming session_window operators in §2-J).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pymapreduce_spark.functions.checked import cents, epoch_micros, trunc_ntz
from pymapreduce_spark.io import load_table
from pymapreduce_spark.registry import query

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def _gap_session_id() -> Column:
    """Per-user gap-session id: the running count of session starts in
    (ts, event_id) order, where an event starts a session when it is
    the user's first or follows the user's previous event by more than
    ``_SESSION_GAP_US``. Exact integer µs; one window over the user
    partitioning. The oracles spell the same lag flag and running sum
    in SQL."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mu = epoch_micros(F.col("ts"))
    is_new = F.coalesce(
        (mu - F.lag(mu).over(w)) > _SESSION_GAP_US, F.lit(True)
    ).cast("bigint")
    return F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _hourly_grid(ev: DataFrame, **aggs: Column) -> DataFrame:
    """The dense hourly grid per event type: every hour from the first
    event's hour to the last's, crossed with every distinct event type,
    left-joined to the per-(hour, type) aggregates ``aggs`` (name →
    aggregate; NULL in a cell with no events). Columns: event_type,
    hour, then the aggregates in order.

    The bounds are one aggregate row and the grid a distributed
    ``sequence(lo, hi, 1 hour)`` explode, never a driver-side loop; the
    handful of types and the per-hour aggregate are broadcast onto it
    (without the hint on the types, the plan leans on AQE to rescue a
    shuffled cartesian at scale).
    The type match is a plain ``=``, as in the oracles' joins, so a
    NULL event type gets grid rows but never an aggregate."""
    bounds = ev.agg(
        trunc_ntz("hour", F.min("ts")).alias("lo"),
        trunc_ntz("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "hour"
        )
    )
    types = ev.select(F.col("event_type").alias("et")).distinct()
    cells = ev.groupBy(
        trunc_ntz("hour", F.col("ts")).alias("h"),
        F.col("event_type").alias("et"),
    ).agg(*(a.alias(name) for name, a in aggs.items()))
    return (
        grid.crossJoin(F.broadcast(types))
        .join(
            F.broadcast(cells),
            (F.col("h") == F.col("hour")) & (cells.et == types.et),
            "left",
        )
        .select(types.et.alias("event_type"), "hour", *aggs)
    )


def _asof_tagged(
    spark: SparkSession, sf_dir: str, time: str, expr: Column | None = None
) -> DataFrame:
    """The tagged union the as-of joins carry over: each user's views,
    one per (user, ``time``) with max(event_id) as survivor, as side 0,
    and purchases as side 1. Columns: user_id, ``time`` (the column
    ``ts``, or ``expr`` under that name), side, view_event_id (views
    only), event_id (purchases only). NULL event times are excluded on
    both sides (null-ts doctrine: an un-timestamped purchase has no
    nearest view)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    t = F.col(time) if expr is None else expr.alias(time)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", t
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", t)
        .agg(F.max("event_id").alias("view_event_id"))
    )
    no_id = F.lit(None).cast("long")
    return views.select(
        "user_id",
        time,
        F.lit(0).alias("side"),
        "view_event_id",
        no_id.alias("event_id"),
    ).unionByName(
        purchases.select(
            "user_id",
            time,
            F.lit(1).alias("side"),
            no_id.alias("view_event_id"),
            "event_id",
        )
    )


def _asof_carry(
    time: str, order: Column, following: bool = False
) -> tuple[Column, Column]:
    """The carry over an :func:`_asof_tagged` union: (view_event_id,
    view ``time``) of each row's nearest view on one side — the last
    view at or before it in ``order``, or with ``following`` the first
    view at or after it. Views sort before purchases at an equal time,
    so an equal-time view matches (ASOF's ``>=``/``<=``). One window
    per user, O(1) state per row."""
    w = Window.partitionBy("user_id").orderBy(order, "side", "event_id")
    if following:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = F.first
    else:
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = F.last
    view_time = F.when(F.col("side") == 0, F.col(time))
    return (
        pick("view_event_id", ignorenulls=True).over(w),
        pick(view_time, ignorenulls=True).over(w),
    )


def _asof_match(
    spark: SparkSession, sf_dir: str, order: Column, id_col: str, ts_col: str
) -> DataFrame:
    """Each purchase with the nearest view on one side in ``order``,
    as (event_id, user_id, ts, ``id_col``, ``ts_col``)."""
    view_id, view_ts = _asof_carry("ts", order)
    carried = _asof_tagged(spark, sf_dir, "ts").select(
        "user_id",
        "ts",
        "side",
        "event_id",
        view_id.alias(id_col),
        view_ts.alias(ts_col),
    )
    return carried.where(F.col("side") == 1).select(
        "event_id", "user_id", "ts", id_col, ts_col
    )


@query(
    "llm_sessionize",
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
    ), sessions AS (
        SELECT user_id, tsu, mu,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(tsu) AS session_start, max(tsu) AS session_end,
           max(mu) - min(mu) AS duration_us
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def llm_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization: lag → new-session flag → running sum
    as session id → per-session stats. Batch twin of `stream_session`.
    DuckDB-verified shape: 95 465 sessions at sf0.1 (SURVEY §2-L).
    NULL event times are excluded (README null-ts doctrine: a row
    without a time cannot join a time-gap session)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.withColumn("mu", epoch_micros(F.col("ts")))
        .withColumn("session_id", _gap_session_id())
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.max("mu") - F.min("mu")).alias("duration_us"),
        )
    )


@query(
    "llm_event_funnel",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS mu FROM events
    ), v AS (
        SELECT user_id, min(mu) AS v_mu FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(mu) AS c_mu
        FROM e JOIN v ON e.user_id = v.user_id
        WHERE event_type = 'click' AND mu > v_mu GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(mu) AS p_mu
        FROM e JOIN c ON e.user_id = c.user_id
        WHERE event_type = 'purchase' AND mu > c_mu GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after_view,
           (SELECT count(*) FROM p) AS n_purchased_after_click
    """,
)
def llm_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel view→click→purchase: each step's
    first occurrence must be strictly after the previous step's. Three
    grouped mins + two broadcast-sized joins on user_id."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_micros("ts").alias("mu")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("mu").alias("v_mu"))
    )
    c = (
        ev.join(v, "user_id")
        .where((F.col("event_type") == "click") & (F.col("mu") > F.col("v_mu")))
        .groupBy("user_id")
        .agg(F.min("mu").alias("c_mu"))
    )
    p = (
        ev.join(c, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("mu") > F.col("c_mu"))
        )
        .groupBy("user_id")
        .agg(F.min("mu").alias("p_mu"))
    )
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_after_click")))
    )


@query(
    "join_asof",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts::TIMESTAMP AS tsu
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), v AS (
        SELECT user_id, ts::TIMESTAMP AS tsu, max(event_id) AS view_event_id
        FROM events WHERE event_type = 'view' AND ts IS NOT NULL
        GROUP BY user_id, ts::TIMESTAMP
    )
    SELECT p.event_id, p.user_id, p.tsu AS ts,
           v.view_event_id AS matched_view_id,
           v.tsu AS matched_view_ts
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.tsu >= v.tsu
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest view at or
    before it (nearest-earlier semantics, DuckDB `ASOF JOIN` oracle).

    Spark has no native as-of join; rather than a pandas fallback this
    uses the union-reorder-window formulation (SURVEY §4.2), which stays
    fully in Catalyst: union both sides, sort within user by (ts, side)
    — view before purchase at equal ts to mirror ASOF's `>=` — and carry
    the last non-null view forward. One shuffle on user_id, state = one
    row; scales to any volume (the pandas merge_asof alternative would
    materialize whole users in Python).

    Views are pre-deduplicated to one per (user, µs) with max(event_id)
    as survivor so tie-breaking is explicit on both engines.
    NULL event times are excluded on both sides (null-ts doctrine: an
    un-timestamped purchase has no "latest view before it").
    """
    return _asof_match(
        spark, sf_dir, F.col("ts"), "matched_view_id", "matched_view_ts"
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts::TIMESTAMP AS tsu
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), v AS (
        SELECT user_id, ts::TIMESTAMP AS tsu, max(event_id) AS view_event_id
        FROM events WHERE event_type = 'view' AND ts IS NOT NULL
        GROUP BY user_id, ts::TIMESTAMP
    )
    SELECT p.event_id, p.user_id, p.tsu AS ts,
           v.view_event_id AS next_view_id,
           v.tsu AS next_view_ts
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.tsu <= v.tsu
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the user's EARLIEST
    view at or after it. Same union+window formulation as join_asof but
    traversed in descending time order (so "last seen view" = nearest
    future view); ties at equal timestamps match, mirroring DuckDB's
    `<=` ASOF semantics. NULL event times are excluded on both sides
    (null-ts doctrine)."""
    return _asof_match(
        spark, sf_dir, F.desc("ts"), "next_view_id", "next_view_ts"
    )


@query(
    "ts_gapfill",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', min(ts::TIMESTAMP)) AS lo,
               date_trunc('hour', max(ts::TIMESTAMP)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM b
    ),
    types AS (SELECT DISTINCT event_type AS et FROM events),
    counts AS (
        SELECT date_trunc('hour', ts::TIMESTAMP) AS h, event_type AS et,
               count(*) AS n
        FROM events GROUP BY h, et
    )
    SELECT grid.h::TIMESTAMP AS hour, types.et AS event_type,
           coalesce(counts.n, 0) AS n_events
    FROM grid CROSS JOIN types
    LEFT JOIN counts ON counts.h = grid.h AND counts.et = types.et
    """,
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly grid per event type with
    empty buckets zero-filled — the resample step before any
    rate/anomaly computation (a plain GROUP BY silently drops empty
    hours). Grid bounds come from the data via aggregate-then-broadcast
    (one row), the grid itself from `sequence(lo, hi, 1 hour)` exploded
    — generated distributed, never a driver-side loop; the counts join
    is a broadcast of the small aggregated side onto the grid."""
    return _hourly_grid(
        load_table(spark, sf_dir, "events"), n=F.count("*")
    ).select(
        "hour", "event_type", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@query(
    "ts_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase'
                      THEN TRY_CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts::TIMESTAMP, event_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / 100.0 AS last_purchase_value
    FROM events
    WHERE ts IS NOT NULL
    """,
)
def ts_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward): every event
    carries the value of the user's most recent *purchase* — the
    as-of-enrichment most feature pipelines need, done as one window
    (`last(..., ignorenulls=True)` over an unbounded-preceding frame)
    instead of a self as-of join: one shuffle on user_id, no join at
    all. Tie-break on event_id makes the fill order total; the filled
    value rides integer cents so both engines agree bit-for-bit.
    NULL event times are excluded (null-ts doctrine: the fill order is
    the time axis)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    purchase_cents = F.when(
        F.col("event_type") == "purchase",
        cents("value"),
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.last(purchase_cents, ignorenulls=True).over(w) / 100.0).alias(
            "last_purchase_value"
        ),
    )


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH e AS (
        -- NULL ts excluded: Spark's window() bucketing silently drops
        -- un-timestamped rows; the contract makes that explicit
        SELECT event_type, ts::TIMESTAMP AS tsu, event_id, value
        FROM events
        WHERE ts IS NOT NULL
    ), b AS (
        SELECT event_type,
               time_bucket(INTERVAL '15 minutes', tsu) AS bucket,
               tsu, event_id, value,
               -- value is the FINAL tie-break (dup_ids axis: duplicate
               -- event_ids with different payloads); NULL order pinned
               -- to Spark's struct comparison (NULL smallest)
               row_number() OVER (
                   PARTITION BY event_type,
                                time_bucket(INTERVAL '15 minutes', tsu)
                   ORDER BY tsu, event_id NULLS FIRST, value NULLS FIRST
               ) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type,
                                time_bucket(INTERVAL '15 minutes', tsu)
                   ORDER BY tsu DESC, event_id DESC NULLS LAST, value DESC NULLS LAST
               ) AS rn_d
        FROM e
    )
    -- + 0.0 normalizes IEEE zero sign: Spark's aggregate buffers
    -- normalize -0.0 to +0.0, DuckDB's do not (house convention)
    SELECT event_type, bucket,
           round(max(CASE WHEN rn_a = 1 THEN value END), 4) + 0.0 AS open,
           round(max(value), 4) + 0.0 AS high,
           round(min(value), 4) + 0.0 AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 4) + 0.0 AS close,
           count(*) AS n_events,
           round(sum(value), 4) + 0.0 AS total_value
    FROM b
    GROUP BY event_type, bucket
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to 15-minute OHLC bars per event type —
    the resample/rollup a metrics or market-data pipeline runs first.

    Open/close are picked deterministically by (ts, event_id) struct
    ordering inside a SINGLE groupBy — `min(struct(ts, event_id, value))`
    is one partial-aggregable expression, so the whole bar build is one
    map-side-combined shuffle on (event_type, bucket); no window, no
    second scan. (The oracle spells the same pick with row_number
    windows, which DuckDB evaluates identically.) Bucket keys are
    epoch-aligned, so bars partition cleanly by time range at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.window("ts", "15 minutes").getField("start")
    ordered = F.struct("ts", "event_id", "value")
    return (
        ev.select("event_type", bucket.alias("bucket"), ordered.alias("o"),
                  "value")
        .groupBy("event_type", "bucket")
        .agg(
            (F.round(F.min("o").getField("value"), 4) + 0.0).alias("open"),
            (F.round(F.max("value"), 4) + 0.0).alias("high"),
            (F.round(F.min("value"), 4) + 0.0).alias("low"),
            (F.round(F.max("o").getField("value"), 4) + 0.0).alias(
                "close"
            ),
            F.count("*").alias("n_events"),
            (F.round(F.sum("value"), 4) + 0.0).alias("total_value"),
        )
    )


@query(
    "ts_ewma",
    oracle="""
    WITH e AS (
        SELECT event_id, event_type, ts::TIMESTAMP AS tsu, value
        FROM events WHERE value IS NOT NULL
    ), framed AS (
        SELECT event_id, event_type, value,
               list(value) OVER (
                   PARTITION BY event_type
                   ORDER BY tsu DESC, event_id DESC NULLS LAST, value DESC
                   ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING
               ) AS vals
        FROM e
    )
    -- + 0.0 normalizes IEEE zero sign (Spark normalizes -0.0; house
    -- convention for raw-double output columns)
    SELECT event_id, event_type, round(value, 4) + 0.0 AS value,
           round(
               list_dot_product(
                   vals,
                   list_transform(range(1, len(vals) + 1),
                                  i -> 0.2 * pow(0.8, i - 1))
               ) / (1 - pow(0.8, len(vals))), 4
           ) + 0.0 AS ewma10
    FROM framed
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α=0.2) over each event
    type's last 10 values — the smoothing pass a metrics pipeline runs
    before anomaly thresholds.

    Implementation: TEN lag columns over one ascending window, summed
    newest-to-oldest with geometric weights α·(1-α)^i and the
    closed-form normalizer (1-(1-α)^L), L = min(row_number, 10). The
    lag formulation replaces the earlier collect_list(10)-then-fold —
    same value order term-for-term (missing lags contribute an exact
    +0.0), but no per-row array allocation or HOF lambda in the hot
    path, which cut the query ~15% at sf0.1 vs the fold (interleaved
    A/B, median of 7). The oracle keeps
    the list_dot_product spelling; round(4) absorbs FP ulps. At 100 TB
    the window partitions by series key — no global sort.

    Round-10 A/B closing the r9 bench question (+40% vs the r7 row):
    interleaved median-of-7 at sf0.1, this formulation 0.776 s vs the
    r7 spelling (identical but for the ``value`` tie-break) 0.703 s —
    the dup-ids tie-break's extra window sort key costs ~10%, and the
    remaining ~30% of the bench delta is host drift (the r7 spelling
    itself now times 0.70 s vs its recorded 0.505 s). The tie-break is
    doctrine-required (see below), so the ~10% stays.

    NULL observations are excluded from the series BEFORE windowing
    (both engines): an EWMA is defined over observed values, and
    leaving NULLs in would either zero-fill them (biasing the average)
    or poison the window frame.

    The series order carries `value` as the FINAL tie-break: event_id
    alone is not a total order when a replayed ingest duplicates an id
    with a different payload (round-8 dup_ids axis), and a sequential
    accumulation is exactly where an undefined order between dup rows
    splits engines."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id", "value")
    num = None
    for i in range(10):
        term = (
            F.coalesce(F.lag("value", i).over(w), F.lit(0.0))
            * 0.2
            * F.pow(F.lit(0.8), F.lit(i))
        )
        num = term if num is None else num + term
    n_avail = F.least(F.row_number().over(w), F.lit(10))
    den = 1 - F.pow(F.lit(0.8), n_avail)
    return ev.select(
        "event_id",
        "event_type",
        # + 0.0 pins the IEEE zero sign (house convention; do not
        # rely on the exchange normalizing -0.0)
        (F.round("value", 4) + 0.0).alias("value"),
        (F.round(num / den, 4) + 0.0).alias("ewma10"),
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', min(ts::TIMESTAMP)) AS lo,
               date_trunc('hour', max(ts::TIMESTAMP)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b
    ),
    types AS (SELECT DISTINCT event_type AS et FROM events),
    obs AS (
        SELECT date_trunc('hour', ts::TIMESTAMP) AS h, event_type AS et,
               sum(TRY_CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        FROM events GROUP BY h, et
    ),
    dense AS (
        SELECT types.et, grid.h, obs.cents
        FROM grid CROSS JOIN types
        LEFT JOIN obs ON obs.h = grid.h AND obs.et = types.et
    ),
    framed AS (
        SELECT et, h, cents,
               last_value(cents IGNORE NULLS) OVER (
                   PARTITION BY et ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_cents,
               last_value(CASE WHEN cents IS NOT NULL THEN h END
                          IGNORE NULLS) OVER (
                   PARTITION BY et ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_h,
               first_value(cents IGNORE NULLS) OVER (
                   PARTITION BY et ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_cents,
               first_value(CASE WHEN cents IS NOT NULL THEN h END
                           IGNORE NULLS) OVER (
                   PARTITION BY et ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_h
        FROM dense
    )
    SELECT et AS event_type, h::TIMESTAMP AS hour,
           cents AS observed_cents,
           CASE
               WHEN cents IS NOT NULL THEN cents / 100.0
               WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL THEN
                   (prev_cents
                    + (next_cents - prev_cents)
                      * ((epoch(h) - epoch(prev_h))
                         / (epoch(next_h) - epoch(prev_h)))) / 100.0
           END AS value_interp
    FROM framed
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of gaps in an hourly value series: the dense
    per-type grid (ts_gapfill's build) carries the hourly sum of
    `value`; hours with no events take the straight line between the
    nearest observed hour on each side, leading/trailing gaps stay NULL
    (no extrapolation) — the imputation step between resampling and any
    model-facing feature table.

    One shuffle on the series key, two windows (backward carry, forward
    carry) over per-type partitions — no self-join, no driver loop;
    state per partition is one series, the 100 TB layout for panel data.
    Determinism: observations ride integer cents (the proven
    ts_forward_fill device), gap positions are integer epoch seconds,
    and both engines evaluate the identical op order
    prev + diff·(k/gap) over those exact integers — bit-identical IEEE
    doubles, emitted unrounded (rounding would reintroduce half-tie
    divergence)."""
    dense = _hourly_grid(
        load_table(spark, sf_dir, "events"),
        cents=F.sum(cents("value")),
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("cents").isNotNull(), F.col("hour"))
    prev_c = F.last("cents", ignorenulls=True).over(back)
    prev_h = F.last(obs_hour, ignorenulls=True).over(back)
    next_c = F.first("cents", ignorenulls=True).over(fwd)
    next_h = F.first(obs_hour, ignorenulls=True).over(fwd)
    frac = (F.unix_timestamp("hour") - F.unix_timestamp(prev_h)) / (
        F.unix_timestamp(next_h) - F.unix_timestamp(prev_h)
    )
    # UNROUNDED on purpose: every input is an exact integer (cents,
    # epoch seconds), so the shared op order prev + diff·(k/gap) makes
    # both engines produce bit-identical IEEE doubles; round(4) would
    # REINTRODUCE half-tie divergence (Spark HALF_UP vs DuckDB
    # half-even — bit at sf0.001).
    interp = (
        F.when(F.col("cents").isNotNull(), F.col("cents") / 100.0)
        .when(
            prev_c.isNotNull() & next_c.isNotNull(),
            (prev_c + (next_c - prev_c) * frac) / 100.0,
        )
    )
    return dense.select(
        "event_type",
        "hour",
        F.col("cents").alias("observed_cents"),
        interp.alias("value_interp"),
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', min(ts::TIMESTAMP)) AS lo,
               date_trunc('hour', max(ts::TIMESTAMP)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b
    ),
    types AS (SELECT DISTINCT event_type AS et FROM events),
    counts AS (
        SELECT date_trunc('hour', ts::TIMESTAMP) AS h, event_type AS et,
               count(*) AS n
        FROM events GROUP BY h, et
    ),
    dense AS (
        SELECT types.et, grid.h, coalesce(counts.n, 0) AS n
        FROM grid CROSS JOIN types
        LEFT JOIN counts ON counts.h = grid.h AND counts.et = types.et
    ),
    rolled AS (
        SELECT et, h, n,
               count(*) OVER w AS w_n,
               sum(n) OVER w AS w_sum,
               sum(n * n) OVER w AS w_sum2
        FROM dense
        WINDOW w AS (PARTITION BY et ORDER BY h
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT et AS event_type, h::TIMESTAMP AS hour, n AS n_events,
           CASE WHEN w_n = 24 AND w_sum2 * 24 > w_sum * w_sum THEN
               round((n - w_sum / 24.0)
                     / sqrt((w_sum2 - w_sum * w_sum / 24.0) / 23.0), 4)
           END AS zscore,
           coalesce(
               abs(CASE WHEN w_n = 24 AND w_sum2 * 24 > w_sum * w_sum THEN
                   round((n - w_sum / 24.0)
                         / sqrt((w_sum2 - w_sum * w_sum / 24.0) / 23.0), 4)
               END) > 3.0, false) AS is_anomaly
    FROM rolled
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on hourly event counts: each
    dense hourly bucket (gap-filled to 0 — a silent outage IS the
    anomaly) is scored against the trailing 24-hour window's mean and
    sample stddev; |z| > 3 flags. Buckets without a full 24-hour
    history, and windows with zero variance, score NULL.

    The rolling moments are integer window sums (Σn, Σn², both exact
    BIGINT in both engines), so mean and variance are the same
    rationals everywhere and the only FP steps — one sqrt, one divide —
    are sealed by round(4); the flag compares the ROUNDED score so both
    engines threshold the identical number. One shuffle on the series
    key, one ordered window — the same panel layout as
    ts_interpolate_linear."""
    dense = _hourly_grid(
        load_table(spark, sf_dir, "events"), cnt=F.count("*")
    ).select("event_type", "hour", F.coalesce("cnt", F.lit(0)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-23, 0)
    )
    w_n = F.count("*").over(w)
    w_sum = F.sum("n").over(w)
    w_sum2 = F.sum(F.col("n") * F.col("n")).over(w)
    z = F.when(
        (w_n == 24) & (w_sum2 * 24 > w_sum * w_sum),
        F.round(
            (F.col("n") - w_sum / 24.0)
            / F.sqrt((w_sum2 - w_sum * w_sum / 24.0) / 23.0),
            4,
        ),
    )
    return dense.select(
        "event_type",
        "hour",
        F.col("n").alias("n_events"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False)).alias("is_anomaly"),
    )


@query(
    "ts_rolling_corr",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type, ts::TIMESTAMP AS tsu,
               TRY_CAST(round(value * 100) AS BIGINT) AS v
        FROM events
        WHERE ts IS NOT NULL
    ), paired AS (
        SELECT event_id, event_type, tsu, v,
               lag(v) OVER (PARTITION BY event_type
                            ORDER BY tsu, event_id NULLS FIRST,
                                     v NULLS FIRST) AS p
        FROM v
    ), framed AS (
        SELECT event_id, event_type,
               count(*) OVER w AS n,
               sum(v) OVER w AS sx, sum(p) OVER w AS sy,
               sum(v * v) OVER w AS sxx, sum(p * p) OVER w AS syy,
               sum(v * p) OVER w AS sxy
        FROM paired
        WHERE p IS NOT NULL
        WINDOW w AS (PARTITION BY event_type
                 ORDER BY tsu, event_id NULLS FIRST, v NULLS FIRST
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type,
           round(
               (n * sxy - sx * sy)::DOUBLE
               / nullif(sqrt((n * sxx - sx * sx)::DOUBLE)
                        * sqrt((n * syy - sy * sy)::DOUBLE), 0.0),
               4
           ) + 0.0 AS autocorr20
    FROM framed
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling lag-1 autocorrelation of `value` per event type over a
    trailing 20-pair frame — the serial-dependence diagnostic a metrics
    pipeline runs before alerting on a series.

    Pearson r is assembled from the five EXACT integer window sums
    (Σx, Σy, Σx², Σy², Σxy over cent-scaled values) and the closed-form
    numerator/denominator — never from an engine's streaming corr()
    accumulator, whose update order and compensation differ between
    engines (the agg_stats lesson). Both engines therefore feed
    bit-identical integers into the same double expression; round(4)
    is presentation. Zero-variance frames yield NULL via nullif.

    Input envelope (documented, enforced loudly): the int64 moment
    n·Σv² stays exact for |value| up to ~$20M over the 20-row frame;
    beyond it Spark raises ANSI ARITHMETIC_OVERFLOW rather than
    silently losing precision — the designed failure for
    out-of-contract magnitudes (FIXTURES.md bounds value at ~560).
    Scale: one shuffle on the series key, bounded 20-row frame state,
    no global sort — the standard 100 TB window layout. NULL event
    times are excluded (null-ts doctrine: lag-1 pairing is the time
    axis)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    v = ev.select(
        "event_id",
        "event_type",
        "ts",
        cents("value").alias("v"),
    )
    wlag = Window.partitionBy("event_type").orderBy("ts", "event_id", "v")
    paired = v.withColumn("p", F.lag("v").over(wlag)).where(
        F.col("p").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id", "v")
        .rowsBetween(-19, 0)
    )
    framed = paired.select(
        "event_id",
        "event_type",
        F.count("*").over(w).alias("n"),
        F.sum("v").over(w).alias("sx"),
        F.sum("p").over(w).alias("sy"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("sxx"),
        F.sum(F.col("p") * F.col("p")).over(w).alias("syy"),
        F.sum(F.col("v") * F.col("p")).over(w).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.nullif(
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        ),
        F.lit(0.0),
    )
    # + 0.0 normalizes IEEE -0.0 → +0.0 (engines differ on which side
    # of zero a tiny negative correlation rounds to; str-compare skew).
    return framed.select(
        "event_id",
        "event_type",
        (F.round(num / den, 4) + 0.0).alias("autocorr20"),
    )


@query(
    "llm_event_pattern",
    oracle="""
    WITH e AS (
        SELECT user_id, ts::TIMESTAMP AS tsu, event_id,
               substr(event_type, 1, 1) AS initial
        FROM events
        WHERE ts IS NOT NULL
    ), j AS (
        SELECT user_id,
               -- initial as the THIRD key: the Spark side array_sorts
               -- the whole struct(ts, event_id, initial), so when a
               -- duplicated event_id collides at the SAME microsecond
               -- with a different type (round-7 combined2 axis) the
               -- letters still concatenate in one total order
               string_agg(initial, ''
                          ORDER BY tsu, event_id NULLS FIRST, initial) AS journey
        FROM e GROUP BY user_id
    )
    SELECT user_id, journey,
           length(journey)::BIGINT AS journey_len,
           regexp_matches(journey, 'v.*c.*p') AS has_funnel,
           ((length(journey) - length(replace(journey, 'vp', ''))) // 2)
               ::BIGINT AS n_direct
    FROM j
    """,
)
def llm_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing over ordered per-user event sequences:
    build each user's journey string (event-type initials in (ts,
    event_id) order) and match patterns on it — the funnel regex
    view→…→click→…→purchase and the count of direct view→purchase
    conversions.

    The order-sensitive aggregation is fully declarative:
    collect_list(struct(ts, event_id, initial)) → array_sort →
    transform → concat — one shuffle on user_id, deterministic under
    the struct ordering, state bounded by a user's event count (the
    sessionize contract). The direct-conversion count is pure string
    arithmetic (length delta over replace), NOT a regex count — Java
    and RE2 agree on `v.*c.*p` but non-greedy/overlap counting rules
    are where engines drift. NULL event times are excluded (null-ts
    doctrine: an un-timestamped event has no place in the sequence)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    journey = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.substring("event_type", 1, 1).alias("initial"),
                    )
                )
            ),
            lambda x: x.getField("initial"),
        ),
    )
    j = ev.groupBy("user_id").agg(journey.alias("journey"))
    return j.select(
        "user_id",
        "journey",
        F.length("journey").cast("long").alias("journey_len"),
        F.col("journey").rlike("v.*c.*p").alias("has_funnel"),
        (
            (
                F.length("journey")
                - F.length(F.regexp_replace("journey", "vp", ""))
            )
            / 2
        ).cast("long").alias("n_direct"),
    )


@query(
    "ts_seasonal_naive",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', min(ts::TIMESTAMP)) AS lo,
               date_trunc('hour', max(ts::TIMESTAMP)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM b
    ),
    types AS (SELECT DISTINCT event_type AS et FROM events),
    counts AS (
        SELECT date_trunc('hour', ts::TIMESTAMP) AS h, event_type AS et,
               count(*) AS n
        FROM events GROUP BY h, et
    ),
    dense AS (
        SELECT grid.h::TIMESTAMP AS hour, types.et AS event_type,
               coalesce(counts.n, 0)::BIGINT AS n_events
        FROM grid CROSS JOIN types
        LEFT JOIN counts ON counts.h = grid.h AND counts.et = types.et
    )
    SELECT hour, event_type, n_events,
           lag(n_events, 24) OVER w AS forecast,
           abs(n_events - lag(n_events, 24) OVER w)::BIGINT AS abs_err
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY hour)
    QUALIFY lag(n_events, 24) OVER w IS NOT NULL
    """,
)
def ts_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting: predict each hour's event count as
    the same hour yesterday (lag 24 on the DENSE hourly grid) and score
    the absolute error — the baseline every forecasting pipeline must
    beat, and the alignment trap ts_gapfill exists to prevent: lag(24)
    over raw grouped hours silently misaligns whenever an hour is
    empty.

    Composes the gapfill grid (aggregate-then-broadcast bounds,
    distributed sequence explode) with one window per series key; all
    quantities are exact integers, so the differential is
    rounding-free. At 100 TB the window partitions by series key —
    state is one 24-slot frame per key."""
    dense = _hourly_grid(
        load_table(spark, sf_dir, "events"), n=F.count("*")
    ).select(
        "hour",
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    forecast = F.lag("n_events", 24).over(w)
    return (
        dense.select(
            "hour",
            "event_type",
            "n_events",
            forecast.alias("forecast"),
            F.abs(F.col("n_events") - forecast).cast("long").alias(
                "abs_err"
            ),
        )
        .where(F.col("forecast").isNotNull())
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS mu
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), v AS (
        SELECT user_id, epoch_us(ts::TIMESTAMP) AS mu,
               max(event_id) AS view_event_id
        FROM events WHERE event_type = 'view' AND ts IS NOT NULL
        GROUP BY user_id, epoch_us(ts::TIMESTAMP)
    ), tagged AS (
        SELECT user_id, mu, 0 AS side, view_event_id,
               NULL::BIGINT AS event_id
        FROM v
        UNION ALL
        SELECT user_id, mu, 1, NULL, event_id FROM p
    ), carried AS (
        SELECT user_id, mu, side, event_id,
               last_value(view_event_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY mu, side, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_id,
               last_value(CASE WHEN side = 0 THEN mu END IGNORE NULLS)
                   OVER (
                   PARTITION BY user_id ORDER BY mu, side, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_mu,
               first_value(view_event_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY mu, side, event_id NULLS FIRST
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_id,
               first_value(CASE WHEN side = 0 THEN mu END IGNORE NULLS)
                   OVER (
                   PARTITION BY user_id ORDER BY mu, side, event_id NULLS FIRST
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_mu
        FROM tagged
    )
    SELECT event_id, user_id,
           CASE WHEN next_mu IS NULL THEN prev_id
                WHEN prev_mu IS NULL THEN next_id
                WHEN mu - prev_mu <= next_mu - mu THEN prev_id
                ELSE next_id END AS nearest_view_id,
           CASE WHEN next_mu IS NULL THEN mu - prev_mu
                WHEN prev_mu IS NULL THEN next_mu - mu
                ELSE least(mu - prev_mu, next_mu - mu)
           END AS delta_us
    FROM carried WHERE side = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event as-of join, BOTH directions: each purchase matched
    to the user's closest view in absolute time (tie → the earlier
    view) — the variant DuckDB's ASOF JOIN cannot express (it is
    backward-only), built from the same union-reorder-window kernel as
    join_asof: one shuffle on user_id, two symmetric carry windows
    (last-non-null backward, first-non-null forward), O(1) state per
    row. The oracle spells the identical windows in SQL. All time math
    is exact integer microseconds. NULL event times are excluded on
    both sides (null-ts doctrine)."""
    prev_id, prev_mu = _asof_carry("mu", F.col("mu"))
    next_id, next_mu = _asof_carry("mu", F.col("mu"), following=True)
    carried = _asof_tagged(spark, sf_dir, "mu", epoch_micros("ts")).select(
        "user_id",
        "mu",
        "side",
        "event_id",
        prev_id.alias("prev_id"),
        prev_mu.alias("prev_mu"),
        next_id.alias("next_id"),
        next_mu.alias("next_mu"),
    )
    mu = F.col("mu")
    nearest = (
        F.when(F.col("next_mu").isNull(), F.col("prev_id"))
        .when(F.col("prev_mu").isNull(), F.col("next_id"))
        .when(mu - F.col("prev_mu") <= F.col("next_mu") - mu,
              F.col("prev_id"))
        .otherwise(F.col("next_id"))
    )
    delta = (
        F.when(F.col("next_mu").isNull(), mu - F.col("prev_mu"))
        .when(F.col("prev_mu").isNull(), F.col("next_mu") - mu)
        .otherwise(
            F.least(mu - F.col("prev_mu"), F.col("next_mu") - mu)
        )
    )
    return carried.where(F.col("side") == 1).select(
        "event_id",
        "user_id",
        nearest.alias("nearest_view_id"),
        delta.alias("delta_us"),
    )


@query(
    "ts_calendar_features",
    oracle="""
    WITH f AS (
        SELECT dayofweek(ts::TIMESTAMP)::INTEGER AS dow,
               hour(ts::TIMESTAMP)::INTEGER AS hour_of_day,
               (dayofweek(ts::TIMESTAMP) IN (0, 6)) AS is_weekend,
               value
        FROM events
    )
    SELECT dow, hour_of_day, is_weekend,
           count(*) AS n_events,
           sum(TRY_CAST(round(value * 100) AS BIGINT))::BIGINT AS cents_total
    FROM f GROUP BY dow, hour_of_day, is_weekend
    """,
)
def ts_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature engineering: day-of-week / hour-of-day /
    weekend-flag extraction with per-cell activity totals — the
    featurization pass behind seasonality models and training-data
    time-balance reports. Engine gotcha handled: Spark's dayofweek is
    1-based Sunday=1 while DuckDB's is 0-based Sunday=0, so the Spark
    side shifts by one to the oracle's convention; both sides then
    group on identical integers. Map-only projection + one
    partial-aggregable shuffle over 168 cells."""
    ev = load_table(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).cast("int")
    return (
        ev.select(
            dow.alias("dow"),
            F.hour("ts").cast("int").alias("hour_of_day"),
            dow.isin(0, 6).alias("is_weekend"),
            "value",
        )
        .groupBy("dow", "hour_of_day", "is_weekend")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("cents_total"),
        )
    )


@query(
    "ts_sessionized_revenue",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, value,
               ts::TIMESTAMP AS tsu, epoch_us(ts::TIMESTAMP) AS mu
        FROM events
        WHERE ts IS NOT NULL
    ), flagged AS (
        SELECT *, CASE WHEN mu - lag(mu) OVER w > 1800000000
                            OR lag(mu) OVER w IS NULL
                       THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST)
    ), sess AS (
        SELECT user_id, event_type, value,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS session_id
        FROM flagged
    ), per_session AS (
        SELECT user_id, session_id,
               sum(CASE WHEN event_type = 'purchase'
                   THEN TRY_CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT
                   AS rev_cents
        FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*)::BIGINT AS n_sessions,
           count(*) FILTER (rev_cents > 0)::BIGINT AS buying_sessions,
           sum(rev_cents)::BIGINT AS total_rev_cents,
           max(rev_cents)::BIGINT AS best_session_cents
    FROM per_session GROUP BY user_id
    """,
)
def ts_sessionized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level revenue: sessionize (30-min gap), roll purchase
    value up to sessions, then report each user's session count,
    buying-session count, and total/best session revenue — the
    conversion-quality profile a growth team reads next to the raw
    funnel. Composes llm_sessionize's exact windows with a conditional
    cents rollup: still ONE shuffle on user_id end-to-end (the windows
    and both aggregations share the user partitioning), all exact
    integers. NULL event times are excluded (null-ts doctrine)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    rev = F.when(
        F.col("event_type") == "purchase",
        cents("value"),
    ).otherwise(F.lit(0))
    per_session = (
        ev.withColumn("session_id", _gap_session_id())
        .groupBy("user_id", "session_id")
        .agg(F.sum(rev).alias("rev_cents"))
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.count(F.when(F.col("rev_cents") > 0, 1)).alias(
            "buying_sessions"
        ),
        F.sum("rev_cents").alias("total_rev_cents"),
        F.max("rev_cents").alias("best_session_cents"),
    )


@query(
    "ts_wow_growth",
    oracle="""
    WITH w AS (
        SELECT event_type,
               date_trunc('week', ts::TIMESTAMP)::TIMESTAMP AS week,
               count(*)::BIGINT AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, week, n,
           lag(n) OVER (PARTITION BY event_type ORDER BY week)
               ::BIGINT AS prev_n,
           round((n - lag(n) OVER (PARTITION BY event_type ORDER BY week))
                 / (1.0 * lag(n) OVER (
                       PARTITION BY event_type ORDER BY week)), 6)
               AS wow_growth
    FROM w
    """,
)
def ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the BI staple: weekly
    counts, the previous week via lag, and the relative delta. One
    map-side-combined shuffle for the weekly rollup, one tiny window
    over the weekly table (rows = weeks × types, trivially small at
    any data scale — the window input is pre-aggregated, never raw
    events). Exact integer counts; the growth ratio divides identical
    integers in both engines. NULL event times are excluded (null-ts
    doctrine: a NULL week would sort FIRST in Spark's lag window and
    LAST in DuckDB's, silently shifting every growth pair)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        ev.groupBy(
            "event_type",
            trunc_ntz("week", F.col("ts")).alias("week"),
        )
        .agg(F.count("*").alias("n"))
    )
    win = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(win)
    return w.select(
        "event_type",
        "week",
        "n",
        prev.alias("prev_n"),
        F.round((F.col("n") - prev) / (1.0 * prev), 6).alias(
            "wow_growth"
        ),
    )


@query(
    "agg_cohort_retention",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id,
               date_trunc('week', ts::TIMESTAMP)::TIMESTAMP AS week
        FROM events
    ), cohort AS (
        SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
    )
    SELECT c.cohort_week,
           ((epoch(a.week) - epoch(c.cohort_week)) // 604800)::BIGINT
               AS weeks_since,
           count(*)::BIGINT AS n_active
    FROM act a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active week, counted
    in each subsequent week — THE product-analytics staple (every
    retention curve and triangle chart is this table). Distinct
    (user, week) activity → per-user cohort via one min-aggregate →
    join back and bucket by exact integer week offsets. Both joins key
    on user_id (one shuffle each, and the cohort side is one row per
    user); no window at all. Week arithmetic is integer epoch-seconds
    // 604800 — identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", trunc_ntz("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = act.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    weeks_since = (
        (
            F.unix_timestamp("week") - F.unix_timestamp("cohort_week")
        )
        / 604800
    ).cast("long")
    return (
        act.join(cohort, "user_id")
        .groupBy("cohort_week", weeks_since.alias("weeks_since"))
        .agg(F.count("*").alias("n_active"))
    )


@query(
    "ts_cumulative_users",
    oracle="""
    WITH first_day AS (
        SELECT user_id,
               min((ts::TIMESTAMP)::DATE) AS d
        FROM events GROUP BY user_id
    ), per_day AS (
        SELECT d, count(*)::BIGINT AS n_new FROM first_day GROUP BY d
    )
    SELECT d, n_new,
           sum(n_new) OVER (
               ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS cum_users
    FROM per_day
    """,
)
def ts_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day (the growth curve): running
    COUNT(DISTINCT) is stateful-set-sized at scale, so it is rewritten
    as the classic first-occurrence trick — each user contributes one
    row at their first active day, then a plain running SUM over the
    tiny per-day table. One shuffle on user_id for the min-day, one
    day-keyed rollup; the global window runs over rows = number of
    DAYS, constant at any data volume. Exact integers throughout."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d")
    )
    per_day = first_day.groupBy("d").agg(F.count("*").alias("n_new"))
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        "d", "n_new", F.sum("n_new").over(w).alias("cum_users")
    )


@query(
    "ts_peak_detection",
    oracle="""
    WITH h AS (
        SELECT event_type,
               date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS hour,
               count(*)::BIGINT AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), nb AS (
        SELECT event_type, hour, n,
               lag(n) OVER w AS prev_n,
               lead(n) OVER w AS next_n
        FROM h
        WINDOW w AS (PARTITION BY event_type ORDER BY hour)
    )
    SELECT event_type, hour, n
    FROM nb
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
    """,
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the hourly series: hours strictly
    above both neighbors — the first-pass peak picker behind alerting
    and seasonality inspection (ts_anomaly_zscore scores magnitude;
    this finds shape). Interior-only by construction (endpoints have
    one neighbor), strict integer comparisons so engines cannot
    disagree on plateaus. The window runs over the pre-aggregated
    hourly table — rows = hours × types, constant in data volume.
    NULL event times are excluded (null-ts doctrine)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    h = ev.groupBy(
        "event_type", trunc_ntz("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour")
    nb = h.select(
        "event_type",
        "hour",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return nb.where(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    ).select("event_type", "hour", "n")


@query(
    "ts_rsi",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type, ts::TIMESTAMP AS tsu,
               TRY_CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
        WHERE ts IS NOT NULL
    ), d AS (
        SELECT event_id, event_type, tsu,
               vc - lag(vc) OVER (PARTITION BY event_type
                                  ORDER BY tsu, event_id NULLS FIRST,
                                           vc NULLS FIRST) AS diff
        FROM v
    ), framed AS (
        SELECT event_id, event_type,
               sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w
                   ::BIGINT AS gains,
               sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w
                   ::BIGINT AS losses,
               count(*) OVER w AS n
        FROM d WHERE diff IS NOT NULL
        WINDOW w AS (PARTITION BY event_type
                     ORDER BY tsu, event_id NULLS FIRST, diff NULLS FIRST
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type,
           round(100.0 * gains / nullif(gains + losses, 0), 4) AS rsi14
    FROM framed WHERE n = 14
    """,
)
def ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (simple 14-period RSI): per-series
    up-move and down-move sums over a trailing 14-diff frame, folded
    into 100·gains/(gains+losses) — the bounded-momentum oscillator,
    here over cent-scaled event values. Gains/losses are EXACT integer
    window sums (the ts_rolling_corr discipline), the ratio divides
    identical integers, and flat frames yield NULL via nullif. Only
    full frames emit (n = 14), so no partial-window edge semantics to
    disagree on. One shuffle on the series key, constant frame
    state. NULL event times are excluded (null-ts doctrine)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    vc = cents("value")
    wlag = Window.partitionBy("event_type").orderBy("ts", "event_id", vc)
    d = ev.select(
        "event_id",
        "event_type",
        "ts",
        (vc - F.lag(vc).over(wlag)).alias("diff"),
    ).where(F.col("diff").isNotNull())
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id", "diff")
        .rowsBetween(-13, 0)
    )
    gains = F.sum(
        F.when(F.col("diff") > 0, F.col("diff")).otherwise(0)
    ).over(w)
    losses = F.sum(
        F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0)
    ).over(w)
    n = F.count("*").over(w)
    framed = d.select(
        "event_id",
        "event_type",
        gains.alias("gains"),
        losses.alias("losses"),
        n.alias("n"),
    )
    return framed.where(F.col("n") == 14).select(
        "event_id",
        "event_type",
        F.round(
            100.0
            * F.col("gains")
            / F.nullif(F.col("gains") + F.col("losses"), F.lit(0)),
            4,
        ).alias("rsi14"),
    )


@query(
    "ts_time_to_event",
    oracle="""
    WITH v AS (
        SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
        SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS first_purchase
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT v.user_id,
           (p.first_purchase - v.first_view) AS us_to_convert,
           (p.first_purchase > v.first_view) AS converted_after_view
    FROM v JOIN p ON v.user_id = p.user_id
    """,
)
def ts_time_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion: microseconds from each user's first view to
    their first purchase — the survival-analysis input behind
    conversion-latency curves (llm_event_funnel counts who converts;
    this measures how long it takes). Two grouped mins joined on the
    user key, exact integer microsecond deltas; a negative delta
    (purchase before any view) is kept and flagged rather than
    silently dropped — attribution decisions belong downstream."""
    ev = load_table(spark, sf_dir, "events")
    mu = epoch_micros(F.col("ts"))

    def first(t: str, name: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == t)
            .groupBy("user_id")
            .agg(F.min(mu).alias(name))
        )

    v = first("view", "first_view")
    p = first("purchase", "first_purchase")
    return v.join(p, "user_id").select(
        "user_id",
        (F.col("first_purchase") - F.col("first_view")).alias(
            "us_to_convert"
        ),
        (F.col("first_purchase") > F.col("first_view")).alias(
            "converted_after_view"
        ),
    )


@query(
    "agg_bounce_rate",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS tsu,
               epoch_us(ts::TIMESTAMP) AS mu
        FROM events
        WHERE ts IS NOT NULL
    ), flagged AS (
        SELECT user_id, tsu, event_id,
               CASE WHEN mu - lag(mu) OVER w > 1800000000
                         OR lag(mu) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST)
    ), sess AS (
        SELECT user_id,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY tsu, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    ), per AS (
        SELECT user_id, sid, count(*)::BIGINT AS n
        FROM sess GROUP BY user_id, sid
    )
    SELECT count(*)::BIGINT AS n_sessions,
           count(*) FILTER (n = 1)::BIGINT AS n_bounces,
           round(count(*) FILTER (n = 1)
                 / (1.0 * nullif(count(*), 0)), 6) AS bounce_rate
    FROM per
    """,
)
def agg_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bounce rate: the share of 30-min-gap sessions
    containing exactly ONE event — the engagement-quality headline
    next to the session count. Reuses the sessionize windows (one
    user-keyed shuffle), rolls sessions up once, then a single global
    aggregate; the rate divides exact integers. NULL event times are
    excluded (null-ts doctrine; the oracle already said so)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    per = (
        ev.withColumn("sid", _gap_session_id())
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n"))
    )
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.count(F.when(F.col("n") == 1, 1)).alias("n_bounces"),
        F.round(
            F.count(F.when(F.col("n") == 1, 1))
            / (1.0 * F.nullif(F.count("*"), F.lit(0))),
            6,
        ).alias("bounce_rate"),
    )


@query(
    "ts_minmax_normalize",
    oracle="""
    WITH b AS (
        SELECT event_type,
               min(TRY_CAST(round(value * 100) AS BIGINT)) AS lo,
               max(TRY_CAST(round(value * 100) AS BIGINT)) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((TRY_CAST(round(e.value * 100) AS BIGINT) - b.lo)
                 / (1.0 * nullif(b.hi - b.lo, 0)), 6) AS value_norm
    FROM events e JOIN b ON e.event_type = b.event_type
    """,
)
def ts_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series min–max feature scaling to [0, 1] — the
    normalization pass before distance-based models and before mixing
    series of different magnitudes on one chart. Group bounds come
    from one aggregate broadcast back onto the scan (never a per-row
    window over the partition); the scaled value divides exact
    cent-integers, with constant series yielding NULL via nullif
    rather than a fabricated 0."""
    ev = load_table(spark, sf_dir, "events")
    vc = cents("value")
    b = ev.groupBy("event_type").agg(
        F.min(vc).alias("lo"), F.max(vc).alias("hi")
    )
    return ev.join(F.broadcast(b), "event_type").select(
        "event_id",
        "event_type",
        F.round(
            (vc - F.col("lo"))
            / (1.0 * F.nullif(F.col("hi") - F.col("lo"), F.lit(0))),
            6,
        ).alias("value_norm"),
    )


@query(
    "ts_weekend_lift",
    oracle="""
    WITH c AS (
        SELECT event_type,
               (dayofweek(ts::TIMESTAMP) IN (0, 6)) AS is_weekend,
               count(*)::BIGINT AS n,
               count(DISTINCT (ts::TIMESTAMP)::DATE)::BIGINT AS n_days
        FROM events GROUP BY 1, 2
    ), rates AS (
        SELECT event_type, is_weekend, n / (1.0 * n_days) AS per_day
        FROM c
    )
    SELECT w.event_type,
           round(w.per_day, 4) AS weekend_per_day,
           round(d.per_day, 4) AS weekday_per_day,
           round(w.per_day / d.per_day, 4) AS weekend_lift
    FROM rates w JOIN rates d
      ON w.event_type = d.event_type
     AND w.is_weekend AND NOT d.is_weekend
    """,
)
def ts_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend lift per event type: events-per-active-day on weekends
    vs weekdays and their ratio — the normalized comparison (raw
    counts mislead because there are 2 weekend days to 5). Counts and
    active-day counts come from one grouped aggregate; the per-day
    rates divide exact integers and the lift divides those identical
    doubles. The weekday/weekend pairing is a self-join on the tiny
    rate table."""
    ev = load_table(spark, sf_dir, "events")
    is_wk = (F.dayofweek("ts") - 1).isin(0, 6)
    c = ev.groupBy(
        "event_type", is_wk.alias("is_weekend")
    ).agg(
        F.count("*").alias("n"),
        F.count_distinct(F.to_date("ts")).alias("n_days"),
    )
    rates = c.select(
        "event_type",
        "is_weekend",
        (F.col("n") / (1.0 * F.col("n_days"))).alias("per_day"),
    )
    w = rates.where(F.col("is_weekend")).select(
        "event_type", F.col("per_day").alias("wk")
    )
    d = rates.where(~F.col("is_weekend")).select(
        "event_type", F.col("per_day").alias("wd")
    )
    return w.join(d, "event_type").select(
        "event_type",
        F.round("wk", 4).alias("weekend_per_day"),
        F.round("wd", 4).alias("weekday_per_day"),
        F.round(F.col("wk") / F.col("wd"), 4).alias("weekend_lift"),
    )


@query(
    "ts_repurchase_gap",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS mu
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    )
    SELECT user_id, event_id,
           (lead(mu) OVER w - mu) AS us_to_next_purchase,
           (lead(mu) OVER w IS NULL) AS is_latest
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY mu, event_id NULLS FIRST)
    """,
)
def ts_repurchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase gap: for every purchase, the exact microseconds
    until the same user's NEXT purchase — the inter-purchase-interval
    distribution behind churn models and replenishment reminders. The
    user's latest purchase carries NULL and an is_latest flag (it is
    censored, not zero — survival analysis needs that distinction).
    One lead() over the user-keyed purchase stream; integer
    microsecond arithmetic. NULL event times are excluded (null-ts
    doctrine)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", epoch_micros("ts").alias("mu")
    )
    w = Window.partitionBy("user_id").orderBy("mu", "event_id")
    nxt = F.lead("mu").over(w)
    return p.select(
        "user_id",
        "event_id",
        (nxt - F.col("mu")).alias("us_to_next_purchase"),
        nxt.isNull().alias("is_latest"),
    )


@query(
    "win_time_in_state",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts::TIMESTAMP) AS mu
        FROM events
    ), d AS (
        SELECT event_type,
               lead(mu) OVER (PARTITION BY user_id
                              ORDER BY mu, event_id NULLS FIRST) - mu AS dwell
        FROM e
    )
    SELECT event_type,
           count(dwell)::BIGINT AS n_intervals,
           sum(dwell)::BIGINT AS total_dwell_us,
           (sum(dwell) // count(dwell))::BIGINT AS avg_dwell_us
    FROM d WHERE dwell IS NOT NULL
    GROUP BY event_type
    """,
)
def win_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state: each inter-event interval attributed to the
    STATE the user was in (the earlier event's type), rolled up to
    per-state dwell totals — the session-time-by-activity breakdown a
    UX or capacity analysis reads. One lead() per user stream, exact
    integer microseconds; each user's final event has no successor
    and is excluded (open interval, not zero). Integer division for
    the average keeps the output exact."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("mu", "event_id")
    e = ev.select(
        "user_id", "event_id", "event_type",
        epoch_micros("ts").alias("mu"),
    )
    d = e.select(
        "event_type",
        (F.lead("mu").over(w) - F.col("mu")).alias("dwell"),
    ).where(F.col("dwell").isNotNull())
    return d.groupBy("event_type").agg(
        F.count("dwell").alias("n_intervals"),
        F.sum("dwell").alias("total_dwell_us"),
        F.floor(F.sum("dwell") / F.count("dwell")).cast("long").alias(
            "avg_dwell_us"
        ),
    )


@query(
    "ts_burst_detection",
    oracle="""
    WITH h AS (
        SELECT event_type,
               date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS hour,
               count(*)::BIGINT AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), base AS (
        SELECT event_type, hour, n,
               sum(n) OVER w AS trail_sum,
               count(*) OVER w AS trail_n
        FROM h
        WINDOW w AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, n,
           (trail_sum // trail_n)::BIGINT AS baseline,
           (n * trail_n > 2 * trail_sum) AS is_burst
    FROM base WHERE trail_n = 24
    """,
)
def ts_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hours whose count exceeds 2× the trailing-24h
    average — the rate-spike alarm (ts_peak_detection finds local
    shape; this compares against a day-long baseline). The burst test
    is exact-integer cross-multiplication (n·24 > 2·Σ), the baseline
    an integer floor division, and only hours with a FULL 24-hour
    trailing window emit — no partial-baseline semantics to diverge
    on. Window over the hourly rollup, constant rows per series.
    NULL event times are excluded (null-ts doctrine)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    h = ev.groupBy(
        "event_type", trunc_ntz("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    base = h.select(
        "event_type",
        "hour",
        "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count("*").over(w).alias("trail_n"),
    ).where(F.col("trail_n") == 24)
    return base.select(
        "event_type",
        "hour",
        "n",
        F.floor(F.col("trail_sum") / F.col("trail_n")).cast("long").alias(
            "baseline"
        ),
        (
            F.col("n") * F.col("trail_n") > 2 * F.col("trail_sum")
        ).alias("is_burst"),
    )


@query(
    "ts_max_drawdown",
    oracle="""
    WITH v AS (
        SELECT event_type, ts::TIMESTAMP AS tsu, event_id,
               TRY_CAST(round(value * 100) AS BIGINT) - 2000 AS delta_c
        FROM events
        WHERE ts IS NOT NULL
    ), curve AS (
        SELECT event_type, tsu, event_id, delta_c,
               sum(delta_c) OVER w AS equity
        FROM v
        WINDOW w AS (PARTITION BY event_type
                     ORDER BY tsu, event_id NULLS FIRST, delta_c NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), peaked AS (
        SELECT event_type, equity,
               max(equity) OVER w2 AS run_peak
        FROM curve
        WINDOW w2 AS (PARTITION BY event_type
                      ORDER BY tsu, event_id NULLS FIRST, delta_c NULLS FIRST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           max(run_peak - equity)::BIGINT AS max_drawdown_c,
           max(equity)::BIGINT AS peak_equity_c,
           min(equity)::BIGINT AS trough_equity_c
    FROM peaked
    GROUP BY event_type
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each series' cumulative-value curve: the
    deepest peak-to-trough fall of the running sum of centered cent
    deltas — the risk statistic that, unlike variance, captures ORDER
    (the same values shuffled give a different drawdown). Running sum
    then running max then max(gap): three windows sharing ONE
    partition+order spec (one shuffle, one sort), all exact
    integers. NULL event times are excluded (null-ts doctrine: the
    curve IS the time order)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    delta = cents("value") - 2000
    # delta is the FINAL tie-break (dup_ids axis): an order-sensitive
    # running sum must be total-ordered even across duplicate event_ids
    w = Window.partitionBy("event_type").orderBy("ts", "event_id", delta)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve = ev.select(
        "event_type",
        F.sum(delta).over(run).alias("equity"),
        "ts",
        "event_id",
        delta.alias("delta_c"),
    )
    # identical sort keys as w, so the two windows still share one sort
    w2 = Window.partitionBy("event_type").orderBy(
        "ts", "event_id", "delta_c"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    peaked = curve.select(
        "event_type",
        "equity",
        F.max("equity").over(w2).alias("run_peak"),
    )
    return peaked.groupBy("event_type").agg(
        F.max(F.col("run_peak") - F.col("equity")).alias(
            "max_drawdown_c"
        ),
        F.max("equity").alias("peak_equity_c"),
        F.min("equity").alias("trough_equity_c"),
    )


@query(
    "ts_isoweek_rollup",
    oracle="""
    SELECT isoyear(ts::TIMESTAMP)::INTEGER AS iso_year,
           weekofyear(ts::TIMESTAMP)::INTEGER AS iso_week,
           count(*) AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users,
           sum(TRY_CAST(round(value * 100) AS BIGINT))::BIGINT
               AS value_cents
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ts_isoweek_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly rollup keyed by (ISO year, ISO week) — the
    YEAR-BOUNDARY-SAFE weekly aggregation. Naive `(year(ts),
    weekofyear(ts))` keys SPLIT boundary weeks in half: 2024-12-30 is
    ISO week 1 of 2025 but calendar-year 2024, and 2021-01-01 is ISO
    week 53 of 2020 — pairing week-of-year with the CALENDAR year
    assigns those days to weeks (2024, 1) and (2021, 53) that don't
    exist, splitting one physical week into two rollup rows at every
    year boundary (exactly the round-8 clock-axis wall-clocks). Spark's
    `extract(YEAROFWEEK ...)` == DuckDB's `isoyear()` (both ISO 8601,
    probed on the boundary days). Single partial-aggregated shuffle on
    the composite key; NULL event times excluded per the null-ts
    doctrine (a row with no event time has no week)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())

    return ev.groupBy(
        F.expr("extract(YEAROFWEEK FROM ts)").cast("int").alias("iso_year"),
        F.weekofyear("ts").cast("int").alias("iso_week"),
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(cents("value")).alias("value_cents"),
    )


@query(
    "ts_vwap",
    oracle="""
    SELECT date_trunc('month', l_shipdate::TIMESTAMP)::TIMESTAMP AS month,
           l_returnflag,
           sum(TRY_CAST(round(l_quantity) AS BIGINT))::BIGINT AS qty_sum,
           sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
               AS price_cents,
           sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))
               / (100.0 * sum(TRY_CAST(round(l_quantity) AS BIGINT)))
               AS vwap
    FROM lineitem
    WHERE l_shipdate IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per (ship month, returnflag) — the
    finance-style rollup where a plain avg(price) is wrong because each
    row carries a quantity weight.

    Determinism is the integer-sums rule (SURVEY §5.4): price goes to
    exact cents, quantity to an exact integer, BOTH sums aggregate as
    bigints (order-free), and the vwap is ONE double division of two
    exact integers — both engines divide the same pair, so the result
    is bit-identical with no rounding needed to hide drift. One
    partial-aggregated shuffle on the composite key; at 100 TB the
    month×flag key space is tiny, so the map-side combine collapses
    virtually all rows before the exchange."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull()
    )
    qty = F.round("l_quantity", 0).try_cast("long")
    return (
        li.groupBy(
            trunc_ntz("month", "l_shipdate").alias("month"),
            "l_returnflag",
        )
        .agg(
            F.sum(qty).alias("qty_sum"),
            F.sum(cents("l_extendedprice")).alias("price_cents"),
        )
        .select(
            "month",
            "l_returnflag",
            "qty_sum",
            "price_cents",
            (F.col("price_cents") / (100.0 * F.col("qty_sum"))).alias(
                "vwap"
            ),
        )
    )
