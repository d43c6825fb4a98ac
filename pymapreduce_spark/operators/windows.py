"""Window function operators (SURVEY.md §2-F).

One shuffle per distinct (partitionBy, orderBy) spec; queries that share a
spec share the exchange. Running/moving frames stay in-memory per
partition — at 100 TB the partition key (custkey/user_id) bounds state,
never the total input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pymapreduce_spark.functions.checked import cents, epoch_micros
from pymapreduce_spark.io import load_table
from pymapreduce_spark.registry import query


@query(
    "win_ranking",
    oracle="""
    SELECT o_orderkey, o_custkey,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank/ntile/percent_rank/cume_dist with a
    fully deterministic ordering (price desc, key tiebreak)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           lag(event_type, 1) OVER w AS prev_type,
           lead(event_type, 1) OVER w AS next_type,
           epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP), 1) OVER w
               AS micros_since_prev
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id NULLS FIRST)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset access (lag/lead) + inter-event gap as exact integer µs
    (float seconds would be rounding-tie-sensitive across engines).

    NULL event times are excluded (README doctrine: a row without a
    time cannot be placed on the time axis — Spark default-orders
    NULLS FIRST, DuckDB NULLS LAST, so keeping them silently splits
    every lag/lead neighbor near one; round-7 null-ts axis)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = epoch_micros(F.col("ts"))
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        (micros - F.lag(micros, 1).over(w)).alias("micros_since_prev"),
    )


@query(
    "win_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total,
           round(avg(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
               AS moving_avg_3
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 3-row moving average per customer."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_total"),
        F.round(
            F.avg("o_totalprice").over(w.rowsBetween(-2, Window.currentRow)),
            4,
        ).alias("moving_avg_3"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)::BIGINT
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2)
               AS trailing_7d_total
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame: trailing 7 calendar days (604800 s) per
    customer, ordered by epoch seconds so the frame bound is numeric and
    identical in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-604800, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_7d_total"),
    )


@query(
    "win_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS latest_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-relative first/last/nth over the full partition (explicit
    frame — default frames make last_value nondeterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 5
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders per market segment: rank-then-filter. Catalyst 4.x
    pushes the rn<=5 limit into the window sort (WindowGroupLimit), so
    no partition materializes fully at scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        joined.select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
    )


@query(
    "win_distinct_running",
    oracle="""
    SELECT event_id, user_id,
           len(list_distinct(list(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts::TIMESTAMP, event_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
               AS n_types_seen
    FROM events
    WHERE user_id < 200 AND ts IS NOT NULL
    """,
)
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per key — how many distinct event types
    each user has produced so far. Neither engine allows DISTINCT
    aggregates in a window frame, so both sides use the same identity:
    size(array_distinct(collect_list(x) over frame)). State per row is
    bounded by the type-domain cardinality (5 here), so the frame array
    never grows past it after dedup — at scale, cap the frame or switch
    to a transformWithState stream for unbounded domains."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.where(
        # NULL ts excluded: time-ordered running state (null-ts axis)
        (F.col("user_id") < 200) & F.col("ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w))).alias(
            "n_types_seen"
        ),
    )


@query(
    "win_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, (ts::TIMESTAMP)::DATE AS d FROM events
    ), grp AS (
        SELECT user_id, d,
               d - row_number() OVER (PARTITION BY user_id ORDER BY d)
                   ::INTEGER AS anchor
        FROM days
    ), streaks AS (
        SELECT user_id, anchor, count(*)::BIGINT AS len
        FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           sum(len)::BIGINT AS n_active_days,
           count(*)::BIGINT AS n_streaks,
           max(len)::BIGINT AS longest_streak
    FROM streaks GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's activity streaks over calendar
    days — longest run of consecutive active days, streak count, total
    active days. The retention metric every engagement dashboard
    computes, and the canonical date − row_number() anchor trick: days
    in one unbroken run share an anchor, so streaks fall out of a
    plain groupBy.

    One shuffle on user_id for the distinct+window, then two
    partial-aggregable groupBys; everything is exact dates/integers.
    At 100 TB the window partitions by user — no global sort, state
    bounded by a user's active-day count."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    grp = days.select(
        "user_id",
        F.expr("date_sub(d, cast(row_number() over "
               "(partition by user_id order by d) as int))").alias(
            "anchor"
        ),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


@query(
    "win_rolling_median",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type, ts::TIMESTAMP AS tsu,
               TRY_CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
        WHERE ts IS NOT NULL
    )
    SELECT event_id, event_type,
           median(vc) OVER (
               PARTITION BY event_type
               ORDER BY tsu, event_id NULLS FIRST, vc NULLS FIRST
               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW
           ) / 100.0 AS rolling_median
    FROM v
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of `value` over each series' trailing
    21-row frame — the robust centerline a metrics pipeline prefers
    over a mean that outliers drag.

    Spark has no median window function; the frame's cent-scaled
    integers are collected per row (bounded: ≤ 21 elements), sorted,
    and the middle picked — element_at for odd frames, the mean of the
    two middles for even ones. DuckDB's frame `median()` interpolates
    identically on integers, and every quantity up to the final /100.0
    is exact, so the differential is rounding-free. At 100 TB the
    frame bound (not the partition size) caps per-row state — this is
    the one windows-family op whose state is O(frame), and the frame
    is a constant. NULL event times are excluded (null-ts axis)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    vc = cents("value")
    # vc is the FINAL tie-break (dup_ids axis): duplicate event_ids
    # with different payloads need a total order for the frame walk
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id", vc)
        .rowsBetween(-20, 0)
    )
    frame = F.array_sort(F.collect_list(vc).over(w))
    n = F.size(frame)
    mid_hi = F.element_at(frame, (n / 2 + 1).cast("int"))
    odd = F.element_at(frame, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(frame, (n / 2).cast("int")) + mid_hi
    ) / 2.0
    # NULL values are skipped by collect_list (and by DuckDB's window
    # median), so a frame can be EMPTY — element_at(frame, 0) throws
    # INVALID_INDEX_OF_ZERO. Guard first; the branch is only evaluated
    # when taken, so the n == 0 case never touches element_at.
    median_c = (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, odd.cast("double"))
        .otherwise(even)
    )
    return ev.select(
        "event_id",
        "event_type",
        (median_c / 100.0).alias("rolling_median"),
    )


@query(
    "win_pareto",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority,
               TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        FROM orders
    ), ranked AS (
        SELECT o_orderpriority, cents, o_orderkey,
               sum(cents) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY cents DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cum_cents,
               sum(cents) OVER (
                   PARTITION BY o_orderpriority
               )::BIGINT AS total_cents,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY cents DESC, o_orderkey) AS rnk
        FROM c
    )
    SELECT o_orderpriority,
           count(*) FILTER (
               (cum_cents - cents) * 5 < total_cents * 4
           )::BIGINT AS n_orders_to_80pct,
           count(*)::BIGINT AS n_orders,
           round(count(*) FILTER (
               (cum_cents - cents) * 5 < total_cents * 4
           ) / (1.0 * count(*)), 6) AS pareto_ratio
    FROM ranked GROUP BY o_orderpriority
    """,
)
def win_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-share analysis: per priority class, how many
    top orders carry 80% of the value — the concentration question
    behind every 80/20 revenue or data-budget decision (agg_gini gives
    the index; this gives the actionable head count).

    An order counts while the share BEFORE it is under 80%, spelled
    exact-integer ((cum−x)·5 < total·4) so no float boundary exists.
    One descending rank window and the partition total share a single
    shuffle; the final rollup is a conditional count — two exchanges
    total, the ranked-statistic shape."""
    orders = load_table(spark, sf_dir, "orders")
    from pymapreduce_spark.functions.checked import cents as cents_col

    c = orders.select(
        "o_orderpriority",
        cents_col("o_totalprice").alias("cents"),
        "o_orderkey",
    )
    wp = Window.partitionBy("o_orderpriority")
    wo = wp.orderBy(F.desc("cents"), "o_orderkey")
    ranked = c.select(
        "o_orderpriority",
        "cents",
        F.sum("cents")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_cents"),
        F.sum("cents").over(wp).alias("total_cents"),
    )
    in_head = (
        (F.col("cum_cents") - F.col("cents")) * 5
        < F.col("total_cents") * 4
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.count(F.when(in_head, 1)).alias("n_orders_to_80pct"),
        F.count("*").alias("n_orders"),
        F.round(
            F.count(F.when(in_head, 1)) / (1.0 * F.count("*")), 6
        ).alias("pareto_ratio"),
    )


@query(
    "win_outlier_iqr",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(CASE WHEN isfinite(value) THEN value END,
                             0.25) AS q1,
               quantile_cont(CASE WHEN isfinite(value) THEN value END,
                             0.75) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           count(*) FILTER (
               (CASE WHEN isfinite(e.value) THEN e.value END)
                   > q.q3 + 1.5 * (q.q3 - q.q1)
           )::BIGINT AS n_high_outliers,
           round(q.q3 + 1.5 * (q.q3 - q.q1), 6) AS high_fence
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type, q.q1, q.q3
    """,
)
def win_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection: per-series exact quartiles set
    the 1.5×IQR high fence and rows above it are counted — the robust
    complement to z-scores (ts_anomaly_zscore), immune to the
    outliers it hunts. Two-pass by design: a per-group quartile
    aggregate (group-cardinality rows, broadcast back onto the scan)
    then one conditional count — never a per-row window carrying the
    whole partition to rank against. Both engines interpolate
    quantile_cont identically and the fence arithmetic runs on those
    identical doubles."""
    from pymapreduce_spark.functions.checked import finite

    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile(finite("value"), 0.25).alias("q1"),
        F.percentile(finite("value"), 0.75).alias("q3"),
    )
    fence = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(finite("value") > fence, 1)).alias(
                "n_high_outliers"
            ),
            F.round(F.max(fence), 6).alias("high_fence"),
        )
        .drop("q1", "q3")
    )


@query(
    "win_moving_slope",
    oracle="""
    WITH e AS (
        SELECT event_id, event_type, ts::TIMESTAMP AS tsu, value,
               TRY_CAST(round(value * 100) AS BIGINT) AS cy
        FROM events
        WHERE ts IS NOT NULL
          AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
    ), framed AS (
        SELECT event_id, event_type,
               -- NULLS FIRST: Spark ASC defaults NULLS FIRST, DuckDB
               -- NULLS LAST — a NULL event_id (null-ids axis) must
               -- occupy the same frame slot in both engines
               list(cy) OVER (
                   PARTITION BY event_type
                   ORDER BY tsu, event_id ASC NULLS FIRST, value
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
               ) AS ys
        FROM e
    ), stats AS (
        SELECT event_id, event_type,
               len(ys)::BIGINT AS m,
               list_sum(ys)::BIGINT AS sy,
               list_sum(list_transform(range(1, len(ys) + 1),
                        i -> (i - 1) * ys[i]))::BIGINT AS sxy
        FROM framed
    )
    SELECT event_id, event_type, m AS n_obs,
           CASE WHEN m >= 2 THEN
               (m * sxy - ((m * (m - 1)) // 2) * sy)::DOUBLE
               / (m * (((m - 1) * m * (2 * m - 1)) // 6)
                  - ((m * (m - 1)) // 2) * ((m * (m - 1)) // 2))
           END AS slope_cents
    FROM stats
    """,
)
def win_moving_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling least-squares slope over each series' last 8
    observations — the trend detector a monitoring pipeline runs where
    a moving average lags (agg_regression is the GLOBAL per-group fit;
    this is its windowed sibling). x is the observation index inside
    the frame, y the value in integer cents, so the OLS closed form
    (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²) is computed entirely from EXACT
    integer sums — Σx and Σx² collapse to integer formulas of the frame
    length — and emitted as ONE double division, bit-identical across
    engines with no rounding (SURVEY §5.4).

    Rows whose value has no usable magnitude (NULL / non-finite /
    overflow — the cents contract) are excluded from the SERIES before
    windowing, mirroring ts_ewma: DuckDB's list_sum skips NULL elements
    while Spark's aggregate() fold propagates them, so a NULL inside
    the frame is the one shape the engines disagree on — it must never
    reach the frame. Partitioned window, explicit (ts, event_id,
    value) total order (dup-ids doctrine); single-row frames emit NULL
    (a slope needs two points).

    Spark side uses EIGHT lag columns instead of a collect_list frame
    (the ts_ewma transformation): element x-position of lag_j in an
    m-row frame is m−1−j, so Σxy = Σ_j (m−1−j)·lag_j and Σy = Σ_j
    lag_j with missing lags contributing exact zeros (j ≥ m ⇒ lag_j is
    NULL ⇒ coalesce 0, and its m−1−j weight multiplies that zero) —
    term-for-term the oracle's list fold, with no per-row array
    allocation or HOF lambda in the hot path. Honest A/B (interleaved
    median-of-7 at sf0.1): lag 0.74 s vs list 0.78 s — inside this
    host's noise band; the window SORT dominates at this frame width,
    so the lag form's win here is allocation pressure, not measured
    wall-clock (unlike ewma, whose fold was ~15%)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .withColumn("cy", cents("value"))
        .where(F.col("cy").isNotNull())
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id", "value")
    m = F.least(F.row_number().over(w), F.lit(8)).cast("long")
    sy = None
    sxy = None
    for j in range(8):
        term = F.coalesce(F.lag("cy", j).over(w), F.lit(0).cast("long"))
        sy = term if sy is None else sy + term
        wterm = (m - 1 - j) * term
        sxy = wterm if sxy is None else sxy + wterm
    stats = ev.select(
        "event_id",
        "event_type",
        m.alias("m"),
        sy.alias("sy"),
        sxy.alias("sxy"),
    )
    sx = F.expr("(m * (m - 1)) DIV 2")
    sx2 = F.expr("((m - 1) * m * (2 * m - 1)) DIV 6")
    slope = F.when(
        F.col("m") >= 2,
        (F.col("m") * F.col("sxy") - sx * F.col("sy")).cast("double")
        / (F.col("m") * sx2 - sx * sx),
    )
    return stats.select(
        "event_id",
        "event_type",
        F.col("m").alias("n_obs"),
        slope.alias("slope_cents"),
    )
