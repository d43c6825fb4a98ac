"""Aggregation operators (SURVEY.md §2-E).

Every grouped aggregate here compiles to partial (map-side) + final
HashAggregate around one shuffle keyed on the group columns — the MR
combiner pattern, automatic. Double-valued aggregates are rounded (shared
determinism rule, SURVEY §5.4.2) so the order-insensitive value-hash
survives FP summation-order differences between engines.

q1_pricing_summary is the TPC-H Q1 adaptation — the headline aggregation
benchmark shape (BASELINE.md row 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pymapreduce_spark.functions.checked import cents, dec2, finite, trunc_ntz
from pymapreduce_spark.io import load_table
from pymapreduce_spark.registry import query


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(TRY_CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
           sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
           sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
               AS sum_disc_price,
           sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT))
               * (100 + TRY_CAST(round(l_tax * 100) AS BIGINT))) / 1000000.0
               AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan aggregation into 6 groups.

    Money sums run in exact integer-cents (see functions.checked):
    ~4.5× faster than decimal aggregation, bit-identical to the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    pc, dc, tc = cents("l_extendedprice"), cents("l_discount"), cents("l_tax")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(pc) / 100.0).alias("sum_base_price"),
            (F.sum(pc * (100 - dc)) / 10000.0).alias("sum_disc_price"),
            (F.sum(pc * (100 - dc) * (100 + tc)) / 1000000.0).alias(
                "sum_charge"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_basic",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           round(avg(o_totalprice), 4) AS avg_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/sum/avg/min/max per group."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price,
           round(avg(l_discount), 6) AS avg_discount
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation without grouping → single row."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — planned as a two-phase expand+aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


def approx_distinct_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic frame for agg_approx_distinct: every row carries
    (approx, exact, abs_err, within_tol) so tests can bound the actual
    HLL++ error (tests/test_llm.py::test_approx_count_distinct_tolerance)."""
    orders = load_table(spark, sf_dir, "orders")
    out = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.count_distinct("o_custkey").alias("exact_customers"),
    )
    abs_err = F.abs(F.col("approx_customers") - F.col("exact_customers"))
    return out.select(
        "o_orderstatus",
        "approx_customers",
        "exact_customers",
        abs_err.alias("abs_err"),
        (abs_err <= 3 * 0.02 * F.col("exact_customers")).alias("within_tol"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS exact_customers,
           true AS within_tol
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ cardinality next to the exact count. At 100 TB the approx
    variant is the only one that doesn't need a distinct-expand shuffle.

    Hash-checkable despite being approximate: the output is the exact
    count plus ``within_tol`` = (|approx − exact| ≤ 3×rsd×exact),
    computed Spark-side with rsd=0.02; the oracle expects every group
    to read (exact, true). A sketch drifting out of tolerance flips the
    boolean and fails the driver's value hash — the tolerance claim IS
    the checked row set. The raw approx/abs_err diagnostics live in
    approx_distinct_rich (engine-specific values can't hash-match)."""
    return approx_distinct_rich(spark, sf_dir).select(
        "o_orderstatus", "exact_customers", "within_tol"
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(median(CASE WHEN isfinite(o_totalprice)
                        THEN o_totalprice END), 4) AS median_price,
           round(quantile_cont(CASE WHEN isfinite(o_totalprice)
                               THEN o_totalprice END, 0.90), 4) AS p90_price,
           round(quantile_cont(CASE WHEN isfinite(o_totalprice)
                               THEN o_totalprice END, 0.99), 4) AS p99_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / interpolated percentiles (Spark `percentile` ≡
    DuckDB `quantile_cont`). The approx variant for 100 TB is
    percentile_approx — exercised in agg_percentile_approx.

    Order statistics are defined over FINITE observations (the
    agg_histogram doctrine, extended corpus-wide by the round-8
    extreme_measures axis): the engines interpolate against NaN/±Inf
    differently, and a percentile of Inf is meaningless anyway."""
    orders = load_table(spark, sf_dir, "orders")
    v = finite("o_totalprice")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.median(v), 4).alias("median_price"),
        F.round(F.percentile(v, 0.90), 4).alias("p90_price"),
        F.round(F.percentile(v, 0.99), 4).alias("p99_price"),
    )


def percentile_approx_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic frame for agg_percentile_approx: (approx, exact,
    abs_err, within_tol) per group, for the tolerance test in
    tests/test_llm.py::test_percentile_approx_tolerance."""
    orders = load_table(spark, sf_dir, "orders")
    out = orders.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median"),
        F.round(F.median("o_totalprice"), 4).alias("exact_median"),
        # the middle ORDER-STATISTIC pair: the sketch returns an actual
        # data value, so at even n it is rank-perfect yet up to a full
        # gap away from the INTERPOLATED exact median (a 2-row group:
        # approx 1.0 vs exact 2.0 — round-7 tiny axis). Rank
        # correctness = approx within [lo, hi].
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("lo"),
        (
            -F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY -o_totalprice)"
            )
        ).alias("hi"),
    )
    abs_err = F.round(
        F.abs(F.col("approx_median") - F.col("exact_median")), 4
    )
    return out.select(
        "o_orderstatus",
        "approx_median",
        "exact_median",
        abs_err.alias("abs_err"),
        (
            (abs_err <= 0.01 * F.col("exact_median"))
            | F.col("approx_median").between(F.col("lo"), F.col("hi"))
        ).alias("within_tol"),
    )


@query(
    "agg_percentile_approx",
    oracle="""
    SELECT o_orderstatus,
           round(median(o_totalprice), 4) AS exact_median,
           true AS within_tol
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentile — the mergeable-sketch
    path that scales (exact percentile needs the whole group).

    Hash-checkable tolerance claim: output = (exact_median, within_tol)
    with ``within_tol`` = (|approx − exact| ≤ 1% of exact) computed
    Spark-side; the oracle expects (exact, true) per group, so a sketch
    out of tolerance fails the driver's value hash. At accuracy=10000
    the GK rank error is ≤ 1/10000 — 1% value tolerance is generous.
    Raw approx/abs_err diagnostics: percentile_approx_rich."""
    return percentile_approx_rich(spark, sf_dir).select(
        "o_orderstatus", "exact_median", "within_tol"
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END)), 4) AS std_price,
           round(var_pop(l_quantity), 4) AS var_qty,
           round(covar_pop(l_quantity, (CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END))
                 / (stddev_pop(l_quantity) * stddev_pop((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END))),
                 4) AS corr_qty_price,
           round(covar_samp(l_quantity, (CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END)), 4) AS covar_qty_price,
           round(CASE
                     -- n = FINITE price observations (they are what
                     -- Spark's skewness actually aggregates)
                     WHEN count(CASE WHEN isfinite(l_extendedprice) THEN 1 END) >= 3
                     THEN skewness((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END))
                          * (count(CASE WHEN isfinite(l_extendedprice) THEN 1 END) - 2)
                          / sqrt(count(CASE WHEN isfinite(l_extendedprice) THEN 1 END)
                                 * (count(CASE WHEN isfinite(l_extendedprice) THEN 1 END) - 1.0))
                     -- population g1 of TWO distinct points is exactly
                     -- 0 (symmetric deviations cube away); Spark emits
                     -- it while sample G1 needs n>=3 and returns NULL
                     -- (round-7 tiny axis). Two EQUAL points: zero
                     -- variance, NULL in both engines.
                     WHEN count(CASE WHEN isfinite(l_extendedprice) THEN 1 END) = 2
                          AND var_pop((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END)) > 0
                     THEN 0.0
                 END, 4) AS skew_price,
           round(kurtosis_pop((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END)), 4) AS kurt_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments per group.

    Estimator alignment: Spark's skewness/kurtosis are POPULATION
    moments (g1, excess g2); DuckDB's defaults are sample-corrected
    (G1, bias-corrected kurtosis). The oracle converts G1 → g1
    (× (n−2)/√(n(n−1))) and uses kurtosis_pop, so the values agree at
    every group size — at sf0.01 the difference hid below round(4),
    at sf0.001 it surfaced (caught by the cross-SF oracle sweep).

    Correlation is covar_pop / (σx·σy) via try_divide rather than
    builtin corr: a zero-variance column (the total-tie axis makes
    l_quantity constant) sends corr's internal m2 division to 0/0,
    which ANSI Spark turns into a DIVIDE_BY_ZERO crash — Spark's
    skewness/kurtosis handle the same case gracefully (NULL), corr
    does not. try_divide yields NULL, matching DuckDB; the oracle
    mirrors the identical formula so both engines associate the same
    FP operations."""
    li = load_table(spark, sf_dir, "lineitem")
    # moments are defined over FINITE observations (extreme_measures
    # axis: DuckDB's stddev raises Out of Range on ±Inf, Spark emits
    # NaN — neither is a statistic)
    price = finite("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp(price), 4).alias("std_price"),
        F.round(F.var_pop("l_quantity"), 4).alias("var_qty"),
        F.round(
            F.try_divide(
                F.covar_pop("l_quantity", price),
                F.stddev_pop("l_quantity")
                * F.stddev_pop(price),
            ),
            4,
        ).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", price), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.skewness(price), 4).alias("skew_price"),
        F.round(F.kurtosis(price), 4).alias("kurt_price"),
    )


@query(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           max(struct_pack(p := o_totalprice, k := o_orderkey))['k']
               AS priciest_order,
           min(struct_pack(p := o_totalprice, k := o_orderkey))['k']
               AS cheapest_order
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin (max_by/min_by) with a TOTAL ordering key: the
    price is tie-broken by the unique orderkey (max side keeps the
    largest key, min side the smallest). Bare max_by(key, price) is
    engine-nondeterministic the moment two orders share a price —
    latent on the continuous-double fixture, exposed the instant the
    total-tie axis made o_totalprice constant. DuckDB's arg_max
    rejects struct ordering keys, so the oracle uses the equivalent
    max-of-struct with the key as the trailing field (lexicographic
    struct comparison == the tie-broken argmax on both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    ordkey = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return orders.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", ordkey).alias("priciest_order"),
        F.min_by("o_orderkey", ordkey).alias("cheapest_order"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), '|')
               AS event_types,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect group values into a set; array_sort for determinism
    (SURVEY §5.4.4 — unsorted collect_set hash-checks
    nondeterministically). The checked output is the '|'-joined string:
    engines represent list cells differently (numpy vs native), and a
    flat string removes that canonicalization dependency."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), "|").alias(
            "event_types"
        ),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_first_last_any",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER (
               PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_type
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id NULLS FIRST)
    """,
)
def agg_first_last_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last with an *explicit* ordering (frame over the full
    partition) — the only deterministic form (SURVEY §5.4.4). NULL
    event times are excluded (null-ts doctrine: they would be "first"
    in Spark's ordering and "last" in DuckDB's)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(full).alias("first_type"),
            F.last("event_type").over(full).alias("last_type"),
        )
        .distinct()
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; NULL group columns mark subtotal rows
    (fixture group columns are never NULL, so no ambiguity)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All subtotal combinations (2^k grouping sets)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL front-end (E2 entry point,
    SURVEY §3.2)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT c_mktsegment,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide crosstab: segment × order-status counts. Pivot values are
    listed explicitly (no extra distinct-values job; required at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "c_mktsegment",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@query(
    "agg_time_window",
    oracle="""
    SELECT date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS window_start,
           event_type,
           count(*) AS n_events,
           sum(TRY_CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling time-window aggregation (1 h buckets by type) —
    the batch twin of stream_tumbling and the BASELINE.md 'events
    tumbling' row. date_trunc keeps the bucket computation inside
    codegen; one shuffle on (bucket, type)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            trunc_ntz("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
    )


def hll_mergeable_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic frame for agg_hll_mergeable: approx next to exact with
    abs_err/within_tol, for tests/test_llm.py's ±5% accuracy check.
    NULL event times are excluded (null-ts doctrine: no day, no
    sketch partition — and the exact side must count the same rows
    the sketches saw)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", trunc_ntz("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
            "approx_distinct_users"
        ),
        F.count("*").alias("n_daily_sketches"),
    )
    # Exact distinct count alongside (fine at test scale; at 100 TB you
    # would persist only the sketches), with the error bound the sketch
    # promises (±5% at lgK default 12).
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct_users")
    )
    abs_err = F.abs(
        F.col("approx_distinct_users") - F.col("exact_distinct_users")
    )
    # Null-SAFE join key: a NULL event_type is a legitimate group in
    # both aggregates, and a plain equi-join would silently drop it
    # (NULL != NULL) — the per-group sketches would vanish exactly for
    # the dirtiest slice of the data.
    exact = exact.withColumnRenamed("event_type", "et_exact")
    return merged.join(
        F.broadcast(exact),
        merged["event_type"].eqNullSafe(exact["et_exact"]),
    ).select(
        "event_type",
        "approx_distinct_users",
        "exact_distinct_users",
        "n_daily_sketches",
        abs_err.alias("abs_err"),
        (abs_err <= 0.05 * F.col("exact_distinct_users")).alias("within_tol"),
    )


@query(
    "agg_hll_mergeable",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_distinct_users,
           count(DISTINCT date_trunc('day', ts)) AS n_daily_sketches,
           true AS within_tol
    FROM events
    -- null-ts doctrine: the daily-sketch layout IS the time axis; a
    -- row with no day cannot be sketched into it (and count DISTINCT
    -- day skips NULL while Spark's groupBy keeps the NULL-day group —
    -- the n_daily_sketches split the round-7 null-ts axis caught)
    WHERE ts IS NOT NULL
    GROUP BY event_type
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via
    F.hll_sketch_agg) — THE 100 TB distinct-count pattern: build one
    small sketch per (event_type, day) partition, then answer
    "distinct users per type over any date range" by unioning sketches
    (hll_union_agg) instead of re-scanning raw events. The daily
    pre-aggregate is what you'd persist; the union is bytes-sized work
    no matter how large the raw table was.

    Hash-checkable: output = (exact count, number of daily sketches
    merged, within_tol), where ``within_tol`` = (|estimate − exact| ≤
    5% of exact) is computed Spark-side from the real sketch union; the
    oracle expects (exact, n_days, true). Estimate drift flips the
    boolean and fails the value hash. Raw estimates: hll_mergeable_rich."""
    return hll_mergeable_rich(spark, sf_dir).select(
        "event_type", "exact_distinct_users", "n_daily_sketches", "within_tol"
    )


def bitmap_distinct_buckets(ev: DataFrame) -> DataFrame:
    """The per-(group, bucket) bitmap build stage of
    :func:`agg_bitmap_distinct` — factored out so its plan shape (one
    hash aggregate folding OR-able bitmaps, NO Expand) is assertable
    in tests/test_plans.py even though the operator materializes this
    stage (at 100 TB the per-bucket bitmap table is what you persist;
    every downstream slice reads it instead of raw events)."""
    return ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(user_id))"
        ).alias("bm"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS n_users,
           count(*) AS n_obs,
           (SELECT count(DISTINCT user_id) FROM events
            WHERE user_id IS NOT NULL)::BIGINT AS n_users_corpus
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counts via bitmap aggregation
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    — the roaring-bitmap pattern, agg_hll_mergeable's exact sibling):
    ids hash-place into 32k-bit bucket bitmaps, the per-bucket OR-fold
    is a fully partial-aggregable single-buffer accumulator, and the
    distinct count is Σ bitmap_count per bucket. At 100 TB this beats
    count_distinct's shuffle-every-id expansion whenever ids repeat:
    the exchange carries one ≤4 KB bitmap per (group, bucket) instead
    of every distinct id, and — unlike HLL — with zero error.

    Mergeability is exercised, not just claimed: the same per-bucket
    bitmaps (:func:`bitmap_distinct_buckets`, materialized ONCE — the
    persisted-bitmap-table pattern; Catalyst would otherwise plan a
    second events scan since the two consumers prune different
    columns) feed TWO consumers — the per-type counts, and a
    corpus-wide distinct-user count re-derived by bitmap_or_agg across
    types (exactly how persisted per-partition bitmaps answer
    cross-slice questions without re-scanning raw data). NULL user_ids
    carry no identity and are excluded on both sides; a NULL
    event_type is a real group and kept. Verified exact against
    count(DISTINCT) for negative / zero / >2³² ids (buckets are
    signed-value-ranged)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    per_bucket = bitmap_distinct_buckets(ev).localCheckpoint(eager=True)
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users"),
        F.sum("n_rows").alias("n_obs"),
    )
    corpus = (
        per_bucket.groupBy("bkt")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
        .agg(F.sum("c").alias("n_users_corpus"))
    )
    return per_type.crossJoin(F.broadcast(corpus)).select(
        "event_type", "n_users", "n_obs", "n_users_corpus"
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
        SELECT user_id % 100 AS bucket, event_type, count(*) AS n
        FROM events GROUP BY bucket, event_type
    )
    SELECT bucket, event_type AS mode_type, n
    FROM (SELECT *, row_number() OVER (
              PARTITION BY bucket ORDER BY n DESC, event_type) AS rn
          FROM c)
    WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: most frequent event_type per user bucket,
    ties broken by value order. Spark's F.mode (and DuckDB's mode())
    pick an ARBITRARY survivor on ties — SURVEY §5.4.4 bans that in
    checked output, so mode is rebuilt as count + rank with a total
    tie-break: two shuffles, both partial-aggregated map-side."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        (F.col("user_id") % 100).alias("bucket"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("bucket").orderBy(F.desc("n"), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("bucket", F.col("event_type").alias("mode_type"), "n")
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT TRY_CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           count(*) AS n,
           sum(TRY_CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (bucket = ⌊value/50⌋) over purchase
    events — the distribution profile that feeds skew detection and
    bucket-boundary planning. One partial-aggregated shuffle keyed by
    bucket; bucket ids are exact integer floors so both engines bin
    identically (fixture values are 2-decimal, never AT a boundary
    within double error). The quotient is gated to the int64-castable
    range [-2^63, 2^63) before flooring: Spark's floor(double→long)
    SATURATES at Long.MaxValue for huge-but-finite doubles while the
    oracle's TRY_CAST(floor(...) AS BIGINT) yields NULL there — without
    the gate a >1.8e20 value would silently split into its own
    saturated bucket instead of the NULL bucket both engines agree on."""
    ev = load_table(spark, sf_dir, "events")
    q = finite("value") / 50.0
    in_i64 = (q >= -9.223372036854776e18) & (q < 9.223372036854776e18)
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.floor(F.when(in_i64, q)).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           round(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                     * TRY_CAST(round(l_quantity * 100) AS BIGINT))::DOUBLE
                 / sum(TRY_CAST(round(l_quantity * 100) AS BIGINT))::DOUBLE / 100.0,
                 6) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag — the ratio-of-
    sums aggregate (Σwx/Σw). Both sums stay exact integers (cents ×
    centi-units) so the ONLY float operation is the final division,
    rounded once; a naive avg(w*x) weights by row count and is simply
    wrong, which is why this gets its own checked query."""
    li = load_table(spark, sf_dir, "lineitem")
    num = F.sum(cents("l_extendedprice") * cents("l_quantity"))
    den = F.sum(cents("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        F.round(
            num.cast("double") / den.cast("double") / 100.0, 6
        ).alias("wavg_price")
    )


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH f AS (
        SELECT unnest(str_split(text, ' ')) AS word FROM documents
    ), c AS (
        SELECT word, count(*) AS cnt FROM f GROUP BY word
    ), t AS (
        SELECT sum(cnt)::DOUBLE AS total FROM c
    )
    SELECT word, cnt, round(cnt / total, 6) AS support
    FROM c, t
    WHERE cnt / total >= 0.005
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items / heavy-hitters with RELATIVE support: corpus
    tokens carrying ≥ 0.5% of all token mass. Differs from top-k in that
    the output size is data-dependent and the threshold needs the global
    total — computed by a second tiny aggregate and broadcast back
    (aggregate-then-broadcast, never a driver-side collect loop).

    100 TB: the word counts partial-aggregate map-side; the global total
    is one scalar crossJoin broadcast. For a one-pass approximate
    variant under memory bounds, see `agg_hll_mergeable` (sketch
    doctrine) — here exact counts are the contract."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") / F.col("total") >= 0.005)
        .select(
            "word",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("support"),
        )
    )


#: KLL retains every value verbatim (zero compactions) while n <= k,
#: so for groups this small the sketch's quantile answers are EXACT
#: order statistics — rank-perfect by construction.
_KLL_K = 200


def _kll_p50_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared KLL core: per-(returnflag, linestatus) sketches merged up
    to returnflag, exposing n/p25/p50/p75. Both agg levels are
    partial-aggregable single-shuffle plans; the merge is an array
    reduce over the handful of fine-stratum sketches per group."""
    li = load_table(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.kll_sketch_agg_bigint(
            cents("l_extendedprice"), F.lit(_KLL_K)
        ).alias("sk")
    )
    merged = fine.groupBy("l_returnflag").agg(
        F.collect_list("sk").alias("sks")
    ).select(
        "l_returnflag",
        F.expr(
            "reduce(slice(sks, 2, size(sks) - 1), sks[0],"
            " (acc, x) -> kll_sketch_merge_bigint(acc, x))"
        ).alias("sk"),
    )
    return merged.select(
        "l_returnflag",
        F.kll_sketch_get_n_bigint("sk").alias("n_rows"),
        (F.kll_sketch_get_quantile_bigint("sk", F.lit(0.25)) / 100.0).alias("p25_price"),
        (F.kll_sketch_get_quantile_bigint("sk", F.lit(0.5)) / 100.0).alias("p50_price"),
        (F.kll_sketch_get_quantile_bigint("sk", F.lit(0.75)) / 100.0).alias("p75_price"),
    )


def sketch_quantiles_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic frame for agg_sketch_quantiles: the raw p25/p50/p75
    KLL estimates next to the exact median AND the exact middle-pair
    envelope (percentile_disc both directions), for the rank-error
    test in tests/test_llm.py::test_kll_sketch_quantile_tolerance.
    The envelope columns live HERE, not in the checked/benched path
    (round-7 verdict, task 3): three exact order-statistic aggregates
    per group buffer the whole column three times, and the sketch
    exists precisely so the timed path never pays that."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = _kll_p50_approx(spark, sf_dir)
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("exact_p50_price"),
        # rank-correctness envelope: the sketch answers with a data
        # value (a cent), so at even n it sits a full order-statistic
        # gap from the interpolated median — within the middle pair is
        # within tolerance at any n (round-7 tiny axis)
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("lo"),
        (
            -F.expr(
                "percentile_disc(0.5) WITHIN GROUP"
                " (ORDER BY -l_extendedprice)"
            )
        ).alias("hi"),
    )
    abs_err = F.round(
        F.abs(F.col("p50_price") - F.col("exact_p50_price")), 4
    )
    return approx.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "p25_price",
        "p50_price",
        "p75_price",
        "exact_p50_price",
        abs_err.alias("abs_err"),
        (
            (abs_err <= 0.05 * F.col("exact_p50_price"))
            | F.col("p50_price").between(F.col("lo"), F.col("hi"))
        ).alias("within_tol"),
    )


@query(
    "agg_sketch_quantiles",
    oracle="""
    SELECT l_returnflag,
           -- the KLL sketch's own n counts FINITE observations only
           -- (extreme_measures axis: it skips NaN and ±Inf)
           count(CASE WHEN isfinite(l_extendedprice) THEN 1 END)
               AS n_rows,
           round(median(CASE WHEN isfinite(l_extendedprice)
                        THEN l_extendedprice END), 4) AS exact_p50_price,
           true AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketches (Apache DataSketches, built into
    Spark 4.x) — the scale path for percentiles.

    Exact percentiles need a full sort (or all values in one reducer);
    at 100 TB that's the canonical anti-pattern. KLL sketches are
    fixed-size (k=200 → a few KB), mergeable, and carry proven rank
    error (~1.3% at 99% confidence), so the natural layout is: sketch
    per fine-grained stratum (here returnflag×linestatus — in
    production, per day/partition), persist the sketches, and answer
    any coarser rollup by MERGING sketches instead of rescanning data.
    Both agg levels are partial-aggregable single-shuffle plans.

    Hash-checkable despite randomized compaction: output = (row count
    from the sketch's own n, exact median, within_tol) where
    ``within_tol`` = (|sketch p50 − exact| ≤ 5% of exact) OR
    (n_rows ≤ k): while n ≤ k the KLL sketch has compacted NOTHING —
    it holds every value verbatim, so its answer is an exact order
    statistic whose only possible deviation from the INTERPOLATED
    median is the middle-pair half-gap at even n (rank-perfect, round-7
    tiny axis). That clause replaces the percentile_disc middle-pair
    envelope this path used to compute (round-7 verdict, task 3): the
    timed query now pays for the sketch plus ONE exact median (the
    oracle needs it) instead of three full order-statistic buffers per
    group. The oracle expects (count(*), exact, true) — n_rows also
    proves the sketch saw every row.

    Single scan (r14 verdict #7, guide §6 "read once"): the sketch and
    the exact median are two aggregates of ONE groupBy — one FileScan,
    one exchange, no join — where this path used to scan lineitem
    twice (sketch arm + exact arm) and broadcast-join the arms. Both
    are TypedImperativeAggregates, so they share one partial+merge
    ObjectHashAggregate pair. The fine-stratum sketch-MERGE layout
    (sketch per returnflag×linestatus, rolled up by kll_sketch_merge —
    the production persist-and-merge pattern) lives on in
    ``_kll_p50_approx``/``sketch_quantiles_rich`` with its rank-error
    test; the benched path builds the returnflag sketch directly,
    which is the same estimator (partial aggregation already merges
    per-partition sketches) minus one exchange level. Raw p25/p50/p75
    estimates and the exact envelope: sketch_quantiles_rich."""
    li = load_table(spark, sf_dir, "lineitem")
    one = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_bigint(
            cents("l_extendedprice"), F.lit(_KLL_K)
        ).alias("sk"),
        F.round(F.median(finite("l_extendedprice")), 4).alias(
            "exact_p50_price"
        ),
    )
    n_rows = F.kll_sketch_get_n_bigint("sk")
    p50 = F.kll_sketch_get_quantile_bigint("sk", F.lit(0.5)) / 100.0
    abs_err = F.abs(p50 - F.col("exact_p50_price"))
    return one.select(
        "l_returnflag",
        n_rows.alias("n_rows"),
        "exact_p50_price",
        (
            (abs_err <= 0.05 * F.col("exact_p50_price"))
            | (n_rows <= _KLL_K)
        ).alias("within_tol"),
    )


@query(
    "agg_regression",
    oracle="""
    WITH s AS (
        SELECT l_linestatus,
               count(*)::HUGEINT AS n,
               sum(TRY_CAST(round(l_quantity * 100) AS BIGINT))::HUGEINT AS sx,
               sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))::HUGEINT AS sy,
               sum(TRY_CAST(round(l_quantity * 100) AS BIGINT)
                   * TRY_CAST(round(l_extendedprice * 100) AS BIGINT))::HUGEINT AS sxy,
               sum(TRY_CAST(round(l_quantity * 100) AS BIGINT)
                   * TRY_CAST(round(l_quantity * 100) AS BIGINT))::HUGEINT AS sxx
        FROM lineitem
        GROUP BY l_linestatus
    )
    SELECT l_linestatus,
           n::BIGINT AS n_rows,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS slope,
           round((sy * sxx - sx * sxy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE / 100.0, 6) AS intercept
    FROM s
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares regression (price ~ quantity) via the
    closed-form normal equations over exact integer sums.

    ``F.regr_slope`` exists but accumulates in IEEE doubles, so its
    low-order bits depend on partition merge order — unusable under the
    driver's exact value-hash. Instead the five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) are summed as integer cents — one map-side
    partial-aggregable shuffle, same cost as any groupBy — and the
    slope/intercept are formed in DECIMAL(38,0) cross-products (n·Σxy
    overflows a long at ~10⁹ rows) with ONE final double division,
    which is bit-identical in both engines. This is also the mergeable
    form: the five sums compose across partitions/days like a sketch,
    with zero error."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = cents("l_quantity"), cents("l_extendedprice")
    s = li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    d38 = "decimal(38,0)"
    n, sx, sy, sxy, sxx = (F.col(c).cast(d38) for c in ("n", "sx", "sy", "sxy", "sxx"))
    det = n * sxx - sx * sx
    return s.select(
        "l_linestatus",
        F.col("n").alias("n_rows"),
        # try_divide, not `/`: ANSI Spark throws DIVIDE_BY_ZERO even for
        # DOUBLE division (det = 0 when x is constant within a group —
        # the total-tie axis), while DuckDB yields NULL; try_divide's
        # NULL matches the oracle exactly.
        F.round(
            F.try_divide(
                (n * sxy - sx * sy).cast("double"), det.cast("double")
            ),
            6,
        ).alias("slope"),
        F.round(
            F.try_divide(
                (sy * sxx - sx * sxy).cast("double"), det.cast("double")
            )
            / 100.0,
            6,
        ).alias("intercept"),
    )


@query(
    "agg_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id,
               count(*) FILTER (event_type = 'view')::BIGINT AS c_view,
               count(*) FILTER (event_type = 'click')::BIGINT AS c_click,
               count(*) FILTER (event_type = 'signup')::BIGINT AS c_signup,
               count(*) FILTER (event_type = 'purchase')::BIGINT
                   AS c_purchase,
               count(*) FILTER (event_type = 'error')::BIGINT AS c_error,
               count(*)::BIGINT AS n
        FROM events GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           round(
             (CASE WHEN c_view > 0 THEN
                -(c_view / (1.0 * n)) * ln(c_view / (1.0 * n))
              ELSE 0 END)
           + (CASE WHEN c_click > 0 THEN
                -(c_click / (1.0 * n)) * ln(c_click / (1.0 * n))
              ELSE 0 END)
           + (CASE WHEN c_signup > 0 THEN
                -(c_signup / (1.0 * n)) * ln(c_signup / (1.0 * n))
              ELSE 0 END)
           + (CASE WHEN c_purchase > 0 THEN
                -(c_purchase / (1.0 * n)) * ln(c_purchase / (1.0 * n))
              ELSE 0 END)
           + (CASE WHEN c_error > 0 THEN
                -(c_error / (1.0 * n)) * ln(c_error / (1.0 * n))
              ELSE 0 END), 6) AS entropy
    FROM c
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity profile (bot detection flags near-zero
    entropy; engaged users sit near ln 5).

    Determinism by construction: the five per-type counts come from ONE
    conditional aggregate (one shuffle, map-side combined), and the
    entropy is a FIXED-ORDER sum of five closed-form terms over those
    exact integers — never an aggregate over per-row -p·ln p values,
    whose accumulation order engines choose freely. Both engines
    evaluate the identical expression tree; round(6) is cosmetic."""
    ev = load_table(spark, sf_dir, "events")
    types = ["view", "click", "signup", "purchase", "error"]
    counts = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"c_{t}")
        for t in types
    ]
    c = ev.groupBy("user_id").agg(*counts, F.count("*").alias("n"))
    n = F.col("n")

    def term(t: str):
        ct = F.col(f"c_{t}")
        p = ct / (1.0 * n)
        return F.when(ct > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    entropy = term(types[0])
    for t in types[1:]:
        entropy = entropy + term(t)
    return c.select(
        "user_id",
        n.alias("n_events"),
        F.round(entropy, 6).alias("entropy"),
    )


@query(
    "agg_gini",
    oracle="""
    WITH c AS (
        -- non-finite prices have no cents and are NOT observations:
        -- a NULL in the rank window orders NULLS FIRST in Spark and
        -- NULLS LAST in DuckDB (extreme_measures axis)
        SELECT o_orderpriority,
               TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
        WHERE TRY_CAST(round(o_totalprice * 100) AS BIGINT) IS NOT NULL
    ), ranked AS (
        SELECT o_orderpriority, cents,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY cents, o_orderkey) AS i
        FROM c
    ), sums AS (
        SELECT o_orderpriority,
               count(*)::BIGINT AS n,
               sum(cents)::BIGINT AS s,
               sum(i * cents)::BIGINT AS si
        FROM ranked GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           round((2.0 * si) / (1.0 * n * s) - (n + 1.0) / n, 6) AS gini
    FROM sums
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per priority class — the
    concentration metric a data-mixing or revenue analysis reports
    (0 = perfectly even, →1 = one order dominates).

    Computed from the closed form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    rank-sorted values: the rank comes from one per-group window with a
    total tiebreak (cents, orderkey), and Σ(i·x) / Σx / n are EXACT
    integer aggregates (cents ≤ 6×10⁷, i ≤ n → products fit int64), so
    the only doubles are two final divisions on identical operands.
    One shuffle for the window, one for the group aggregate — the same
    two-exchange shape as any ranked statistic at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    # non-finite prices are not observations (extreme_measures axis)
    c = orders.select(
        "o_orderpriority",
        cents("o_totalprice").alias("cents"),
        "o_orderkey",
    ).where(F.col("cents").isNotNull())
    w = Window.partitionBy("o_orderpriority").orderBy(
        "cents", "o_orderkey"
    )
    ranked = c.withColumn("i", F.row_number().over(w).cast("long"))
    sums = ranked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("si"),
    )
    n, s, si = F.col("n"), F.col("s"), F.col("si")
    gini = (2.0 * si) / (1.0 * n * s) - (n + 1.0) / n
    return sums.select(
        "o_orderpriority", "n", F.round(gini, 6).alias("gini")
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           bool_and(value > 0) AS all_positive,
           bool_or(value > 400) AS any_large,
           count(*) FILTER (value > 400)::BIGINT AS n_large
    FROM events
    GROUP BY event_type
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: bool_and / bool_or / count_if — the
    predicate-rollup surface (SLA checks, invariant monitoring) that
    turns per-row assertions into per-group verdicts in one partial-
    aggregable pass. All three are single-bit accumulators, the
    cheapest aggregates that exist at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 400).alias("any_large"),
        F.count_if(F.col("value") > 400).alias("n_large"),
    )


@query(
    "agg_bitmask_types",
    oracle="""
    WITH m AS (
        SELECT user_id,
               CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'purchase' THEN 8
                    ELSE 16 END AS bit
        FROM events
    )
    SELECT user_id,
           bit_or(bit)::BIGINT AS types_mask,
           bit_and(bit | 32)::BIGINT AS common_mask,
           bit_xor(bit)::BIGINT AS parity_mask
    FROM m GROUP BY user_id
    """,
)
def agg_bitmask_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_or / bit_and / bit_xor): encode
    each event type as a bit and fold per user — types_mask is the
    8-byte set-of-types-seen (the roaring-bitmap idea at its
    smallest), common_mask/parity_mask exercise the other two folds.
    Bitwise folds are associative+commutative single-word
    accumulators: perfectly partial-aggregable, the cheapest
    set-summary that exists at 100 TB (compare agg_collect, which
    materializes the set)."""
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "purchase", 8)
        .otherwise(16)
    ).cast("long")
    return (
        ev.select("user_id", bit.alias("bit"))
        .groupBy("user_id")
        .agg(
            F.bit_or("bit").alias("types_mask"),
            F.bit_and(F.col("bit").bitwiseOR(F.lit(32))).alias(
                "common_mask"
            ),
            F.bit_xor("bit").alias("parity_mask"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH c AS (
        SELECT l_linestatus,
               TRY_CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               TRY_CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
               l_orderkey, l_partkey
        FROM lineitem
        -- non-finite prices are not observations (extreme_measures
        -- axis: NULL price_c ranks NULLS FIRST/LAST differently)
        WHERE TRY_CAST(round(l_extendedprice * 100) AS BIGINT) IS NOT NULL
    ), ranked AS (
        SELECT l_linestatus, price_c, qty_c,
               sum(qty_c) OVER (
                   PARTITION BY l_linestatus
                   ORDER BY price_c, l_orderkey, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cum_w,
               sum(qty_c) OVER (PARTITION BY l_linestatus)::BIGINT
                   AS total_w
        FROM c
    )
    SELECT l_linestatus,
           min(price_c) FILTER (cum_w * 2 >= total_w) / 100.0
               AS weighted_median_price
    FROM ranked GROUP BY l_linestatus
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per line status: the first price
    whose cumulative weight reaches half the total — the robust center
    when rows carry different weights (agg_percentile treats every row
    equally; a 100-unit line should pull the median 100× harder).

    Spelled exact-integer end to end: cent-scaled weights, a totally
    ordered cumulative-weight window (price, then key tiebreaks), and
    the half-total test as cum·2 ≥ total — no float boundary anywhere
    until the final /100.0 display division. One shuffle for the
    window (the partition total shares it), one rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_linestatus",
        cents("l_extendedprice").alias("price_c"),
        cents("l_quantity").alias("qty_c"),
        "l_orderkey",
        "l_partkey",
    ).where(F.col("price_c").isNotNull())
    wp = Window.partitionBy("l_linestatus")
    wo = wp.orderBy("price_c", "l_orderkey", "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = c.select(
        "l_linestatus",
        "price_c",
        F.sum("qty_c").over(wo).alias("cum_w"),
        F.sum("qty_c").over(wp).alias("total_w"),
    )
    hit = F.col("cum_w") * 2 >= F.col("total_w")
    return ranked.groupBy("l_linestatus").agg(
        (F.min(F.when(hit, F.col("price_c"))) / 100.0).alias(
            "weighted_median_price"
        )
    )


@query(
    "agg_covariance_matrix",
    oracle="""
    WITH c AS (
        SELECT l_linestatus,
               TRY_CAST(round(l_quantity * 100) AS BIGINT) AS x,
               TRY_CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
               TRY_CAST(round(l_discount * 100) AS BIGINT) AS z
        FROM lineitem
    ), s AS (
        SELECT l_linestatus, count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(z)::BIGINT AS sz,
               sum(x * y)::BIGINT AS sxy, sum(x * z)::BIGINT AS sxz,
               sum(y * z)::BIGINT AS syz
        FROM c GROUP BY l_linestatus
    )
    SELECT l_linestatus, n,
           round((sxy - sx / (1.0 * n) * sy) / (n - 1.0), 4) AS cov_qty_price,
           round((sxz - sx / (1.0 * n) * sz) / (n - 1.0), 4) AS cov_qty_disc,
           round((syz - sy / (1.0 * n) * sz) / (n - 1.0), 4) AS cov_price_disc
    FROM s
    """,
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise sample covariances of three metrics in ONE pass: the
    upper triangle of the covariance matrix assembled from eight exact
    integer sufficient statistics (n, Σx, Σy, Σz, Σxy, Σxz, Σyz) —
    agg_stats covers one pair via the engine's covar; this is the
    multivariate form every feature-correlation sweep needs, and the
    sufficient-statistic formulation is what makes it ONE shuffle
    regardless of how many pairs (engines' covar_samp would re-scan
    per pair). All products fit int64 at cent scale; the closed-form
    divisions run on identical operands in a fixed order."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_linestatus",
        cents("l_quantity").alias("x"),
        cents("l_extendedprice").alias("y"),
        cents("l_discount").alias("z"),
    )
    s = c.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )
    n = F.col("n")

    def cov(spq, sp, sq):
        # try_divide: a single-observation group has no sample
        # covariance — NULL, matching DuckDB's x/0.0 (ANSI Spark
        # throws DIVIDE_BY_ZERO even for doubles; round-7 tiny axis)
        return F.round(
            F.try_divide(
                F.col(spq) - F.col(sp) / (1.0 * n) * F.col(sq),
                n - 1.0,
            ),
            4,
        )

    return s.select(
        "l_linestatus",
        "n",
        cov("sxy", "sx", "sy").alias("cov_qty_price"),
        cov("sxz", "sx", "sz").alias("cov_qty_disc"),
        cov("syz", "sy", "sz").alias("cov_price_disc"),
    )


@query(
    "agg_tail_ratio",
    oracle="""
    SELECT event_type,
           round(quantile_cont(CASE WHEN isfinite(value) THEN value END,
                               0.50), 6) AS p50,
           round(quantile_cont(CASE WHEN isfinite(value) THEN value END,
                               0.99), 6) AS p99,
           round(quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.99)
                 / quantile_cont(CASE WHEN isfinite(value) THEN value END,
                                 0.50), 4) AS tail_ratio
    FROM events GROUP BY event_type
    """,
)
def agg_tail_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-heaviness index: P99/P50 per series — the single number an
    SLO or cost review reads first (a ratio near 1 is a tight
    distribution; 10× means the tail owns the budget). Exact
    interpolated percentiles in one partial-aggregable pass; the
    ratio divides the same two doubles both engines produced.
    Non-finite observations are excluded (``finite()``): Spark's
    percentile sorts NaN greatest while DuckDB's quantile_cont
    NaN behavior differs — a damaged measurement must not shift a
    robust statistic in either engine (round-7 nan_inf axis)."""
    ev = load_table(spark, sf_dir, "events")
    v = finite("value")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile(v, 0.50), 6).alias("p50"),
        F.round(F.percentile(v, 0.99), 6).alias("p99"),
        F.round(
            F.percentile(v, 0.99) / F.percentile(v, 0.50),
            4,
        ).alias("tail_ratio"),
    )


@query(
    "agg_share_of_total",
    oracle="""
    WITH g AS (
        SELECT event_type, count(*)::BIGINT AS n,
               sum(TRY_CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        FROM events GROUP BY event_type
    ), t AS (
        SELECT sum(n)::BIGINT AS tn, sum(cents)::BIGINT AS tc FROM g
    )
    SELECT event_type, n,
           round(n / (1.0 * tn), 6) AS event_share,
           round(cents / (1.0 * tc), 6) AS value_share
    FROM g, t
    """,
)
def agg_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total report: each group's fraction of overall event
    count and value — the percent-of-whole column every summary table
    carries. Aggregate-then-broadcast: the grand total is a one-row
    cross join onto the per-group aggregate (never a window over raw
    rows); shares divide exact integer sums."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).alias("cents"),
    )
    t = g.agg(F.sum("n").alias("tn"), F.sum("cents").alias("tc"))
    return g.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n",
        F.round(F.col("n") / (1.0 * F.col("tn")), 6).alias(
            "event_share"
        ),
        F.round(F.col("cents") / (1.0 * F.col("tc")), 6).alias(
            "value_share"
        ),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS n_users,
           count(DISTINCT (ts::TIMESTAMP)::DATE)::BIGINT AS n_days,
           count(*)::BIGINT AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates over different columns in ONE
    query — the planning case single-distinct queries never hit:
    Catalyst rewrites via an Expand node (one row replica per distinct
    set) so both distincts resolve in a single aggregation pipeline
    rather than a self-join of separate queries. Worth covering
    because naive hand-splitting into two queries scans the fact table
    twice at 100 TB; the Expand form scans once."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(F.to_date("ts")).alias("n_days"),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_geometric_mean",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(exp(sum(ln(value)) / count(*)), 4) AS geo_mean,
           round(avg(value), 4) AS arith_mean
    FROM events WHERE value > 0
    GROUP BY event_type
    """,
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per series (exp of the mean log) next to the
    arithmetic mean — the right average for multiplicative quantities
    (growth factors, latency ratios), always ≤ the arithmetic mean.
    Positive-only by filter (ln is undefined otherwise — filtered
    explicitly, not coerced); round(4) absorbs the cross-engine
    summation-order ulps in the double log-sum exactly as the repo's
    other double averages do."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.exp(F.sum(F.log("value")) / F.count("*")), 4
        ).alias("geo_mean"),
        F.round(F.avg("value"), 4).alias("arith_mean"),
    )


@query(
    "agg_mad",
    oracle="""
    WITH med AS (
        SELECT event_type,
               quantile_cont(CASE WHEN isfinite(value) THEN value END,
                             0.5) AS m
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(med.m, 6) AS median_value,
           round(quantile_cont(abs((CASE WHEN isfinite(e.value)
                                    THEN e.value END) - med.m),
                               0.5), 6) AS mad
    FROM events e JOIN med ON e.event_type = med.event_type
    GROUP BY e.event_type, med.m
    """,
)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per series — the robust scale
    estimate (the σ that outliers cannot inflate), read next to the
    IQR fences (win_outlier_iqr) when setting robust thresholds.
    Inherently two-pass: the per-group median broadcasts back onto
    the scan, then the median of absolute deviations — both exact
    interpolated percentiles, identical in both engines, with every
    deviation computed from the same broadcast median double."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile(finite("value"), 0.5).alias("m")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(
            F.round(
                F.percentile(F.abs(finite("value") - F.col("m")), 0.5), 6
            ).alias("mad")
        )
        .select(
            "event_type",
            F.round("m", 6).alias("median_value"),
            "mad",
        )
    )


@query(
    "agg_cms_heavy_hitters",
    oracle="""
    SELECT event_type,
           count(*) AS exact_n,
           true AS cms_ge_exact,
           true AS cms_within_eps
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates (Apache DataSketches-style,
    built into Spark as ``count_min_sketch``) — the mergeable scale
    path for per-key frequencies, completing the sketch family next to
    KLL quantiles (agg_sketch_quantiles) and HLL distinct counts
    (agg_hll_mergeable).

    At 100 TB the exact per-key count is one partial-aggregated shuffle
    — fine ONCE, but a sketch is a few KB, mergeable across partitions/
    days, and answers ANY later point query without rescanning. The SQL
    aggregate is itself partial-aggregable (map-side sketch merge); the
    finished sketch is collected (ONE ~11 KB binary — driver-bounded by
    construction) and re-queried through the same JVM implementation
    the aggregate used, so build and probe hash identically.

    Hash-checkable despite the probabilistic structure: the seed is
    fixed, so estimates are deterministic; the checked columns are the
    CMS *guarantees* — est ≥ exact always (CMS never undercounts), and
    est ≤ exact + ⌈eps·N⌉ with confidence 0.99 (with seed pinned this
    is a fixed fact of the fixture, verified at all SFs). NULL keys are
    excluded on both sides: the SQL aggregate skips NULL inputs, so a
    NULL group would have no sketch entry to probe."""
    eps, conf, seed = 0.01, 0.99, 42
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    sk = ev.agg(
        F.count_min_sketch(
            "event_type", F.lit(eps), F.lit(conf), F.lit(seed)
        ).alias("sk")
    ).first()["sk"]
    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact_n"))
    if sk is None:  # empty relation: exact is empty too, emit its shape
        return exact.select(
            "event_type",
            "exact_n",
            F.lit(True).alias("cms_ge_exact"),
            F.lit(True).alias("cms_within_eps"),
        )
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(sk))
    total = cms.totalCount()
    # distinct keys are the fixture's event taxonomy (≤ ~13 even on the
    # unicode-key axis) — a bounded dimension, never data-sized
    keys = [r["event_type"] for r in exact.select("event_type").collect()]
    est = {k: int(cms.estimateCount(k)) for k in keys}
    est_col = F.element_at(
        F.create_map(
            *[F.lit(x) for k in keys for x in (k, est[k])]
        ),
        F.col("event_type"),
    )
    slack = int(eps * total) + 1
    return exact.select(
        "event_type",
        "exact_n",
        (est_col >= F.col("exact_n")).alias("cms_ge_exact"),
        (est_col <= F.col("exact_n") + F.lit(slack)).alias("cms_within_eps"),
    )
