"""Oracle-checked demonstrations of the MapReduceJob facade
(pymapreduce_spark/api.py) — proof the reference's programming model
runs end-to-end on this engine with byte-identical results.

These intentionally use the *Python* hooks (the slow-but-faithful MR
surface); every one has a declarative twin elsewhere in the registry
(mr_wordcount, mr_reduce) showing the scale path.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymapreduce_spark.api import MapReduceJob
from pymapreduce_spark.functions.checked import cents
from pymapreduce_spark.io import load_table, read_back, stable_scratch
from pymapreduce_spark.registry import query


def _finite_cents(x) -> int | None:
    """Integer cents of one Python money value, or None when it has no
    finite magnitude: the mapper-side twin of the oracles'
    ``TRY_CAST(round(x * 100) AS BIGINT)``. A NULL arrives as None or
    NaN, and damaged telemetry carries ±Inf; ``int(round(NaN))`` raises
    ValueError and ``int(round(inf))`` OverflowError, where TRY_CAST
    yields NULL (extreme_measures axis)."""
    return int(round(x * 100)) if x is not None and math.isfinite(x) else None


@query(
    "api_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt FROM (
        SELECT unnest(str_split(text, ' ')) AS word FROM documents
    ) GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
)
def api_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical wordcount written AS a MapReduce program against the
    facade: flat_map mapper → reduce_by_key reducer → top-k."""
    job = (
        MapReduceJob.from_table(spark, sf_dir, "documents")
        .select_expr("text")
        .flat_map(
            # NULL text → zero words, matching the oracle's unnest over
            # a NULL split (never .split on None)
            lambda row: (
                {"word": w}
                for w in (
                    row["text"].split(" ") if row["text"] is not None else []
                )
            ),
            schema="word string",
        )
        .reduce_by_key(
            ["word"],
            lambda key, rows: {"word": key[0], "cnt": len(rows)},
            schema="word string, cnt long",
        )
    )
    return job.to_df().orderBy(F.desc("cnt"), "word").limit(20)


@query(
    "api_pipeline",
    oracle="""
    SELECT user_id,
           count(*) AS n_purchases,
           sum(TRY_CAST(round(value * 100) AS BIGINT))::BIGINT AS total_cents
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def api_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A chained map→filter→reduce job: Python filter + mapper feeding a
    Python reducer, one DAG, no inter-job materialization."""
    job = (
        MapReduceJob.from_table(spark, sf_dir, "events")
        .filter(lambda row: row["event_type"] == "purchase")
        .map(
            lambda row: {
                "user_id": row["user_id"],
                "cents": _finite_cents(row["value"]),
            },
            schema="user_id long, cents long",
        )
        .reduce_by_key(
            ["user_id"],
            # SQL semantics: sum skips NULLs; all-NULL group sums NULL
            # (min_count=1 makes pandas agree); count(*) counts all rows
            lambda key, rows: {
                "user_id": key[0],
                "n_purchases": len(rows),
                "total_cents": (
                    None
                    if pd.isna(s := rows["cents"].sum(min_count=1))
                    else int(s)
                ),
            },
            schema="user_id long, n_purchases long, total_cents long",
        )
    )
    return job.to_df()


@query(
    "api_reduce_side_join",
    oracle="""
    SELECT n_name, count(s_suppkey) AS n_suppliers,
           coalesce(sum(TRY_CAST(round(s_acctbal * 100) AS BIGINT)), 0) / 100.0
               AS total_bal
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def api_reduce_side_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classical MapReduce reduce-side join, written AS a MapReduce
    program on the facade: both inputs map to a common (key, tag,
    payload) shape, union into one stream, and the reducer sees each
    key's full tagged group — exactly the textbook repartition-join.
    The declarative twin is join_inner_equi/join_left; this exists to
    prove the facade expresses the reference's join idiom verbatim.
    (Spark executes it as one shuffle on the key — same exchange count
    as the declarative join, minus broadcast opportunities: on 100 TB
    prefer the DataFrame join and let AQE pick the strategy.)

    Join-semantics note: the reducer emits one row PER dimension row in
    the key group (the textbook repartition join fans out on duplicate
    keys exactly like SQL), with a final reduce_agg merging same-named
    rows — ``names.iloc[0]`` here would pick an engine-arbitrary
    survivor the moment a nationkey is duplicated (a CDC feed applied
    twice), which is how the dup-key adversarial axis caught it."""
    sup = MapReduceJob.from_table(spark, sf_dir, "supplier").map(
        lambda r: {
            "key": int(r["s_nationkey"]),
            "tag": "s",
            "name": "",
            "bal_cents": _finite_cents(r["s_acctbal"]),
        },
        schema="key long, tag string, name string, bal_cents long",
    )
    nat = MapReduceJob.from_table(spark, sf_dir, "nation").map(
        lambda r: {
            "key": int(r["n_nationkey"]),
            "tag": "n",
            "name": r["n_name"],
            "bal_cents": 0,
        },
        schema="key long, tag string, name string, bal_cents long",
    )
    tagged = MapReduceJob.from_df(sup.to_df().unionByName(nat.to_df()))

    def join_reducer(key, rows):
        sups = rows[rows["tag"] == "s"]
        n_sup = int(len(sups))
        bal = int(sups["bal_cents"].sum())
        for name in rows.loc[rows["tag"] == "n", "name"]:
            yield {"n_name": name, "n_suppliers": n_sup, "bal_cents": bal}

    return (
        tagged.reduce_by_key(
            ["key"],
            join_reducer,
            schema="n_name string, n_suppliers long, bal_cents long",
        )
        .reduce_agg(
            ["n_name"],
            F.sum("n_suppliers").alias("n_suppliers"),
            (F.sum("bal_cents") / 100.0).alias("total_bal"),
        )
        .to_df()
    )


@query(
    "api_map_side_join",
    oracle="""
    SELECT n_name, count(*) AS n_suppliers,
           sum(TRY_CAST(round(s_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def api_map_side_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classical MapReduce map-side join: the small table ships to
    every mapper as a broadcast dict (the distributed cache) and the
    join is a lookup inside the map function — no shuffle for the join
    at all; the only exchange is the final aggregation. This is the
    Python-closure variant of the facade's declarative `join_cached`
    (which Catalyst would plan as a BroadcastHashJoin); the dict lookup
    here crosses the Arrow boundary, so on 100 TB prefer join_cached —
    the pattern parity, not the lookup, is the point.

    Join-semantics note: the broadcast maps key → LIST of names and the
    mapper flat-maps one row per match — a ``{key: name}`` dict keeps
    whichever duplicate it saw last (engine-arbitrary under dup dim
    keys, caught by the dup-key axis), and a bare ``dict[key]`` lookup
    crashes on an orphan FK where the SQL inner join drops the row."""
    nation = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()  # 25-row dim: aggregate-then-broadcast side data
    )
    lookup: dict[int, list] = {}
    for r in nation:
        if r.n_nationkey is not None:
            lookup.setdefault(int(r.n_nationkey), []).append(r.n_name)
    bc = spark.sparkContext.broadcast(lookup)

    def emit(r):
        k = r["s_nationkey"]
        if k is None or k != k:  # NULL key: inner join drops the row
            return []
        bal = _finite_cents(r["s_acctbal"])
        return [
            {"n_name": nm, "bal_cents": bal}
            for nm in bc.value.get(int(k), [])
        ]

    return (
        MapReduceJob.from_table(spark, sf_dir, "supplier")
        .flat_map(emit, schema="n_name string, bal_cents long")
        .reduce_agg(
            ["n_name"],
            F.count("*").alias("n_suppliers"),
            (F.sum("bal_cents") / 100.0).alias("total_bal"),
        )
        .to_df()
    )


@query(
    "api_secondary_sort",
    oracle="""
    WITH e AS (
        SELECT user_id, ts::TIMESTAMP AS tsu, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts::TIMESTAMP, event_id NULLS FIRST) AS rn
        FROM events
    )
    SELECT user_id,
           string_agg(CASE WHEN rn <= 8 THEN substr(event_type, 1, 1) END,
                      '' ORDER BY rn) AS journey,
           count(*)::BIGINT AS n_events,
           ((epoch_us(max(tsu)) - epoch_us(min(tsu))) // 1000000)::BIGINT
               AS span_seconds
    FROM e
    GROUP BY user_id
    """,
)
def api_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MR secondary sort on the facade: the reducer consumes each
    user's events ORDERED BY (ts, event_id) — the values-sorted
    contract Hadoop builds from a composite key + grouping comparator
    — and emits an order-sensitive result (the first-8-events journey
    string), which no unordered reducer could produce correctly.
    Declarative twin: a string_agg window (the oracle). One shuffle on
    user_id; the sort is per-group, bounded by a user's fan-in."""
    def journey_reducer(key, rows):
        mn = rows["ts"].min()
        mx = rows["ts"].max()
        # subtract as datetime.datetime: pandas Timestamp subtraction
        # materializes a ns-resolution Timedelta whose int64 bound is
        # ±292 years — a user whose events span farther (timestamp
        # outliers; ts-extreme audit) overflows, while datetime's
        # µs-resolution timedelta does not. NaT-guard for safety.
        if pd.isna(mn) or pd.isna(mx):
            span = None
        else:
            span = int(
                (mx.to_pydatetime() - mn.to_pydatetime()).total_seconds()
            )
        return {
            "user_id": int(key[0]),
            # skip NULL event types exactly as the oracle's string_agg
            # skips the NULL its CASE yields for them
            "journey": "".join(
                t[0]
                for t in rows["event_type"].head(8)
                if isinstance(t, str)
            ),
            "n_events": int(len(rows)),
            "span_seconds": span,
        }

    return (
        MapReduceJob.from_table(spark, sf_dir, "events")
        .select_expr("user_id", "ts", "event_id", "event_type")
        .reduce_by_key_sorted(
            ["user_id"],
            ["ts", "event_id"],
            journey_reducer,
            schema=(
                "user_id long, journey string, n_events long,"
                " span_seconds long"
            ),
        )
        .to_df()
    )


@query(
    "api_counters",
    oracle="""
    SELECT 'n_rows' AS counter, count(*)::BIGINT AS value FROM events
    UNION ALL
    SELECT 'n_purchases', count(*) FILTER (
        WHERE event_type = 'purchase')::BIGINT FROM events
    UNION ALL
    SELECT 'n_errors', count(*) FILTER (
        WHERE event_type = 'error')::BIGINT FROM events
    UNION ALL
    SELECT 'purchase_cents', coalesce(sum(CASE WHEN event_type = 'purchase'
        THEN TRY_CAST(round(value * 100) AS BIGINT) ELSE 0 END), 0)::BIGINT FROM events
    """,
)
def api_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MR task counters on the facade: named metrics observed on the
    rows flowing through a job, collected driver-side after one action
    — Spark's Observation (accumulator-backed) is the zero-extra-pass
    equivalent of Hadoop counters; the returned table is the counter
    snapshot, the bounded driver-side structure counters always were.
    The oracle recomputes each counter as a filtered aggregate."""
    job, obs = MapReduceJob.from_table(
        spark, sf_dir, "events"
    ).with_counters(
        n_rows=F.count(F.lit(1)),
        n_purchases=F.count(F.when(F.col("event_type") == "purchase", 1)),
        n_errors=F.count(F.when(F.col("event_type") == "error", 1)),
        purchase_cents=F.sum(
            F.when(
                F.col("event_type") == "purchase",
                cents("value"),
            ).otherwise(F.lit(0))
        ),
    )
    job.to_df().count()  # the action the counters piggyback on
    got = obs.get
    # a SUM observed over zero rows reports None — a counter that never
    # incremented is 0, not a crash (mirrored by coalesce in the oracle)
    return spark.createDataFrame(
        [
            (k, int(got[k]) if got[k] is not None else 0)
            for k in sorted(got)
        ],
        "counter string, value long",
    )


@query(
    "api_multi_output",
    oracle="""
    SELECT 'high_value' AS output_name,
           count(*) FILTER (value >= 100)::BIGINT AS n_rows,
           coalesce(sum(TRY_CAST(round(value * 100) AS BIGINT))
                    FILTER (value >= 100), 0)::BIGINT AS cents
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT 'standard',
           count(*) FILTER (value < 100)::BIGINT,
           coalesce(sum(TRY_CAST(round(value * 100) AS BIGINT))
                    FILTER (value < 100), 0)::BIGINT
    FROM events WHERE event_type = 'purchase'
    """,
)
def api_multi_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadoop's MultipleOutputs idiom: ONE pass over the input routes
    rows to two materialized outputs (high-value vs standard
    purchases) — the split-sink every triage/quarantine pipeline needs.
    The input is persisted so both writes share one scan (the facade
    twin of scan_jsonl_permissive's corrupt-record routing); each
    output is written partitioned-ready parquet and the returned
    manifest re-reads the SINKS, so the check covers the write paths,
    not the in-memory frames. At 100 TB prefer a single
    partitionBy(route) write when routes share a schema — two sinks
    only when downstream ownership differs."""
    purchases = (
        MapReduceJob.from_table(spark, sf_dir, "events")
        .where_expr("event_type = 'purchase'")
        .select_expr(
            "event_id",
            "user_id",
            "value",
            "TRY_CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .to_df()
        .persist()
    )
    base = stable_scratch(sf_dir, "multi_output")
    purchases.where(F.col("value") >= 100).write.mode("overwrite").parquet(
        base + "/high_value"
    )
    purchases.where(F.col("value") < 100).write.mode("overwrite").parquet(
        base + "/standard"
    )
    purchases.unpersist()
    out = []
    for name in ("high_value", "standard"):
        back = read_back(spark, f"{base}/{name}", purchases.schema)
        # An empty route (e.g. no purchase >= 100 at a skewed SF)
        # yields sum(cents) = NULL — coalesce to 0 like the oracle
        # instead of crashing on int(None).
        row = back.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("c"),
        ).first()
        out.append((name, int(row["n"]), int(row["c"])))
    return spark.createDataFrame(
        out, "output_name string, n_rows long, cents long"
    )
