"""Scale-technique operators: the shuffle-management patterns a 100 TB
deployment leans on, demonstrated as oracle-checked queries.

- Salted two-phase aggregation: THE mitigation for skewed group keys.
  The fixture's 5 event types are exactly the hot-key shape (100 k rows,
  5 keys → every row funnels to 5 reducers). Salting fans each hot key
  across 16 sub-keys for the heavy partial phase; the final phase
  aggregates 5×16 tiny partials.
- Bucketed co-located join: pre-bucketing both fact tables on the join
  key removes the per-query shuffle entirely — the table layout IS the
  exchange, amortized over every future join. The plan test asserts the
  join runs with zero hash exchanges.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pymapreduce_spark.functions.checked import cents, epoch_micros
from pymapreduce_spark.io import (
    artifact_path,
    derived_artifact,
    fixture_memo,
    load_table,
)
from pymapreduce_spark.registry import query


@query(
    "agg_salted_twophase",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           sum(TRY_CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation over 5 hot keys: phase 1 groups on
    (key, salt=event_id % 16) so the heavy partial aggregation spreads
    over 80 reducers; phase 2 merges 80 tiny partials. Result is
    identical to the direct groupBy (the oracle) — only the shuffle
    distribution changes. (AQE's skew handling covers joins; salting is
    the aggregation-side counterpart and composes with it.)"""
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", (F.col("event_id") % 16).cast("int"))
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("n_part"),
            F.sum(cents("value")).alias("cents_part"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("n_part").alias("n_events"),
        (F.sum("cents_part") / 100.0).alias("total_value"),
    )


#: The bucketed copies join_bucketed reads: (source table, join key).
_BUCKETED = (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, ...]:
    """Catalog tables over bucketed copies of orders/lineitem (8
    buckets, bucketed AND sorted by the join key), each named after its
    artifact dir.

    Each copy's files are built once per fixture stamp, as a derived
    artifact every process on the checkout shares. A session only
    registers its tables over them (once per session and stamp): it
    never rewrites the files, which another process may be reading.
    The tables are external, so dropping one keeps its files."""
    tag = re.sub(r"\W", "_", os.path.basename(artifact_path(sf_dir)))
    names, paths = [], []
    for src, col in _BUCKETED:
        name = f"{src}_bucketed_{tag}"

        def build(path: str) -> None:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                load_table(spark, sf_dir, src)
                .write.mode("overwrite")
                .format("parquet")
                .option("path", path)
                .bucketBy(8, col)
                .sortBy(col)
                .saveAsTable(name)
            )

        names.append(name)
        paths.append(derived_artifact(sf_dir, name, (src,), build))

    def register() -> tuple[str, ...]:
        for (src, col), name, path in zip(_BUCKETED, names, paths):
            columns = load_table(spark, sf_dir, src)._jdf.schema().toDDL()
            location = path.replace("\\", "\\\\").replace("'", "\\'")
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            spark.sql(
                f"CREATE TABLE {name} ({columns}) USING parquet "
                f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO 8 BUCKETS "
                f"LOCATION '{location}'"
            )
        return tuple(names)

    return fixture_memo(
        "bucketed", sf_dir, [src for src, _ in _BUCKETED], register, spark=spark
    )


@query(
    "join_bucketed",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_items,
           sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
               AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact–fact join with ZERO per-query shuffle: both tables are
    bucketed (8 buckets) and sorted on the join key, so the sort-merge
    join reads co-located buckets directly — the layout amortizes the
    exchange across every future join on that key. This is the batch
    analogue of co-partitioned 100 TB fact tables. The `merge` hint
    keeps Catalyst from broadcasting the (locally small) orders side so
    the bucketing actually demonstrates."""
    t_orders, t_lineitem = _ensure_bucketed(spark, sf_dir)
    orders = spark.table(t_orders).hint("merge")
    lineitem = spark.table(t_lineitem)
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            (
                F.sum(cents("l_extendedprice") * (100 - cents("l_discount")))
                / 10000.0
            ).alias("revenue"),
        )
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT count(*) AS n_pairs
    FROM events a, events b
    WHERE a.event_id < b.event_id
      AND abs(epoch_us(a.ts) - epoch_us(b.ts)) < 60000000
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join without a cross join: count event pairs that
    occur within 60 s of each other, across ALL users (no equi key).

    Technique: bin both sides to 60 s buckets, explode the probe side to
    its bucket ±1, equi-join on bucket, then apply the exact residual
    predicate. A qualifying pair's bins differ by at most 1, so exactly
    one probe copy matches — no dedup pass needed. The shuffle is an
    ordinary hash exchange on the bin; at 100 TB cost is 3× the probe
    rows instead of the O(N²) nested loop Catalyst would otherwise plan
    for a keyless range predicate, and per-bucket skew is bounded by the
    event rate per minute. µs values are exact on both engines (io.py's
    integer ``div 1000``), so the threshold cannot tie-break differently.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", epoch_micros("ts").alias("us")
    )
    width = 60_000_000  # 60 s in µs
    binned = ev.withColumn("bin", F.floor(F.col("us") / width))
    probe = binned.select(
        F.col("event_id").alias("a_id"),
        F.col("us").alias("a_us"),
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)
        ).alias("probe_bin"),
    )
    build = binned.select(
        F.col("event_id").alias("b_id"),
        F.col("us").alias("b_us"),
        F.col("bin").alias("b_bin"),
    )
    return (
        probe.join(
            build,
            (probe.probe_bin == build.b_bin)
            & (probe.a_id < build.b_id)
            & (F.abs(probe.a_us - build.b_us) < width),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "sample_stratified",
    oracle="""
    WITH sampled AS (
        SELECT lang, n_chars,
               ascii(substring(md5(doc_id::VARCHAR), 1, 1)) % 10 AS bucket
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM sampled
    WHERE (lang = 'en' AND bucket < 5) OR (lang <> 'en' AND bucket < 2)
    GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: ~50% of English docs, ~20% of
    every other language — per-stratum rates off one md5 hash bucket.
    Unlike ``df.sampleBy`` (rand()-seeded, partition-order sensitive,
    banned by SURVEY §5.4.5) the hash sample is reproducible across
    reruns, engines, and repartitioning — at 100 TB that makes the
    sample join-stable: sampling the SAME ids from two tables yields
    aligned subsets."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.ascii(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        )
        % 10
    )
    keep = ((F.col("lang") == "en") & (bucket < 5)) | (
        (F.col("lang") != "en") & (bucket < 2)
    )
    return (
        docs.where(keep)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "sample_fixed_k",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    ORDER BY md5(doc_id::VARCHAR) NULLS LAST, doc_id NULLS LAST
    LIMIT 50
    """,
)
def sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample, reproducibly: order by a hash of the
    id and take the first k — the deterministic distributed stand-in
    for reservoir sampling (rand() reservoirs are partition-order
    dependent, banned by SURVEY §5.4.5). Plans as
    TakeOrderedAndProject: each partition keeps its local top-k by
    hash, the driver merges k·partitions candidates — no global sort,
    no second pass, and the same 50 docs come back at any parallelism."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", "n_chars")
        .orderBy(
            # NULLS LAST pinned on both engines: a NULL doc_id hashes
            # to NULL, and the engines' default NULL order differs —
            # at the LIMIT boundary that silently swaps sample members
            # (round-8 null_ids axis). Identity-less rows sample only
            # when the corpus is smaller than k.
            F.asc_nulls_last(
                F.md5(F.col("doc_id").cast("string").cast("binary"))
            ),
            F.asc_nulls_last("doc_id"),
        )
        .limit(50)
    )


@query(
    "join_salted",
    oracle="""
    WITH f AS (
        SELECT l_quantity, TRY_CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
        FROM lineitem
    ), d AS (
        SELECT l_quantity, sum(c) AS s, count(*) AS n
        FROM f GROUP BY l_quantity
    )
    SELECT f.l_quantity,
           max(d.n) AS n_items,
           round(sum(abs(f.c * d.n - d.s))
                 / (max(d.n) * max(d.n) * 100.0), 4) AS mad_price
    FROM f JOIN d USING (l_quantity)
    GROUP BY f.l_quantity
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted big-big join on a 50-value hot key (l_quantity): the
    fact side salts with xxhash64(row identity) % 8, the keyed side
    replicates 8× via explode — every hot key spreads over 8 reducers
    instead of melting one. Result is IDENTICAL to the unsalted join
    (the oracle); only shuffle routing changes. The hint pins a
    ShuffledHashJoin so the demo can't silently degrade to broadcast
    at fixture scale — at 100 TB both sides are too big to broadcast
    and this salt+replicate shape (or AQE skew splitting, which it
    composes with) is the only way a 10^9-row hot key finishes.

    The payload statistic (per-key mean absolute deviation of price)
    is integer-exact until the final division: |cents·n − Σcents| sums
    in bigint, so the oracle hash can't drift on FP summation order."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    fact = lineitem.select(
        "l_quantity",
        cents("l_extendedprice").alias("c"),
        "l_orderkey",
        "l_linenumber",
    )
    dim = fact.groupBy("l_quantity").agg(
        F.sum("c").alias("s"), F.count("*").alias("n")
    )
    r = 8
    salted = fact.withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(r)).cast(
            "int"
        ),
    )
    dimx = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(r - 1)))
    ).hint("shuffle_hash")
    joined = salted.join(dimx, ["l_quantity", "salt"])
    return joined.groupBy("l_quantity").agg(
        F.max("n").alias("n_items"),
        F.round(
            F.sum(F.abs(F.col("c") * F.col("n") - F.col("s")))
            / (F.max("n") * F.max("n") * 100.0),
            4,
        ).alias("mad_price"),
    )


def bigint_array_sql(values: list[int]) -> str:
    """SQL for a non-empty ``array<bigint>`` constant that costs ONE
    py4j round trip however long it is: a comma-joined string literal
    cast through ``split``, which constant folding turns into a plain
    array literal before execution (``F.lit(list)`` sends one ``lit``
    per element plus an ``array`` over them)."""
    return f"cast(split('{','.join(map(str, values))}', ',') AS array<bigint>)"


@query(
    "join_bloom",
    oracle="""
    SELECT l_linestatus,
           count(*) AS n_items,
           sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS revenue
    FROM lineitem l
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey
          AND o.o_orderpriority = '1-URGENT'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY l_linestatus
    """,
)
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction — the runtime-filter pattern.

    A selective dimension predicate (urgent 1997 orders, ~4% of orders)
    must semi-join a fact table far too large to broadcast at 100 TB;
    shuffling the whole fact side to discover most rows don't match is
    the classic waste. A fixed-size Bloom bitmap over the dim keys
    (2^16 bits = 1024 longs, k=3 xxhash64 probes) is built by a
    constant-size aggregation and — like dynamic partition pruning —
    the tiny build side is EXECUTED EAGERLY (2 jobs) and embedded as a
    literal, so the probe is a pure scan-side filter with no join
    Catalyst could reorder. (A first draft attached the bitmap via a
    broadcast nested-loop join; PushLeftSemiThroughJoin then reordered
    the exact semi join BELOW the probe filter, which defeats the
    prefilter.) Rows failing any probe die before the exchange; the
    exact left-semi join above removes the ~1% false positives, so the
    result is bit-identical to the plain semi join (the oracle). The
    bitmap is ≤8 KB at ANY dim cardinality; only its false-positive
    rate degrades if overfull — size m to ~10 bits/key in production.

    The bitmap crosses py4j as ONE string literal that Catalyst's
    constant folding turns into an ``array<bigint>`` before any row is
    read (``bigint_array_sql``); the build and the probes are SQL
    expression strings too. ``F.lit(list)`` sent one ``lit`` per
    element plus an ``array`` over them: 4,919 driver↔JVM round trips
    per build, where the whole op built this way takes 218 (sf0.001),
    and ~0.5 s of driver time per call at sf0.01 on 4 cores (1.19 s
    vs 0.66 s a call). The two eager build jobs stay: they are the
    constant-size aggregation that keeps the probe a scan-side literal.

    Alternatives measured and declined at sf0.01: a lazy bitmap as an
    uncorrelated scalar subquery drops the 2 construction jobs but runs
    6 jobs per call instead of 5 and was slower (1.30 s vs 1.05 s).
    Spark's native runtime Bloom filter
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) does inject
    ``might_contain(scalar-subquery(bloom_filter_agg …))`` here, but
    only when the semi join is planned as a shuffle join; at fixture
    scale the dim side is broadcast, so the rule rightly stays out."""
    n_bits = 64 * 1024  # 2^16 bits -> 1024 longs
    k = 3
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dim = orders.where(
        "o_orderpriority = '1-URGENT'"
        " AND o_orderdate >= CAST('1997-01-01' AS TIMESTAMP)"
        " AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP)"
    ).select("o_orderkey")

    def pos(key: str, i: int) -> str:
        return f"pmod(xxhash64({key}, {i}), {n_bits})"

    # Build side: ≤1024 (word, bits) rows — the DPP-style eager subquery.
    positions = ", ".join(pos("o_orderkey", i) for i in range(k))
    words = (
        dim.selectExpr(f"explode(array({positions})) AS pos")
        .groupBy(F.expr("cast(floor(pos / 64) AS int)").alias("word"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(pmod(pos, 64) AS int)))")
             .alias("bits"))
        .collect()
    )
    bitmap = [0] * (n_bits // 64)
    for r in words:
        bitmap[r["word"]] = r["bits"]
    bloom = bigint_array_sql(bitmap)  # ≤8 KB, folded at optimization
    cond = " AND ".join(
        f"element_at({bloom}, cast(floor({pos('l_orderkey', i)} / 64) AS int) + 1)"
        f" & shiftleft(1L, cast(pmod({pos('l_orderkey', i)}, 64) AS int)) != 0"
        for i in range(k)
    )

    prefiltered = lineitem.select(
        "l_orderkey", "l_linestatus", "l_extendedprice"
    ).where(cond)
    exact = prefiltered.join(
        dim, prefiltered.l_orderkey == dim.o_orderkey, "left_semi"
    )
    return exact.groupBy("l_linestatus").agg(
        F.count("*").alias("n_items"),
        (F.sum(cents("l_extendedprice")) / 100.0).alias("revenue"),
    )


@query(
    "join_partition_pruned",
    oracle="""
    SELECT year(o_orderdate)::INTEGER AS o_year,
           'Y' || year(o_orderdate)::VARCHAR AS label,
           count(*)::BIGINT AS n_orders,
           sum(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1995 AND 1996
    GROUP BY 1, 2
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning, both flavors, over a date-partitioned layout —
    the single biggest scan-cost lever on a 100 TB date-partitioned
    lake (skip whole directories, not rows).

    The fact side is a hive-partitioned copy of orders (dir per
    o_year; io.partitioned_table — the layout a real lake already
    has). The dim side carries a selective predicate on the join key,
    so Catalyst plans BOTH mechanisms at once, asserted by the plan
    test: (a) static PartitionFilters inferred from the dim's range
    constraint through the equi-join, and (b) a
    SubqueryAdaptiveBroadcast dynamicpruning filter (DPP) that reuses
    the dim broadcast to enumerate surviving partitions at runtime.
    Only 2 of 7 year-directories are ever listed/read. At 100 TB the
    same plan skips years of data without touching a footer."""
    from pymapreduce_spark.io import partitioned_table

    po = partitioned_table(
        spark, sf_dir, "orders", "o_year", F.year("o_orderdate")
    )
    dim = spark.createDataFrame(
        [(y, f"Y{y}") for y in range(1992, 2003)],
        "o_year int, label string",
    ).where(F.col("o_year").between(1995, 1996))
    return (
        po.join(F.broadcast(dim), "o_year")
        .groupBy("o_year", "label")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("revenue"),
        )
    )


@query(
    "sample_weighted",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang, n_chars, md5(doc_id::VARCHAR) AS hx
        FROM documents
    ), u AS (
        SELECT doc_id, lang, n_chars,
               (((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) * 16
                 + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)) * 16
                 + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)
                   AS u16
        FROM h
    ), keyed AS (
        SELECT doc_id, lang, n_chars,
               ln((u16 + 1.0) / 65537.0) / n_chars AS k
        FROM u
    )
    SELECT lang, doc_id, n_chars,
           row_number() OVER (PARTITION BY lang
                              ORDER BY k DESC, doc_id NULLS FIRST) AS sample_rank
    FROM keyed
    QUALIFY sample_rank <= 10
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    top-10 docs per language with inclusion probability ∝ n_chars —
    the deterministic mixture-sampling step a training-data pipeline
    runs to hit a target domain mix (llm_domain_mix reports the mix;
    this op draws it).

    A-ES needs a per-row uniform; rand() is banned in checked queries
    (SURVEY §5.4.5), so u is rebuilt identically in both engines from
    four md5 nibbles (each mapped through a position-in-'0123…f' lookup
    — the only md5→integer construction Spark SQL and DuckDB share) →
    a uniform 16-bit u16, then the A-ES key ln(u)/w ranks per stratum.
    One map-only projection plus a per-stratum top-k window — at
    100 TB this is TakeOrdered-per-group over a scan, no global sort,
    and the draw is reproducible and join-stable across pipeline
    stages (the property rand() sampling can never give)."""
    docs = load_table(spark, sf_dir, "documents")

    def nib(i: int):
        return (
            F.expr(
                f"locate(substring(md5(cast(cast(doc_id AS string) AS"
                f" binary)), {i}, 1), '0123456789abcdef')"
            )
            - 1
        )

    u16 = ((nib(1) * 16 + nib(2)) * 16 + nib(3)) * 16 + nib(4)
    k = F.log((u16 + 1.0) / 65537.0) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(F.desc("k"), "doc_id")
    return (
        docs.select("lang", "doc_id", "n_chars", k.alias("k"))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 10)
        .select("lang", "doc_id", "n_chars", "sample_rank")
    )


@query(
    "join_interval_point",
    oracle="""
    WITH iv AS (
        SELECT event_id AS signup_id,
               epoch_us(ts::TIMESTAMP) AS lo_us,
               epoch_us(ts::TIMESTAMP)
                   + TRY_CAST(round(value * 100) AS BIGINT) * 600000
                   AS hi_us
        FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
    ), pt AS (
        SELECT event_id AS purchase_id, epoch_us(ts::TIMESTAMP) AS p_us
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    )
    SELECT signup_id, count(*) AS n_purchases, min(purchase_id) AS first_id
    FROM iv JOIN pt ON pt.p_us >= iv.lo_us AND pt.p_us < iv.hi_us
    GROUP BY signup_id
    """,
)
def join_interval_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-LENGTH interval × point overlap join without a cross
    join — the missing shape next to join_range_binned (fixed ±width
    pairs) and join_theta_range (broadcast band table): here the build
    side is millions of intervals whose lengths differ PER ROW (each
    signup opens a [ts, ts + value minutes) activity window), so neither
    a ±1 bin explode nor a broadcast works.

    Technique: explode each interval across EVERY 1-hour bin it spans
    (``sequence(floor(lo/w), floor(hi/w))``), bin the point side once,
    equi-join on the bin, then apply the exact residual predicate. A
    point lies in exactly one bin, so each qualifying (interval, point)
    pair meets in exactly one exploded copy — no dedup pass. Cost at
    100 TB: shuffle volume is Σ⌈len/width⌉ interval copies (bounded
    here by ~10 bins at the fixture's max 560-minute value) instead of
    the O(N²) nested loop a keyless range predicate plans; per-bin skew
    is bounded by concurrent-interval count, the natural data rate.

    Exactness: bounds are integer µs — ``value`` minutes goes through
    integer cents (cents·600000 µs), so a NaN/±Inf/NULL value nullifies
    the interval end and three-valued logic drops the row identically
    in both engines; NULL event times are excluded per the null-ts
    doctrine."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    width = 3_600_000_000  # 1 h in µs
    iv = (
        ev.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            epoch_micros("ts").alias("lo_us"),
            (epoch_micros("ts") + cents("value") * 600_000).alias("hi_us"),
        )
        .where(F.col("hi_us").isNotNull())
        .select(
            "signup_id",
            "lo_us",
            "hi_us",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo_us") / width),
                    F.floor(F.col("hi_us") / width),
                )
            ).alias("bin"),
        )
    )
    pt = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        epoch_micros("ts").alias("p_us"),
        F.floor(epoch_micros("ts") / width).alias("bin"),
    )
    return (
        iv.join(
            pt,
            (iv.bin == pt.bin)
            & (pt.p_us >= iv.lo_us)
            & (pt.p_us < iv.hi_us),
        )
        .groupBy("signup_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.min("purchase_id").alias("first_id"),
        )
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH su AS (
        SELECT event_id AS signup_id,
               epoch_us(ts::TIMESTAMP) AS lo_us,
               epoch_us(ts::TIMESTAMP)
                   + TRY_CAST(round(value * 100) AS BIGINT) * 600000
                   AS hi_us
        FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
    ), er AS (
        SELECT event_id AS error_id,
               epoch_us(ts::TIMESTAMP) AS lo_us,
               epoch_us(ts::TIMESTAMP)
                   + TRY_CAST(round(value * 100) AS BIGINT) * 600000
                   AS hi_us
        FROM events WHERE event_type = 'error' AND ts IS NOT NULL
    )
    SELECT su.signup_id, count(*) AS n_overlaps,
           min(er.error_id) AS first_error_id
    FROM su JOIN er
      ON su.lo_us < er.hi_us AND er.lo_us < su.hi_us
    WHERE su.hi_us IS NOT NULL AND er.hi_us IS NOT NULL
    GROUP BY su.signup_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-LENGTH interval × interval OVERLAP join — the general
    case completing the range-join family (join_range_binned: fixed
    widths; join_theta_range: broadcast bands; join_interval_point:
    interval × point): which signup activity windows overlap which
    error incident windows, both sides [ts, ts + value minutes) with
    per-row lengths.

    Technique: both sides explode across every 1-hour bin they span,
    equi-join on the bin — but an overlapping PAIR shares every bin in
    the overlap region, so a bare bin join emits duplicates. Instead of
    a distinct pass (an extra shuffle over the candidate set), the join
    keeps exactly the FIRST overlap bin: the bin containing
    greatest(lo_a, lo_b) is spanned by both intervals iff they overlap,
    and is unique per pair — `bin == floor(greatest(lo_a, lo_b)/width)`
    makes every qualifying pair meet exactly once, for free. Cost at
    100 TB mirrors join_interval_point: shuffle volume Σ⌈len/width⌉
    copies instead of the O(N²) BNLJ a keyless overlap predicate plans;
    per-bin skew is bounded by concurrent-interval count.

    Exactness: integer-µs bounds through cents (NaN/±Inf/NULL value →
    NULL hi_us → interval dropped by three-valued logic in BOTH
    engines); half-open [lo, hi) overlap `lo_a < hi_b AND lo_b < hi_a`
    so zero-length intervals overlap nothing, matching the oracle."""
    width = 3_600_000_000  # 1 h in µs

    def side(ev, etype: str, id_alias: str):
        return (
            ev.where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(id_alias),
                epoch_micros("ts").alias("lo_us"),
                (epoch_micros("ts") + cents("value") * 600_000).alias(
                    "hi_us"
                ),
            )
            .where(F.col("hi_us").isNotNull())
        )

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    su = side(ev, "signup", "signup_id").select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("lo_us") / width),
                F.floor(F.col("hi_us") / width),
            )
        ).alias("bin"),
    )
    er = (
        side(ev, "error", "error_id")
        .withColumnsRenamed({"lo_us": "e_lo", "hi_us": "e_hi"})
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col("e_lo") / width),
                    F.floor(F.col("e_hi") / width),
                )
            ).alias("bin"),
        )
    )
    first_bin = F.floor(F.greatest(su.lo_us, er.e_lo) / width)
    return (
        su.join(
            er,
            (su.bin == er.bin)
            & (su.bin == first_bin)
            & (su.lo_us < er.e_hi)
            & (er.e_lo < su.hi_us),
        )
        .groupBy("signup_id")
        .agg(
            F.count("*").alias("n_overlaps"),
            F.min("error_id").alias("first_error_id"),
        )
    )
