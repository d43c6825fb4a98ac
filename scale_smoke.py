#!/usr/bin/env python
"""Scale smoke: replicate the sf0.1 fixtures 10× (with shifted keys, so
group/join cardinalities scale too) and measure headline operators at
both scales. The point is the RATIO: a plan that survives 100 TB must
scale near-linearly in rows here — superlinear time or an OOM at 10×
is a plan bug the sub-second bench cannot see.

Writes replicas under /tmp/scale_smoke (not .artifacts — this is a
diagnostic, not a fixture) and prints one JSON line:
  {"metric": "scale_smoke_ratio", "sf_base": 0.1, "factor": 10,
   "queries": {name: {"base_s": .., "x10_s": .., "ratio": ..}}}
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from pymapreduce_spark.session import get_spark  # noqa: E402
from pymapreduce_spark.io import load_table  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
OUT = "/tmp/scale_smoke"
FACTOR = 10

#: (table, key columns to shift per replica so cardinalities scale).
REPLICATED = {
    "lineitem": {"l_orderkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}


def _replicate(
    spark, src: str, path: str, shifts: dict, n: int, partitions: int = 0
) -> str:
    """Materialize n key-shifted replicas of a base table (idempotent —
    skipped when the _SUCCESS marker exists). Shifted keys keep
    group/join cardinalities scaling with the row count."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    base = load_table(spark, BASE_SF, src)
    reps = []
    for i in range(n):
        r = base
        for col, stride in shifts.items():
            r = r.withColumn(col, F.col(col) + F.lit(i * stride))
        reps.append(r)
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    if partitions:
        out = out.repartition(partitions)
    out.write.mode("overwrite").parquet(path)
    return path


def materialize(spark) -> None:
    for name, shifts in REPLICATED.items():
        _replicate(spark, name, os.path.join(OUT, name), shifts, FACTOR)


def queries(spark, li, ev, docs):
    from pymapreduce_spark.functions.checked import cents

    pc, dc = cents("l_extendedprice"), cents("l_discount")

    def q1():
        return (
            li.where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                (F.sum(pc) / 100.0).alias("sum_base_price"),
                (F.sum(pc * (100 - dc)) / 10000.0).alias("sum_disc_price"),
                F.count("*").alias("n"),
            )
        )

    def sessionize():
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        from pymapreduce_spark.functions.checked import epoch_micros

        mu = epoch_micros("ts")
        is_new = F.coalesce(
            (mu - F.lag(mu).over(w)) > 30 * 60 * 1_000_000, F.lit(True)
        ).cast("bigint")
        return (
            ev.withColumn("sid", F.sum(is_new).over(run))
            .groupBy("user_id", "sid")
            .agg(F.count("*").alias("n"))
        )

    def wordcount():
        return (
            docs.select(F.explode(F.split("text", " ")).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("c"))
        )

    def dedup_exact():
        return docs.groupBy("text").agg(
            F.min("doc_id").alias("keep"), F.count("*").alias("n")
        )

    return {
        "q1_agg": q1,
        "sessionize": sessionize,
        "wordcount": wordcount,
        "dedup_exact": dedup_exact,
    }


def timed(fn, n=3) -> float:
    fn().toArrow()
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn().toArrow()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[n // 2]



def llm_section(spark) -> dict:
    """Optional heavier section (--llm): the MinHash-LSH fuzzy-dedup
    pipeline — shingle → signature → band bucket join → connected
    components — at 50 k docs (10× the corpus the driver ever sees).
    Validates the iterative at-scale path end-to-end: candidate
    generation stays banded (no quadratic blowup), the component loop
    converges, and wall-clock stays in seconds."""
    from pymapreduce_spark.operators.llm_text import cluster_near_duplicates

    do_x = spark.read.parquet(os.path.join(OUT, "documents"))
    t0 = time.perf_counter()
    labels = cluster_near_duplicates(do_x)
    n_docs = labels.count()
    n_clusters = labels.select("cluster_id").distinct().count()
    secs = time.perf_counter() - t0
    out = {
        "fuzzy_dedup_50k": {
            "n_docs": n_docs,
            "n_clusters": n_clusters,
            "wall_s": round(secs, 2),
        }
    }
    out.update(llm_registered_at_x10(spark))
    return out


def llm_registered_at_x10(spark) -> dict:
    """Run the two heaviest REGISTERED curation ops against the 10×
    replicas through their normal (spark, sf_dir) entry points, with
    invariants the replication makes provable:

    - semdedup: every non-original replica of a vector has an exact
      copy with a lower id in the SAME cluster, so ≥ 9/10 of rows must
      come back is_dup — the quadratic-in-cluster kernel is exercised
      at 10× cluster sizes and must still agree with set arithmetic.
    - bm25: replicas repeat the same text, so the (doc, word) row
      count must be exactly 10× the base run's.
    """
    sf_x = _x10_sfdir()

    from pymapreduce_spark.registry import QUERIES

    res: dict = {}
    t0 = time.perf_counter()
    sd = QUERIES["llm_semdedup"](spark, sf_x)
    agg = sd.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
    ).first()
    res["semdedup_20k"] = {
        "n_vectors": agg["n"],
        "n_dup": agg["n_dup"],
        "dup_share_ok": bool(agg["n_dup"] >= 0.9 * agg["n"]),
        "wall_s": round(time.perf_counter() - t0, 2),
    }

    base_rows = QUERIES["llm_bm25"](spark, BASE_SF).count()
    t0 = time.perf_counter()
    x_rows = QUERIES["llm_bm25"](spark, sf_x).count()
    res["bm25_50k"] = {
        "n_rows": x_rows,
        "rows_10x_ok": bool(x_rows == 10 * base_rows),
        "wall_s": round(time.perf_counter() - t0, 2),
    }

    # The tokenize→chunk→pack training-data chain at 10×: replicated
    # docs must chunk to exactly 10× the base row count (chunking is
    # per-doc, map-only), and sequence packing must keep every pack
    # under its token budget at the larger scale.
    base_chunks = QUERIES["llm_chunk_documents"](spark, BASE_SF).count()
    t0 = time.perf_counter()
    x_chunks = QUERIES["llm_chunk_documents"](spark, sf_x).count()
    # bound: each (source, pack_id)'s total stays < budget (2048) +
    # max doc tokens in that source — the documented streaming-pack
    # guarantee (llm_pack_sequences docstring)
    packs = QUERIES["llm_pack_sequences"](spark, sf_x)
    over = (
        packs.groupBy("source", "pack_id")
        .agg(F.sum("n_tokens").alias("tot"))
        .join(
            packs.groupBy("source").agg(
                F.max("n_tokens").alias("mx")
            ),
            "source",
        )
        .where(F.col("tot") >= 2048 + F.col("mx"))
        .count()
    )
    res["curation_chain_50k"] = {
        "n_chunks": x_chunks,
        "chunks_10x_ok": bool(x_chunks == 10 * base_chunks),
        "packs_over_budget": over,
        "wall_s": round(time.perf_counter() - t0, 2),
    }
    return res

def _x10_sfdir() -> str:
    """sf-dir-shaped symlink view over the replicas (shared by the llm
    and graph sections) so registered (spark, sf_dir) entry points read
    the 10× data unchanged."""
    sf_x = os.path.join(OUT, "sfdir_x10")
    os.makedirs(sf_x, exist_ok=True)
    for t in REPLICATED:
        link = os.path.join(sf_x, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(OUT, t), link)
    return sf_x


def graph_section(spark) -> dict:
    """Optional section (--graph): the two iterative plans at base vs
    10× through their registered entry points — the only expensive
    plans scale_smoke did not already ratio-check. Reports wall-clock
    ratio AND rounds-to-convergence for components (pointer jumping
    should hold rounds ~flat as the graph grows: reach doubles per
    materialized round), while pagerank is 5 fixed steps by design so
    only its per-step cost can scale."""
    from pymapreduce_spark.operators.graph import connected_components
    from pymapreduce_spark.operators.llm_vector import llm_knn_self_join
    from pymapreduce_spark.registry import QUERIES

    sf_x = _x10_sfdir()
    res: dict = {}

    def cc_run(sf_dir: str) -> tuple[float, dict]:
        nn1 = (
            llm_knn_self_join(spark, sf_dir)
            .where(F.col("nn_rank") == 1)
            .select(
                F.col("query_id").alias("src"),
                F.col("neighbor_id").alias("dst"),
            )
        )
        st: dict = {}
        t0 = time.perf_counter()
        comp = connected_components(nn1, stats=st)
        comp.groupBy("component").agg(F.count("*").alias("n")).toArrow()
        return time.perf_counter() - t0, st

    b_s, b_st = cc_run(BASE_SF)
    x_s, x_st = cc_run(sf_x)
    res["graph_components"] = {
        "base_s": round(b_s, 2),
        "x10_s": round(x_s, 2),
        "ratio": round(x_s / b_s, 2),
        "base_rounds": b_st.get("rounds"),
        "x10_rounds": x_st.get("rounds"),
        "converged": bool(b_st.get("converged") and x_st.get("converged")),
    }

    def pr_run(sf_dir: str) -> float:
        t0 = time.perf_counter()
        QUERIES["graph_pagerank"](spark, sf_dir).toArrow()
        return time.perf_counter() - t0

    b_s = pr_run(BASE_SF)
    x_s = pr_run(sf_x)
    res["graph_pagerank"] = {
        "base_s": round(b_s, 2),
        "x10_s": round(x_s, 2),
        "ratio": round(x_s / b_s, 2),
        "rounds": 5,
    }

    # Fuzzy dedup at 10×. The replicas are EXACT copies with shifted
    # doc_ids, so exact-copy collapse reduces the 10× corpus to the
    # same representative set as base → the candidate graph, cluster
    # count, and CC rounds must be IDENTICAL, while rows are exactly
    # 10× (each copy inherits its representative's cluster). That is
    # the at-scale design claim (LSH cost scales with UNIQUE texts)
    # stated as a checkable invariant rather than a timing.
    from pymapreduce_spark.operators.llm_text import cluster_near_duplicates

    def fz_run(sf_dir: str) -> tuple[float, int, int, dict]:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        st: dict = {}
        t0 = time.perf_counter()
        lab = cluster_near_duplicates(docs, stats=st)
        agg = lab.agg(
            F.count("*").alias("n"),
            F.count_distinct("cluster_id").alias("k"),
        ).first()
        return time.perf_counter() - t0, agg["n"], agg["k"], st

    b_s, b_n, b_k, b_st = fz_run(BASE_SF)
    x_s, x_n, x_k, x_st = fz_run(sf_x)
    res["llm_dedup_fuzzy"] = {
        "base_s": round(b_s, 2),
        "x10_s": round(x_s, 2),
        "ratio": round(x_s / b_s, 2),
        "base_rounds": b_st.get("rounds"),
        "x10_rounds": x_st.get("rounds"),
        "rows_10x_ok": bool(x_n == 10 * b_n),
        "clusters_equal_ok": bool(x_k == b_k),
    }

    # Assertions (the point of the section): time must stay
    # sub-quadratic — linear is ratio ≈ 10; the bound is 30 to absorb
    # this VM's documented ±30–40 % noise plus per-round scheduler
    # floors, while a quadratic plan lands at ~100 — and the iterative
    # kernels must converge with ~flat round counts (pointer jumping
    # doubles reach per round, so 10× rows adds at most ~log₂10 ≈ 3;
    # fuzzy dedup's collapsed graph is identical, so rounds are EQUAL).
    cc, pr, fz = (
        res["graph_components"],
        res["graph_pagerank"],
        res["llm_dedup_fuzzy"],
    )
    res["checks"] = {
        "cc_subquadratic": cc["ratio"] < 30,
        "cc_converged": cc["converged"],
        "cc_rounds_flat": cc["x10_rounds"] <= cc["base_rounds"] + 3,
        "pagerank_subquadratic": pr["ratio"] < 30,
        "fuzzy_subquadratic": fz["ratio"] < 30,
        "fuzzy_rounds_equal": b_st.get("rounds") == x_st.get("rounds")
        and bool(b_st.get("converged") and x_st.get("converged")),
        "fuzzy_rows_10x": fz["rows_10x_ok"],
        "fuzzy_clusters_equal": fz["clusters_equal_ok"],
    }
    return res


def _stream_xn_sfdir(spark, factor: int) -> str:
    """events-only sf-dir with ``factor`` replicas shifted by 31 DAYS
    each (and disjoint event_ids/user_ids): event time spans ~factor×
    the days, so the per-day replay layout materializes ~factor× the
    FILES — the streaming analogue of factor× rows, at constant per-day
    density (the shape that distinguishes horizon-bounded state from
    state that tracks stream length). Written once, reused."""
    sf_x = os.path.join(OUT, f"stream_sfdir_x{factor}")
    dest = os.path.join(sf_x, "events.parquet")
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return sf_x
    os.makedirs(sf_x, exist_ok=True)
    base = load_table(spark, BASE_SF, "events")
    reps = []
    for i in range(factor):
        reps.append(
            base.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {31 * i} DAYS"))
            .withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(dest)
    return sf_x


def _stream_x10_sfdir(spark) -> str:
    return _stream_xn_sfdir(spark, FACTOR)


def streaming_section(spark) -> dict:
    """Optional section (--streaming): the watermarked streaming path at
    base vs 10× event-time span (≈10× replay files) through the
    registered entry points. The batch kernels' ratios say nothing
    about state management, so the checks here are streaming-specific:

    - batch-equivalence at 10×: stream_tumbling == its batch twin
      (exact frame equality), stream_watermark emits every window
      complete (its self-evidencing matches_batch column), stream_dedup
      restores exactly the batch-distinct counts after the 2× inject.
    - bounded state at 10×: a progress-captured run of the watermarked
      append aggregate must keep post-commit state rows within the
      watermark horizon (~3 one-hour windows) regardless of how many
      total windows the stream carries (~7.4k at 10×) — state that
      instead grew with the stream would be the 100 TB killer.
    - sub-quadratic wall-clock, same 30× bound as the graph section.
    """
    # Pin the streaming shuffle width to the session value for the
    # DURATION of this section: the base-vs-10× wall-clock ratios below
    # are scaling probes, and a scaling probe must hold configuration
    # constant (guide §1). Since r13 the engine derives a NARROWER
    # width for small replays (streaming/core.py) — a deliberate
    # small-corpus latency win that would otherwise speed up only the
    # base arm and inflate every ratio by the width factor, failing the
    # <30× bound without any superlinear work growth (measured:
    # watermark 33.97× with the base arm at width 4, back under the
    # bound with both arms pinned at the session width). The derived
    # width itself is exercised and asserted by the --streamstate
    # section's base/x10/x100 matrix, which checks STATE bounds, not
    # wall ratios.
    _pin = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    os.environ["SPARK_GRAFT_STREAM_PARTITIONS"] = str(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    try:
        return _streaming_section_pinned(spark)
    finally:
        if _pin is None:
            os.environ.pop("SPARK_GRAFT_STREAM_PARTITIONS", None)
        else:
            os.environ["SPARK_GRAFT_STREAM_PARTITIONS"] = _pin


def _streaming_section_pinned(spark) -> dict:
    from pymapreduce_spark.registry import QUERIES
    from pymapreduce_spark.streaming.core import read_stream, replay_dir

    sf_x = _stream_x10_sfdir(spark)
    res: dict = {}

    # replay materialization is a one-off write, not the measured path
    replay_dir(spark, BASE_SF)
    replay_dir(spark, sf_x)

    def run_op(name: str, sf_dir: str):
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        rows = df.count()
        return time.perf_counter() - t0, rows, df

    for op in ("stream_tumbling", "stream_watermark", "stream_dedup"):
        b_s, b_n, _ = run_op(op, BASE_SF)
        x_s, x_n, xdf = run_op(op, sf_x)
        res[op] = {
            "base_s": round(b_s, 2),
            "x10_s": round(x_s, 2),
            "ratio": round(x_s / b_s, 2),
            "base_rows": b_n,
            "x10_rows": x_n,
        }
        if op == "stream_watermark":
            bad = xdf.where(~F.col("matches_batch")).count()
            res[op]["x10_all_match_batch"] = bool(bad == 0)

    # exact batch-equivalence of the tumbling aggregate at 10×
    tumb = QUERIES["stream_tumbling"](spark, sf_x)
    batch_twin = (
        load_table(spark, sf_x, "events")
        .where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    diff = tumb.exceptAll(batch_twin).count() + batch_twin.exceptAll(tumb).count()
    res["stream_tumbling"]["x10_batch_equal_ok"] = bool(diff == 0)

    # dedup restores the batch-distinct counts exactly
    ded_total = sum(
        r["n_unique"]
        for r in QUERIES["stream_dedup"](spark, sf_x).collect()
    )
    batch_unique = (
        load_table(spark, sf_x, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "ts", "event_type")
        .distinct()
        .count()
    )
    res["stream_dedup"]["x10_restores_batch_distinct_ok"] = bool(
        ded_total == batch_unique
    )

    # bounded state: progress-captured watermarked append aggregate
    s = read_stream(spark, sf_x, maxFilesPerTrigger=10)
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("scale_smoke_state_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_rows = [
        so.get("numRowsTotal", 0)
        for p in (q.recentProgress or [])
        for so in (p.get("stateOperators") or [])
    ]
    total_windows = batch_twin.select("window_start").distinct().count()
    res["state_probe"] = {
        "max_state_rows": max(state_rows) if state_rows else None,
        "total_stream_windows": total_windows,
        "n_progress_events": len(state_rows),
    }

    res["checks"] = {
        "tumbling_subquadratic": res["stream_tumbling"]["ratio"] < 30,
        "tumbling_batch_equal": res["stream_tumbling"]["x10_batch_equal_ok"],
        "watermark_subquadratic": res["stream_watermark"]["ratio"] < 30,
        "watermark_windows_scale": (
            res["stream_watermark"]["x10_rows"]
            >= 9 * res["stream_watermark"]["base_rows"]
        ),
        "watermark_all_match_batch": res["stream_watermark"][
            "x10_all_match_batch"
        ],
        "dedup_subquadratic": res["stream_dedup"]["ratio"] < 30,
        "dedup_restores_batch_distinct": res["stream_dedup"][
            "x10_restores_batch_distinct_ok"
        ],
        # State is bounded by INGEST-PER-TRIGGER + WATERMARK HORIZON,
        # never by stream length: eviction for batch N uses the
        # watermark computed from batch N-1's max event time, so right
        # after a trigger the state holds that trigger's fresh windows
        # (maxFilesPerTrigger=10 day-files × 24 1-h windows = 240) plus
        # the ~3-window horizon tail (measured max 243 vs 7200 total
        # stream windows at 10×). A leak would show up as state rows
        # tracking the cumulative window count.
        "state_bounded_by_trigger_plus_horizon": bool(
            state_rows and max(state_rows) <= 240 + 24
        ),
    }
    return res


def _stderr_log_file() -> str | None:
    """Path of the file this process's stderr points at, or None when
    stderr is a tty/pipe. Spark's log4j console appender writes to the
    JVM's System.err, which INHERITED our fd 2 at launch — so when the
    smoke is run as ``python scale_smoke.py ... 2>log``, every
    state-store log line (including maintenance-thread exceptions that
    never fail the query) lands in that file and can be scanned."""
    try:
        p = os.readlink("/proc/self/fd/2")
    except OSError:
        return None
    return p if os.path.isfile(p) else None


def _stderr_scan_offset() -> int:
    p = _stderr_log_file()
    try:
        return os.path.getsize(p) if p else 0
    except OSError:
        return 0


#: a line is an error MARKER only when it carries a log-LEVEL token at
#: the level position ("yy/mm/dd HH:MM:SS WARN Class: msg") or is a
#: JVM exception header at line start ("java.foo.BarException: ...") /
#: a log4j "Caused by:" continuation — NOT when "Error"/"Exception"
#: merely appears mid-message or inside a class name (round-11 ADVICE
#: #4: the old substring heuristic could over-count benign mentions
#: and fail rocksdb_zero_statestore_exceptions spuriously).
_STDERR_LEVEL_RE = re.compile(
    r"^\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2} (?:WARN|ERROR) "
)
_STDERR_EXC_RE = re.compile(
    r"^(?:Caused by: )?(?:[A-Za-z_$][\w$]*\.)+[A-Z]\w*(?:Exception|Error)\b"
)


def _scan_stderr_statestore(offset: int) -> tuple[int, list[str]] | None:
    """Count state-store WARN/ERROR/exception lines written to the
    stderr log since ``offset`` and return ``(hits, matched_lines)``
    so a failed zero-exceptions check is diagnosable from the section
    result instead of being an opaque count. None = stderr is not a
    scannable file.

    Windowed association: Spark logs the provider-tagged header
    ("...HDFSBackedStateStoreProvider ...: Error cleaning up files")
    and the exception class ("java.lang.IllegalStateException: ...")
    on SEPARATE lines — sometimes with a message line between — so a
    marker line counts when the store tag appears on the line itself
    or within the previous 3 lines."""
    p = _stderr_log_file()
    if not p:
        return None
    try:
        with open(p, "rb") as fh:
            fh.seek(offset)
            tail = fh.read().decode("utf-8", errors="replace")
    except OSError:
        return None
    return _count_statestore_hits(tail)


def _count_statestore_hits(tail: str) -> tuple[int, list[str]]:
    """The pure text scan behind _scan_stderr_statestore (split out so
    the classifier is unit-testable without a real stderr file)."""
    store_pat = ("StateStore", "RocksDB", "streaming.state")
    hits: list[str] = []
    window: list[str] = []  # up to 3 previous lines
    for line in tail.splitlines():
        # a level-anchored line always names its logger class on the
        # SAME line, so it must carry the store tag itself; only bare
        # JVM exception headers (no level token) associate backward to
        # a provider-tagged header up to 3 lines above
        if _STDERR_LEVEL_RE.match(line):
            relevant = any(s in line for s in store_pat)
        elif _STDERR_EXC_RE.match(line):
            relevant = any(s in line for s in store_pat) or any(
                s in w for s in store_pat for w in window
            )
        else:
            relevant = False
        if relevant:
            # benign, adjudicated (r11): after a drained query stops,
            # its TEMP checkpoint is deleted while the async
            # maintenance pool still holds the provider — the next
            # maintenance tick logs an explicitly-ignored
            # FileNotFoundException on the gone directory. That is
            # shutdown noise, not state corruption; mid-RUN classes
            # (e.g. HDFS's 'Unexpected list of delta files'
            # IllegalStateException) still count.
            ctx = "\n".join(window)
            benign = (
                # the coordinator's periodic snapshot-lag WARN ("...
                # Snapshot Lag Report for queryRunId=... - Number of
                # state stores falling behind: N") reports upload
                # cadence, not a fault
                "StateStoreCoordinator Snapshot Lag " in line
                # the explicitly-ignored maintenance header itself...
                or "Ignoring error while performing maintenance" in line
                # ...or its FNF payload on the gone temp checkpoint
                or (
                    "FileNotFoundException" in line
                    and "/tmp/temporary-" in line
                    and (
                        "Ignoring error while performing maintenance"
                        in ctx + line
                    )
                )
            )
            if not benign:
                hits.append(line[:400])
        window = (window + [line])[-3:]
    return len(hits), hits[:40]


class StreamRuns(StreamingQueryListener):
    """Keeps every stream run's progress on the session it is added
    to, by run id. A run's ``onQueryStarted`` arrives before its
    ``start()`` returns, and the bus delivers its ``onQueryTerminated``
    after its last progress event, so :meth:`progress_since` waits for
    the latter."""

    def __init__(self) -> None:
        self.cv = threading.Condition()
        self.started: list[str] = []
        self.ended: set[str] = set()
        self.progress: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        with self.cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self.cv:
            self.progress.setdefault(str(event.progress.runId), []).append(
                event.progress
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.cv:
            self.ended.add(str(event.runId))
            self.cv.notify_all()

    def progress_since(self, mark: int, timeout: float = 600) -> list:
        """Progress of the runs started after the ``mark``-th run, once
        every one of them has terminated."""
        with self.cv:
            runs = self.started[mark:]
            if not self.cv.wait_for(
                lambda: self.ended.issuperset(runs), timeout
            ):
                raise TimeoutError(f"stream runs {runs} did not terminate")
            return [p for r in runs for p in self.progress.get(r, [])]


def stream_state_section(spark) -> dict:
    """Optional section (--streamstate): numbers, not docstrings, for
    the bounded-state claims of the four STATEFUL streaming ops
    (round-9 verdict, task 4). Each op runs through its REGISTERED
    entry point at base / 10× / 100× event-time span (constant per-day
    density — see _stream_xn_sfdir), and the state-store metrics come
    from StreamingQueryProgress.stateOperators of the op's own run
    (read by a listener on the session), so the audited pipeline is
    exactly the shipped one.

    What "bounded" means differs by op, and the checks encode it:

    - stream_dedup is WATERMARKED: state holds one trigger's ingest
      plus the 2h horizon tail, so max state rows must stay ~FLAT from
      base to 100× while input rows grow 100× (measured: 33.9 k at
      every scale against 20 M doubled input rows at 100×).
    - stream_bitmap_distinct runs a complete-mode aggregate: state is
      one bitmap per (window, id-bucket) KEY — final state rows must
      track the window count (≈1.04 buckets/window here) and NEVER the
      event count (events-per-window is constant across scales, so
      per-key state staying ≤4 KB±overhead while rows ≈ keys is the
      whole claim; measured 3.9 KB/row at 100×, rows 74 944 vs 10 M
      input events).
    - stream_stateful (applyInPandasWithState) keeps one scalar row
      per user: final state rows must equal the op's output key count
      at every scale (state ∝ KEY SPACE — it grows only because the
      replicas introduce disjoint users, never with events-per-user).
    - stream_session runs a COMPLETE-mode aggregate: state is the full
      session-group set by design — rows must track the op's output
      group count (~1 state row per emitted session), proving per-
      group, not per-event, retention. Its 100× leg is skipped: the
      MEMORY SINK re-emits all groups every trigger in complete mode
      (O(triggers × groups) sink writes — a drain artifact, not state
      growth), and the state-tracks-groups invariant is already
      checked at two scales.
    - stream_session_watermarked is the bounded-state CONTRAST to the
      complete-mode form (round 10): the watermark evicts finalized
      sessions, so max state rows must stay ~flat from base to 100×
      while the complete-mode sibling's state tracks its ever-growing
      group count.

    Round 11 (r10 verdict #5 + advice): the whole matrix runs TWICE —
    once on the default HDFSBackedStateStoreProvider and once on
    RocksDBStateStoreProvider (what a production 100 TB stream actually
    runs) — and the RocksDB leg additionally asserts ZERO state-store
    exceptions in the driver log (the HDFS provider's maintenance
    thread races delta-file cleanup under fast micro-batches — known
    noise that can mask real corruption; RocksDB must be clean). The
    listener sees EVERY trigger, so the max-state checks never read a
    trailing window of the progress buffer.
    """
    from pymapreduce_spark.registry import QUERIES
    from pymapreduce_spark.streaming.core import replay_dir

    scales = {
        "base": (BASE_SF, 1),
        "x10": (_stream_xn_sfdir(spark, 10), 10),
        "x100": (_stream_xn_sfdir(spark, 100), 100),
    }
    for sf_dir, _f in scales.values():
        replay_dir(spark, sf_dir)  # one-off materialization, unmeasured

    runs = StreamRuns()
    spark.streams.addListener(runs)

    OPS = ("stream_dedup", "stream_bitmap_distinct", "stream_stateful",
           "stream_session", "stream_session_watermarked",
           "stream_stateful_timers")
    PROVIDERS = {
        "hdfs": None,  # session default (HDFSBackedStateStoreProvider)
        "rocksdb": (
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        ),
    }

    def _run_leg(provider_tag: str) -> dict:
        res: dict = {op: {} for op in OPS}
        for op in OPS:
            for scale, (sf_dir, f) in scales.items():
                if op == "stream_session" and scale == "x100":
                    res[op][scale] = {
                        "skipped": "complete-mode sink re-emission"
                    }
                    continue
                print(
                    f"[streamstate/{provider_tag}] {op} @ {scale} ...",
                    file=sys.stderr, flush=True,
                )
                mark = len(runs.started)
                t0 = time.perf_counter()
                out_rows = QUERIES[op](spark, sf_dir).count()
                wall = time.perf_counter() - t0
                rows, mem = [], []
                for p in runs.progress_since(mark):
                    for so in p.get("stateOperators") or []:
                        rows.append(so.get("numRowsTotal") or 0)
                        mem.append(
                            so.get("memoryUsedBytes")
                            or so.get("stateMemoryUsedBytes")
                            or 0
                        )
                max_rows = max(rows) if rows else 0
                res[op][scale] = {
                    "wall_s": round(wall, 2),
                    "input_factor": f,
                    "out_rows": out_rows,
                    "max_state_rows": max_rows,
                    "final_state_rows": rows[-1] if rows else 0,
                    "max_state_bytes": max(mem) if mem else 0,
                    "bytes_per_row": (
                        round(max(mem) / max_rows)
                        if max_rows and mem else None
                    ),
                    "n_progress": len(rows),
                }
        # r12 (r11 verdict #4): the statestore READER op must see
        # exactly the in-flight state count the audited query's own
        # progress reported — the reader's rows ARE the store, so a
        # mismatch means the reader surface lies about state. The op's
        # callable drains the sessionization itself (with its explicit
        # checkpoint), so the one run it starts is that drain, under
        # THIS leg's provider.
        print(
            f"[streamstate/{provider_tag}] stream_state_audit @ base ...",
            file=sys.stderr, flush=True,
        )
        mark = len(runs.started)
        reader_df = QUERIES["stream_state_audit"](spark, BASE_SF)
        final_rows = [
            so.get("numRowsTotal") or 0
            for p in runs.progress_since(mark)
            for so in (p.get("stateOperators") or [])
        ]
        res["state_audit"] = {
            "reader_rows": reader_df.count(),
            "progress_final_state_rows": final_rows[-1] if final_rows else 0,
        }
        return res

    _PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
    legs: dict = {}
    for tag, klass in PROVIDERS.items():
        mark = _stderr_scan_offset()
        if klass is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, klass)
        try:
            legs[tag] = _run_leg(tag)
        finally:
            spark.conf.unset(_PROVIDER_CONF)
        scan = _scan_stderr_statestore(mark)
        legs[tag]["statestore_log_exceptions"] = (
            scan[0] if scan is not None else None
        )
        # the matched lines themselves, so a non-zero count is
        # diagnosable straight from the section JSON (r11 ADVICE #4)
        legs[tag]["statestore_log_matches"] = (
            scan[1] if scan is not None else None
        )
    spark.streams.removeListener(runs)

    def flat(res, op):
        b = res[op]["base"]["max_state_rows"]
        x = res[op]["x100"]["max_state_rows"]
        return bool(b and x and x <= 3 * b)

    def tracks_keys(res, op, scale, margin=0.05):
        r = res[op][scale]
        return bool(
            r["out_rows"]
            and abs(r["final_state_rows"] - r["out_rows"])
            <= margin * r["out_rows"]
        )

    checks: dict = {}
    for tag, res in legs.items():
        sfx = "" if tag == "hdfs" else f"_{tag}"
        checks.update({
            # horizon-bounded: input ×100, state ~flat
            f"dedup_state_flat_at_x100{sfx}": flat(res, "stream_dedup"),
            f"session_wm_state_flat_at_x100{sfx}": flat(
                res, "stream_session_watermarked"
            ),
            # timer-evicted sessions: state is the ACTIVE sessions
            # only (the span grows at 100×, the horizon doesn't)
            f"timers_state_flat_at_x100{sfx}": flat(
                res, "stream_stateful_timers"
            ),
            # complete-mode bitmap: one state row per (window, bucket)
            # KEY — rows track the window count (≈1.04 buckets/window),
            # never the 100×-grown event count
            f"bitmap_state_tracks_window_keys_x100{sfx}": tracks_keys(
                res, "stream_bitmap_distinct", "x100", margin=0.2
            ),
            f"bitmap_state_below_events_x100{sfx}": bool(
                res["stream_bitmap_distinct"]["x100"]["final_state_rows"]
                < 0.05 * 100 * 100_000  # ≪ the 10 M input events
            ),
            # the ≤4 KB-bucket claim, with state-store overhead margin
            f"bitmap_bytes_per_row_bounded{sfx}": bool(
                (res["stream_bitmap_distinct"]["x100"]["bytes_per_row"]
                 or 1 << 30)
                <= 32 * 1024
            ),
            f"bitmap_bytes_per_row_flat{sfx}": bool(
                res["stream_bitmap_distinct"]["base"]["bytes_per_row"]
                and res["stream_bitmap_distinct"]["x100"]["bytes_per_row"]
                <= 2 * res["stream_bitmap_distinct"]["base"]["bytes_per_row"]
            ),
            # key-space state: one state row per output key, every scale
            f"stateful_state_tracks_keys_base{sfx}": tracks_keys(
                res, "stream_stateful", "base"
            ),
            f"stateful_state_tracks_keys_x10{sfx}": tracks_keys(
                res, "stream_stateful", "x10"
            ),
            f"stateful_state_tracks_keys_x100{sfx}": tracks_keys(
                res, "stream_stateful", "x100"
            ),
            f"session_state_tracks_groups_base{sfx}": tracks_keys(
                res, "stream_session", "base"
            ),
            f"session_state_tracks_groups_x10{sfx}": tracks_keys(
                res, "stream_session", "x10"
            ),
            # r12: the statestore reader sees exactly the in-flight
            # state the audited query's final progress reported
            f"state_reader_rows_match_progress{sfx}": bool(
                res["state_audit"]["reader_rows"]
                == res["state_audit"]["progress_final_state_rows"]
                and res["state_audit"]["reader_rows"] > 0
            ),
        })
    # RocksDB must run CLEAN — any state-store exception in its leg is
    # a failure (None = log scan unavailable because stderr is not a
    # regular file; recorded but not failed, since an interactive tty
    # run cannot be scanned).
    rocks_exc = legs["rocksdb"]["statestore_log_exceptions"]
    checks["rocksdb_zero_statestore_exceptions"] = (
        rocks_exc == 0 if rocks_exc is not None else True
    )
    legs["checks"] = checks
    return legs


def pyds_section(spark) -> dict:
    """Optional section (--pyds): the custom Python Data Source at
    100× its conformance size (round-9 verdict, task 7). The registered
    op pins n=4096 / partitions=8; here the SAME source reads 409 600
    rows, and the check is that the connector's split planning actually
    scales — the partitions option controls task count, the scan stays
    correct at 100×, and more partitions move more rows per second
    (1 task vs 32 tasks on 32 cores)."""
    from pymapreduce_spark.registry import QUERIES

    # Registering the source is a side effect of the op; run it once.
    QUERIES["source_python_ds"](spark, BASE_SF).collect()

    def run(n, parts):
        df = (
            spark.read.format("pymr_synthetic_log")
            .option("n", str(n))
            .option("partitions", str(parts))
            .load()
        )
        t0 = time.perf_counter()
        agg = df.agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("v_sum")
        ).collect()[0]
        wall = time.perf_counter() - t0
        return {
            "n": n,
            "partitions": parts,
            "tasks": df.rdd.getNumPartitions(),
            "rows": agg["cnt"],
            "v_sum": agg["v_sum"],
            "wall_s": round(wall, 3),
            "rows_per_sec": round(n / wall),
        }

    def v_sum_expected(n):
        return sum((k * 2654435761) % 1000003 for k in range(n))

    n100, n1k = 4096 * 100, 4096 * 1000
    run(4096, 8)  # warm-up: python worker pool + codegen
    res = {
        "base": run(4096, 8),
        "x100_p1": run(n100, 1),
        "x100_p32": run(n100, 32),
        # The speedup pair needs per-partition work that dominates the
        # ~60 ms python-worker task overhead (at 100×/32 parts a
        # partition is only 12.8 k trivial rows and overhead wins), so
        # throughput scaling is measured at 1000×: 128 k rows/partition.
        "x1000_p1": run(n1k, 1),
        "x1000_p32": run(n1k, 32),
    }
    res["checks"] = {
        "base_exact": bool(
            res["base"]["rows"] == 4096
            and res["base"]["v_sum"] == v_sum_expected(4096)
        ),
        "x100_exact": bool(
            res["x100_p32"]["rows"] == n100
            and res["x100_p32"]["v_sum"] == v_sum_expected(n100)
            and res["x100_p1"]["v_sum"] == res["x100_p32"]["v_sum"]
        ),
        "x1000_exact": bool(
            res["x1000_p32"]["rows"] == n1k
            and res["x1000_p1"]["v_sum"] == res["x1000_p32"]["v_sum"]
        ),
        "partitions_honored": bool(
            res["x100_p1"]["tasks"] == 1 and res["x100_p32"]["tasks"] == 32
        ),
        # split planning must buy real parallel throughput at scale
        "parallel_speedup": bool(
            res["x1000_p32"]["rows_per_sec"]
            > 1.5 * res["x1000_p1"]["rows_per_sec"]
        ),
    }
    return res


def x100_section(spark) -> dict:
    """Optional section (--x100): ONE more order of magnitude, on the
    event-pipeline kernels. 100 shifted replicas of sf0.1 events
    (~10 M rows — the largest relation this sandbox can hold
    comfortably) through sessionize / hourly tumbling / per-user
    top-k, asserting the x100/x10 STEP ratio stays near the 10× row
    ratio: a plan that is linear from x10→x100 and was linear from
    base→x10 has no hidden superlinear term the 10× smoke could hide
    (quadratic lands at ~100 per step; the bound is 35 to absorb VM
    noise and per-stage floors)."""
    from pyspark.sql import Window

    from pymapreduce_spark.functions.checked import epoch_micros

    path = _x100_events(spark)

    ev10 = spark.read.parquet(os.path.join(OUT, "events"))
    ev100 = spark.read.parquet(path)

    def kernels(ev):
        def sessionize():
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            mu = epoch_micros("ts")
            is_new = F.coalesce(
                (mu - F.lag(mu).over(w)) > 30 * 60 * 1_000_000, F.lit(True)
            ).cast("bigint")
            return (
                ev.withColumn("sid", F.sum(is_new).over(run))
                .groupBy("user_id", "sid")
                .agg(F.count("*").alias("n"))
            )

        def tumbling():
            return ev.where(F.col("ts").isNotNull()).groupBy(
                F.window("ts", "1 hour"), "event_type"
            ).agg(F.count("*").alias("n"))

        def topk_user():
            w = Window.partitionBy("user_id").orderBy(
                F.desc("value"), "event_id"
            )
            return (
                ev.where(F.col("value").isNotNull())
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= 3)
                .groupBy("event_type")
                .agg(F.count("*").alias("n"))
            )

        return {"sessionize": sessionize, "tumbling": tumbling,
                "topk_user": topk_user}

    k10, k100 = kernels(ev10), kernels(ev100)

    # the LLM-text kernels at x100: tokenize-count (the one-shuffle
    # wordcount every curation pass starts with) and minhash band
    # bucketing (the candidate-generation cost driver of fuzzy dedup —
    # the stage that would go quadratic first if banding broke)
    dpath = os.path.join(OUT, "documents_x100")
    if not os.path.exists(os.path.join(dpath, "_SUCCESS")):
        dbase = load_table(spark, BASE_SF, "documents")
        reps = [
            dbase.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
            for i in range(100)
        ]
        dout = reps[0]
        for r in reps[1:]:
            dout = dout.unionByName(r)
        dout.repartition(64).write.mode("overwrite").parquet(dpath)

    dc10 = spark.read.parquet(os.path.join(OUT, "documents"))
    dc100 = spark.read.parquet(dpath)

    def text_kernels(dc):
        def tokenize_count():
            return (
                dc.select(F.explode(F.split("text", " ")).alias("w"))
                .groupBy("w")
                .agg(F.count("*").alias("n"))
                .agg(F.count("*").alias("vocab"), F.sum("n").alias("tokens"))
            )

        def minhash_bands():
            sig = F.expr(
                """
                transform(sequence(0, 15), i ->
                    array_min(transform(sh, s ->
                        substr(md5(concat(s, '#', cast(i AS string))), 1, 16))))
                """
            )
            bands = (
                dc.withColumn("words", F.split("text", " "))
                .select(
                    "doc_id",
                    F.expr(
                        "array_distinct(transform("
                        " sequence(1, greatest(size(words) - 2, 1)), i ->"
                        " concat_ws(' ', element_at(words, i),"
                        "  element_at(words, least(i + 1, size(words))),"
                        "  element_at(words, least(i + 2, size(words))))))"
                    ).alias("sh"),
                )
                .withColumn("sig", sig)
                .select(
                    F.posexplode(
                        F.expr(
                            "transform(sequence(0, 7), b ->"
                            " concat_ws('|', slice(sig, b * 2 + 1, 2)))"
                        )
                    ).alias("band_idx", "band_key")
                )
            )
            return (
                bands.groupBy("band_idx", "band_key")
                .agg(F.count("*").alias("c"))
                .groupBy("band_idx")
                .agg(F.max("c").alias("max_bucket"), F.count("*").alias("n"))
            )

        return {
            "llm_tokenize_count": tokenize_count,
            "llm_minhash_bands": minhash_bands,
        }

    k10.update(text_kernels(dc10))
    k100.update(text_kernels(dc100))
    res: dict = {}
    for name in k10:
        s10 = timed(k10[name], n=2)
        s100 = timed(k100[name], n=2)
        res[name] = {
            "x10_s": round(s10, 3),
            "x100_s": round(s100, 3),
            "step_ratio": round(s100 / s10, 2),
        }
    res["checks"] = {
        f"x100_{name}_sublinear_step": res[name]["step_ratio"] < 35
        for name in k10
    }
    return res


def _x100_events(spark) -> str:
    """100 shifted replicas of sf0.1 events (~10 M rows), shared by the
    x100 and x100join sections."""
    return _replicate(
        spark,
        "events",
        os.path.join(OUT, "events_x100"),
        {"event_id": 10_000_000, "user_id": 1_000_000},
        100,
        partitions=64,
    )


def x100_join_section(spark) -> dict:
    """Optional section (--x100join): the JOIN surface one more order
    of magnitude up — 100 shifted replicas of sf0.1 lineitem (~60 M
    rows) and orders (~15 M), the largest fact-fact join this sandbox
    holds. Two kernels, x10 vs x100 step-ratio-checked like the other
    x100 sections:

    - fact-fact: filtered lineitem ⋈ orders on the key, grouped exact
      aggregate — the shuffle-join shape every TPC-H plan reduces to.
    - fact-dim: lineitem ⋈ supplier with the dim FIXED while the fact
      scales (the realistic 100 TB shape — dims don't grow with the
      crawl); the plan must stay a broadcast join at both scales, so
      the step cost is scan+partial-agg only.

    Row-count invariants make the join results provable: shifted keys
    mean each replica joins only its own replica (l_orderkey and
    o_orderkey shift by the same stride), so the x100 fact-fact group
    counts are exactly 100× the base fixture's."""
    path_li = _replicate(
        spark, "lineitem", os.path.join(OUT, "lineitem_x100"),
        {"l_orderkey": 10_000_000}, 100, partitions=64,
    )
    path_o = _replicate(
        spark, "orders", os.path.join(OUT, "orders_x100"),
        {"o_orderkey": 10_000_000, "o_custkey": 1_000_000}, 100,
        partitions=64,
    )

    li10 = spark.read.parquet(os.path.join(OUT, "lineitem"))
    o10 = spark.read.parquet(os.path.join(OUT, "orders"))
    li100 = spark.read.parquet(path_li)
    o100 = spark.read.parquet(path_o)
    sup = load_table(spark, BASE_SF, "supplier")

    def fact_fact(li, o):
        def run():
            return (
                li.where(F.col("l_quantity") > 10)
                .join(o, li["l_orderkey"] == o["o_orderkey"])
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.round(F.col("l_extendedprice") * 100)
                        .try_cast("long")
                    ).alias("cents"),
                )
            )

        return run

    def fact_dim(li):
        def run():
            return (
                li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
                .groupBy("s_nationkey")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        return run

    res: dict = {}
    # provable row counts: base fixture group totals × replica factor
    base_n = (
        load_table(spark, BASE_SF, "lineitem")
        .where(F.col("l_quantity") > 10)
        .join(
            load_table(spark, BASE_SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    for tag, ff, fd, factor in (
        ("x10", fact_fact(li10, o10), fact_dim(li10), 10),
        ("x100", fact_fact(li100, o100), fact_dim(li100), 100),
    ):
        t0 = time.perf_counter()
        rows = ff().collect()
        ff_s = time.perf_counter() - t0
        total = sum(r["n"] for r in rows)
        t0 = time.perf_counter()
        fd().collect()
        fd_s = time.perf_counter() - t0
        plan = fd()._jdf.queryExecution().executedPlan().toString()
        res[tag] = {
            "fact_fact_s": round(ff_s, 2),
            "fact_dim_s": round(fd_s, 2),
            "join_rows": total,
            "rows_exact": bool(total == factor * base_n),
            "dim_broadcast": "BroadcastHashJoin" in plan,
        }
    # as-of at both scales through the REGISTERED entry point: the
    # union-reorder-window formulation is the subtlest join at scale
    # (one shuffle, O(1) carried state per user). sf-dir-shaped symlink
    # views let join_asof read the replicas unchanged; left-join
    # semantics make the row count provable (= purchase count, which
    # replicates exactly).
    from pymapreduce_spark.registry import QUERIES

    _x100_events(spark)
    asof_dirs = {}
    for tag, src in (("x10", "events"), ("x100", "events_x100")):
        d = os.path.join(OUT, f"sfdir_asof_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(OUT, src), link)
        asof_dirs[tag] = d
    base_purchases = (
        load_table(spark, BASE_SF, "events")
        .where(
            (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
        )
        .count()
    )
    for tag, factor in (("x10", 10), ("x100", 100)):
        t0 = time.perf_counter()
        # count the MATCHED column, not count(*): a bare count lets
        # Catalyst prune the window entirely (the carry column is
        # unused) and times only the scan+union
        row = QUERIES["join_asof"](spark, asof_dirs[tag]).agg(
            F.count(F.lit(1)).alias("n"),
            F.count("matched_view_id").alias("m"),
        ).first()
        res[tag]["asof_s"] = round(time.perf_counter() - t0, 2)
        res[tag]["asof_rows_exact"] = bool(
            row["n"] == factor * base_purchases and row["m"] > 0
        )

    res["steps"] = {
        "fact_fact": round(res["x100"]["fact_fact_s"]
                           / max(res["x10"]["fact_fact_s"], 0.01), 2),
        "fact_dim": round(res["x100"]["fact_dim_s"]
                          / max(res["x10"]["fact_dim_s"], 0.01), 2),
        "asof": round(res["x100"]["asof_s"]
                      / max(res["x10"]["asof_s"], 0.01), 2),
    }
    res["checks"] = {
        "join_fact_fact_step_ok": res["steps"]["fact_fact"] < 35,
        "join_fact_dim_step_ok": res["steps"]["fact_dim"] < 35,
        "join_asof_step_ok": res["steps"]["asof"] < 35,
        "join_rows_exact_x10": res["x10"]["rows_exact"],
        "join_rows_exact_x100": res["x100"]["rows_exact"],
        "join_asof_rows_exact_x10": res["x10"]["asof_rows_exact"],
        "join_asof_rows_exact_x100": res["x100"]["asof_rows_exact"],
        "join_dim_broadcast_x10": res["x10"]["dim_broadcast"],
        "join_dim_broadcast_x100": res["x100"]["dim_broadcast"],
    }
    return res


def _vec_sfdir(n: int) -> str:
    """Synthesize an sf-dir-shaped fixture with n seeded L2-normalized
    64-d float32 vectors, 5 % of which are PLANTED exact duplicates
    (the last n/20 ids copy ids 0..n/20-1) — so recall floors are
    provable set arithmetic, not eyeballs. Fresh random vectors (not
    fixture replicas) keep neighbor geometry realistic for the ANN
    index paths."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(OUT, f"sfdir_vec{n}")
    fp = os.path.join(path, "embeddings.parquet")
    if os.path.exists(fp):
        return path
    rng = np.random.RandomState(4242)
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    planted = n // 20
    m[n - planted:] = m[:planted]
    flat = pa.array(m.reshape(-1))
    offsets = pa.array(np.arange(0, (n + 1) * 64, 64, dtype=np.int32))
    tb = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array((np.arange(n) % 10).astype(np.int32)),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(tb, fp)
    return path


def vectors_section(spark) -> dict:
    """Optional section (--vectors): the vector kernels at 10× and 100×
    the sf0.1 corpus (25 k / 250 k synthesized vectors — the text
    kernels got this treatment in the x100 section; round-8 verdict
    task 5 extends it to vectors). 250 k crosses the one code-enforced
    scale gate, _KNN_TILE_ROWS (200 k → several exact GEMM tiles for
    both tile-scan ops, llm_knn_self_join and llm_dedup_embed), and
    exercises the ANN starved-query exact fallback above the index
    envelope. Assertions: recall floors from the planted-duplicate
    arithmetic, ANN/IVF self-evidenced recall_ok, and step ratios —
    sub-quadratic (<35, the x100 bound) for every index path; the
    exact kNN and near-dup scans are O(N²) BY CONTRACT, so their bound
    is the quadratic step (~100×, asserted < 300 to absorb VM noise)."""
    from pymapreduce_spark.registry import QUERIES

    scales = {"x10": 25_000, "x100": 250_000}
    res: dict = {}
    for tag, n in scales.items():
        sf_v = _vec_sfdir(n)
        planted = n // 20
        r: dict = {}

        t0 = time.perf_counter()
        ann = QUERIES["llm_sim_search_ann"](spark, sf_v).collect()
        r["ann"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "n_queries": len(ann),
            "recall_frac": round(
                sum(1 for x in ann if x["recall_ok"]) / max(1, len(ann)), 3
            ),
            "all_full": all(x["n_results"] == 5 for x in ann),
        }

        t0 = time.perf_counter()
        ivf = QUERIES["llm_sim_search_ivf"](spark, sf_v).collect()
        r["ivf"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "n_queries": len(ivf),
            "recall_frac": round(
                sum(1 for x in ivf if x["recall_ok"]) / max(1, len(ivf)), 3
            ),
            "all_full": all(x["n_results"] == 5 for x in ivf),
        }

        t0 = time.perf_counter()
        knn = QUERIES["llm_knn_self_join"](spark, sf_v)
        agg = knn.agg(
            F.count("*").alias("n"),
            F.sum((F.col("cosine") >= 0.9999).cast("long")).alias("n_exact"),
        ).first()
        r["knn_self_join"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "n_rows": agg["n"],
            # each planted copy and its original find each other at
            # rank 1 with cosine 1.0 — >= 2·planted near-unit rows
            "planted_found": bool(agg["n_exact"] >= 2 * planted),
        }

        t0 = time.perf_counter()
        sd = QUERIES["llm_semdedup"](spark, sf_v)
        sagg = sd.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
        ).first()
        r["semdedup"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "n_vectors": sagg["n"],
            "n_dup": sagg["n_dup"],
            # exact copies share cluster + score: every planted copy
            # must be flagged (plus whatever true near-dups exist)
            "planted_found": bool(sagg["n_dup"] >= planted),
        }

        t0 = time.perf_counter()
        de = QUERIES["llm_dedup_embed"](spark, sf_v)
        dagg = de.agg(
            F.count("*").alias("n"),
            F.sum((F.col("cosine") >= 0.9999).cast("long")).alias("n_exact"),
        ).first()
        r["dedup_embed"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "n_pairs": dagg["n"],
            # the exact tile scan has recall 1.0 — every planted pair
            # must surface
            "planted_found": bool(dagg["n_exact"] >= planted),
        }

        res[tag] = r

    checks: dict = {}
    for kern in (
        "ann", "ivf", "semdedup", "dedup_embed", "knn_self_join",
    ):
        step = res["x100"][kern]["wall_s"] / max(
            res["x10"][kern]["wall_s"], 0.01
        )
        res.setdefault("steps", {})[kern] = round(step, 2)
        # knn_self_join and dedup_embed are exact O(N²) BY CONTRACT
        # (quadratic step ≈ 100, bound 300 absorbs VM noise); every
        # index path must stay sub-quadratic (< 35).
        bound = 300 if kern in ("knn_self_join", "dedup_embed") else 35
        checks[f"vec_{kern}_step_ok"] = step < bound
    for tag in scales:
        checks[f"vec_ann_recall_{tag}"] = (
            res[tag]["ann"]["recall_frac"] >= 0.9
            and res[tag]["ann"]["all_full"]
        )
        checks[f"vec_ivf_recall_{tag}"] = (
            res[tag]["ivf"]["recall_frac"] >= 0.9
            and res[tag]["ivf"]["all_full"]
        )
        for kern in ("knn_self_join", "semdedup", "dedup_embed"):
            checks[f"vec_{kern}_planted_{tag}"] = res[tag][kern][
                "planted_found"
            ]
    res["checks"] = checks
    return res


def main() -> None:
    spark = get_spark()
    materialize(spark)
    li_b = load_table(spark, BASE_SF, "lineitem")
    ev_b = load_table(spark, BASE_SF, "events")
    do_b = load_table(spark, BASE_SF, "documents")
    li_x = spark.read.parquet(os.path.join(OUT, "lineitem"))
    ev_x = spark.read.parquet(os.path.join(OUT, "events"))
    do_x = spark.read.parquet(os.path.join(OUT, "documents"))

    base_q = queries(spark, li_b, ev_b, do_b)
    x10_q = queries(spark, li_x, ev_x, do_x)
    out = {}
    for name in base_q:
        b = timed(base_q[name])
        x = timed(x10_q[name])
        out[name] = {
            "base_s": round(b, 3),
            "x10_s": round(x, 3),
            "ratio": round(x / b, 2),
        }
    payload = {
        "metric": "scale_smoke_ratio",
        "sf_base": 0.1,
        "factor": FACTOR,
        "queries": out,
    }
    if "--llm" in sys.argv:
        payload["llm"] = llm_section(spark)
    if "--graph" in sys.argv:
        payload["graph"] = graph_section(spark)
    if "--streaming" in sys.argv:
        payload["streaming"] = streaming_section(spark)
    if "--x100" in sys.argv:
        payload["x100"] = x100_section(spark)
    if "--vectors" in sys.argv:
        payload["vectors"] = vectors_section(spark)
    if "--x100join" in sys.argv:
        payload["x100join"] = x100_join_section(spark)
    if "--streamstate" in sys.argv:
        payload["streamstate"] = stream_state_section(spark)
    if "--pyds" in sys.argv:
        payload["pyds"] = pyds_section(spark)
    print(json.dumps(payload))
    checks = {
        **(payload.get("graph") or {}).get("checks", {}),
        **(payload.get("x100") or {}).get("checks", {}),
        **(payload.get("vectors") or {}).get("checks", {}),
        **(payload.get("x100join") or {}).get("checks", {}),
        **{
            f"streamstate_{k}": v
            for k, v in (payload.get("streamstate") or {})
            .get("checks", {})
            .items()
        },
        **{
            f"pyds_{k}": v
            for k, v in (payload.get("pyds") or {})
            .get("checks", {})
            .items()
        },
        **{
            f"streaming_{k}": v
            for k, v in (payload.get("streaming") or {})
            .get("checks", {})
            .items()
        },
    }
    failed = [k for k, ok in checks.items() if not ok]
    if failed:
        print(f"SCALE CHECKS FAILED: {failed}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
