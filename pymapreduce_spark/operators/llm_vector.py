"""LLM-data-pipeline vector & multimodal operators (SURVEY.md §2-L):
similarity search (exact + ANN), kNN labeling, embedding near-dup,
multimodal column handling with a stubbed binary decoder.

Fixture embeddings are L2-normalized (‖v‖₂ = 1 ± 5e-8, FIXTURES.md), so
cosine ≡ dot product throughout.

100 TB doctrine:

- Exact search broadcasts the (small) query set and scans candidates
  once — never a candidate-side shuffle. The oracle-checked query is the
  correctness baseline; its cost is O(|queries|·N).
- Scale paths: query-side ANN is BRP-LSH / IVF cell probing (bounded
  candidates per query, recall@k ≥ 0.9 vs exact asserted in
  tests/test_llm.py); corpus-wide exact kNN and near-dup pairs share
  one tile scan that tiles the O(N²) GEMM with ≤100 MB broadcasts per
  tile.
- Dot products are computed in double (`zip_with` → `aggregate`, same
  left-to-right fold as DuckDB's list_dot_product) so both engines see
  bit-identical cosines.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pymapreduce_spark.functions.checked import round_sane
from pymapreduce_spark.io import fixture_memo, load_table, table_row_count
from pymapreduce_spark.registry import query


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    """Sequential-fold dot product in double — matches DuckDB's
    list_dot_product evaluation order bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: Slack margin for hybrid BLAS+fold comparisons — dwarfs the few-ulp
#: GEMM position jitter, still selective enough that slack heads stay
#: tiny on real similarity distributions (see _ord_pair_dots).
_TIE_EPS = 1e-9


def _slack(x):
    """Head-expansion margin for hybrid BLAS+fold comparisons — ONE
    convention at every site (r13 ADVICE): relative above 1 so the
    margin dwarfs GEMM jitter at any magnitude, absolute _TIE_EPS
    below it."""
    import numpy as np

    return _TIE_EPS * np.maximum(1.0, np.abs(x))


def _ord_pair_dots(A, B):
    """EXACT sequential-fold dot per row pair — bit-equal to DuckDB's
    ``list_dot_product`` and Spark's ``F.aggregate`` fold (:func:`_dot`),
    not merely position-uniform. The fold runs column-by-column
    (``out += P[:, j]``), so every row accumulates left-to-right from
    0.0 exactly like both engines, in d vectorized passes — O(pairs·d),
    no per-row Python.

    BLAS only selects; this fold decides. BLAS ``Q @ C.T`` is not
    position-independent (r13 find, inherited
    tests/test_adversarial_input combined-fixture failure): its blocked
    micro-kernels give identical logical inputs last-ulp-DIFFERENT
    results by output position (measured: dot(copy, copy) =
    …370421763 at columns 0–12 but …370421766 at column 498 of the
    same GEMM), and the kernel choice shifts with runtime CPU dispatch
    — so under the adversarial exact-copy tie groups the id tie-break
    never engages for the jittered members and the 1-NN edge set
    diverges from DuckDB's uniform sequential fold. Every value that a
    cross-engine-compared ranking or threshold DECIDES ON or EMITS
    must therefore come from this fold, never bare BLAS.

    An order-fixed pass is too slow as the bulk kernel (an
    all-einsum semdedup blew the vectors smoke's x100 step bound, 100.9
    vs <35), so the hot kernels run HYBRID: BLAS for the full matrix,
    this fold for the tiny slice whose comparison outcome could depend
    on jitter (candidates within ``_slack`` of a top-k cutoff or a
    threshold/rounding boundary) plus every emitted value. The slack
    works because per-element |BLAS − fold| is a few ulps (~1e-13
    relative) while _TIE_EPS = 1e-9, and order statistics are
    1-Lipschitz in sup norm — the true top-k is always inside the
    eps-expanded head.

    Why the exact fold and not einsum's fixed accumulation (r13 verdict
    gate-breaker): emitted cosines with |v| ≥ 1e9 skip ``round_sane``'s
    rounding, so the raw double must be BIT-equal to DuckDB's fold —
    and einsum is position-uniform but NOT fold-equal at huge
    magnitude (measured: 228/300 random 1e30-scale trials differ from
    DuckDB, 0/300 for this fold). Using the true fold for every
    recomputed head value also makes rank order identical to the
    oracle's unrounded sort by construction."""
    import numpy as np

    P = np.asarray(A, dtype=np.float64) * np.asarray(B, dtype=np.float64)
    out = np.zeros(len(P), dtype=np.float64)
    for j in range(P.shape[1]):
        out += P[:, j]
    return out


#: The pipeline's declared embedding dimension — a constant of the
#: embedding model (like 768 for a BERT-family encoder), not inferred
#: from data: at 100 TB you KNOW what your encoder emits, and inferring
#: it would cost an extra aggregate + broadcast in every vector op.
EMBED_DIM = 64

# Ragged-vector doctrine (round-8 ragged_embed axis): a vector that is
#: PRESENT but malformed — wrong dimension (truncated write, mixed
#: model versions), NULL elements (failed casts), or empty — cannot
#: participate in ANY distance computation and is excluded at the scan.
#: Whole-NULL vectors pass through to each op's documented NULL
#: handling (e.g. llm_semdedup's null-safe collapse arm). Before this
#: guard, a single ragged row crashed Spark ML's LSH hasher
#: (requirement failed: columns of A don't match), broke the numpy
#: GEMM kernels' rectangularity, and crashed every DuckDB
#: list_inner_product oracle (NULL elements are an Invalid Input Error).
def _well_formed():
    # a NULL vec_id is malformed too (round-8 null_ids axis): the id IS
    # the row's identity, and an identity-less vector poisons every
    # id-indexed kernel downstream (numpy int64 coerces None to
    # Long.MIN_VALUE; the Pregel kernel crashes on a NULL node).
    # Non-finite elements (NaN/±Inf — a failed float cast upstream) are
    # as malformed as NULL elements: ONE NaN component makes the vector
    # the NaN-cosine top neighbor of EVERY query in a SQL engine (NaN
    # sorts greatest), collapsing the 1-NN graph into a single
    # component, while the numpy kernels order NaN differently and IVF
    # crashes — there is no consistent similarity for a non-finite
    # vector. `abs(x) < inf` is false for NaN and ±Inf in BOTH engines.
    return F.col("vec_id").isNotNull() & (
        F.col("embedding").isNull() | (
            (F.size("embedding") == EMBED_DIM)
            & ~F.exists(
                "embedding",
                lambda x: x.isNull()
                | ~(F.abs(x) < F.lit(float("inf"))),
            )
        )
    )

#: The oracle twin of _well_formed(), spliced by _wf().
_WF_SQL = (
    "(vec_id IS NOT NULL AND (embedding IS NULL OR "
    f"(len(embedding) = {EMBED_DIM} "
    "AND len(list_filter(embedding, x -> x IS NULL "
    "OR NOT (abs(x) < 'infinity'::DOUBLE))) = 0)))"
)


def _wf(oracle: str) -> str:
    """Apply the vector-scan doctrine to an oracle: every scan of the
    embeddings table reads through the well-formed filter AND the
    per-vec_id canonicalization, exactly like load_embeddings on the
    Spark side. NULLS LAST is pinned explicitly — Spark defaults ASC to
    NULLS FIRST, DuckDB to NULLS LAST, so an unpinned order would pick
    different canonical rows when a whole-NULL vector shares an id with
    a real one. No-op for oracles that don't read embeddings."""
    wf = (
        "(SELECT vec_id, embedding, label FROM ("
        "SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY embedding NULLS LAST, label NULLS LAST) AS rn__ "
        f"FROM embeddings WHERE {_WF_SQL}) WHERE rn__ = 1)"
    )
    return oracle.replace("FROM embeddings", f"FROM {wf}").replace(
        "JOIN embeddings", f"JOIN {wf}"
    )


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan with the vector-scan doctrine applied: the
    well-formed filter (_well_formed) plus ONE canonical row per
    vec_id — the lexicographically smallest (embedding, label), NULLS
    LAST. Duplicate-id rows with CONFLICTING payloads (round-8 dup_ids
    axis: a dirty upstream join or replayed ingest) otherwise split the
    engines wherever a kernel is id-indexed: the broadcast GEMM keeps
    one matrix row per id while a SQL join fans out, LSH buckets count
    both copies, and k-means seeds differ. Canonicalization is a
    deterministic function of the row SET (order-insensitive), so both
    engines converge on the same corpus. Cost: one row_number window on
    vec_id — partial at 100 TB scale (a production deployment enforces
    id uniqueness at ingest and can drop this guard; here it is the
    engine's defined semantics, not an optional cleanup). Every vector
    operator loads through this."""
    wf = load_table(spark, sf_dir, "embeddings").where(_well_formed())
    if not _needs_canonicalization(sf_dir, wf):
        return wf
    w = Window.partitionBy("vec_id").orderBy(
        F.asc_nulls_last("embedding"), F.asc_nulls_last("label")
    )
    return (
        wf.withColumn("rn__", F.row_number().over(w))
        .where(F.col("rn__") == 1)
        .drop("rn__")
    )


def _needs_canonicalization(sf_dir: str, wf: DataFrame) -> bool:
    """Whether the embeddings table needs the per-vec_id canonicalization
    window. Skipping the window never changes results: it is a no-op on
    unique non-NULL ids, and count(*) != count_distinct(vec_id) is TRUE
    whenever any id duplicates OR any id is NULL (count(*) counts NULL
    rows, count_distinct doesn't), the two cases where the window does
    real work. One column-pruned scan + global aggregate per fixture
    stamp; a production store with ingest-enforced unique ids never
    pays the window at all."""

    def compute() -> bool:
        row = wf.agg(
            F.count("*").alias("n"),
            F.count_distinct("vec_id").alias("d"),
        ).first()
        return row["n"] != row["d"]

    return fixture_memo("canonicalization", sf_dir, ("embeddings",), compute)


def _queries(emb: DataFrame, pred, *carry) -> DataFrame:
    """The rows of ``emb`` matching ``pred`` as a query side for
    :func:`_exact_top_k`: (query_id, qe, *carry)."""
    return emb.where(pred).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), *carry
    )


def _top_k(pairs: DataFrame, k: int = 5) -> DataFrame:
    """Each query's k best (query_id, neighbor_id, cos) rows under
    (cos DESC, neighbor_id) — the oracles' tie-break — ranked 1..k in
    ``nn_rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return pairs.withColumn("nn_rank", F.row_number().over(w)).where(
        F.col("nn_rank") <= k
    )


def _exact_top_k(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k in Spark expressions: broadcast ``queries`` (query_id,
    qe, carried columns), scan the corpus ``emb`` (vec_id, e, carried
    columns) once, score every pair but the query itself with the
    DuckDB-order fold :func:`_dot`, keep :func:`_top_k`. Rows carry both
    sides' columns plus neighbor_id, cos and nn_rank."""
    pairs = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", _dot(F.col("qe"), F.col("e")))
        .withColumnRenamed("vec_id", "neighbor_id")
        .drop("qe", "e")
    )
    return _top_k(pairs, k)


def _cosine_rows(top: DataFrame) -> DataFrame:
    """The neighbor rows every top-k operator emits."""
    return top.select(
        "query_id",
        "neighbor_id",
        "nn_rank",
        round_sane("cos", 6).alias("cosine"),
    )


@query(
    "llm_sim_search",
    oracle=_wf("""
    WITH d AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]) AS cos
        FROM embeddings q JOIN embeddings c
          ON q.vec_id < 10 AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, nn_rank, CASE WHEN abs(cos) < 1e9 THEN round(cos, 6) ELSE cos END AS cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos DESC, neighbor_id
          ) AS nn_rank FROM d)
    WHERE nn_rank <= 5
    """),
)
def llm_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors: broadcast the
    queries, one scan over candidates, per-query top-k window."""
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id", _as_double("embedding").alias("e")
    )
    q = _queries(emb, F.col("vec_id") < 10)
    return _cosine_rows(_exact_top_k(emb, q))


def _exact_topk_evidence(
    ann: DataFrame, emb: DataFrame, query_pred, k: int = 5
) -> DataFrame:
    """Append ``in_exact_topk`` to an ANN result so the rows themselves
    evidence recall: the exact top-k (broadcast queries, one candidate
    scan, same tie-break) is computed alongside and left-joined on
    (query_id, neighbor_id)."""
    exact = _exact_top_k(emb, _queries(emb, query_pred), k).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_exact_topk")
    )
    return ann.join(
        F.broadcast(exact), ["query_id", "neighbor_id"], "left"
    ).withColumn("in_exact_topk", F.coalesce("in_exact_topk", F.lit(False)))


#: The detail frame of the ANN and IVF searches (``*_rich``).
_RICH_SCHEMA = (
    "query_id bigint, neighbor_id bigint, nn_rank int,"
    " cosine double, in_exact_topk boolean"
)


def _recall_summary(detail: DataFrame) -> DataFrame:
    """Per query of a ``*_rich`` detail frame: (n_results, recall_ok),
    where recall_ok = at least 4 of the results are exact top-5
    neighbors (``in_exact_topk``)."""
    return detail.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        (
            # >= least(4, k): a tiny corpus returns k = n-1 < 5
            # results, all exact (brute-force / all-cells probe)
            F.sum(F.col("in_exact_topk").cast("int"))
            >= F.least(F.lit(4), F.count("*"))
        ).alias("recall_ok"),
    )


def sim_search_ann_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detail frame for llm_sim_search_ann: the ANN neighbor rows
    (query_id, neighbor_id, nn_rank, cosine, in_exact_topk) — what a
    user of the ANN search actually consumes, and what the recall tests
    in tests/test_llm.py assert against the exact top-5."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # LSH.fit requires a non-empty corpus (random projections need the
    # vector dimension from data); an empty index has no neighbors.
    n_corpus = table_row_count(sf_dir, "embeddings")
    if n_corpus == 0:
        return spark.createDataFrame([], _RICH_SCHEMA)
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id",
        _as_double(F.col("embedding")).alias("e"),
        array_to_vector(F.col("embedding")).alias("features"),
    )
    if n_corpus < 64:
        # Brute-force below the index floor (standard ANN practice —
        # faiss does the same): the LSH radius is a statistical
        # envelope calibrated on corpus-scale geometry, and on a
        # handful of random vectors every pair can legitimately sit
        # outside it (3 rows returned ZERO candidates on the round-7
        # tiny axis). Exact search is both correct and faster here,
        # and every row it returns IS an exact top-5 neighbor.
        exact = _exact_top_k(emb, _queries(emb, F.col("vec_id") < 10))
        return _cosine_rows(exact).withColumn("in_exact_topk", F.lit(True))
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.7,
        numHashTables=12,
        seed=42,
    ).fit(emb)
    q = emb.where(F.col("vec_id") < 10)
    # distance 1.35 ⇔ cosine ≥ 0.089 — wide enough to hold every true
    # top-5 neighbor (observed max pairwise cosine ≈ 0.51 ⇒ d ≈ 0.99).
    cands = model.approxSimilarityJoin(q, emb, 1.35, distCol="l2")
    pairs = cands.where(
        F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
    ).select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        _dot(F.col("datasetA.e"), F.col("datasetB.e")).alias("cos"),
    )
    ann = _cosine_rows(_top_k(pairs))
    # Outlier-query exact fallback (round-8 zero-embed sweep find): the
    # radius is calibrated on corpus-scale geometry of WELL-FORMED
    # vectors, so a corrupted query — the axis's [1e30]*dim vector sits
    # ~1e30 L2 from everything at ~zero cosine — draws fewer than k
    # candidates from the bucket join and silently vanishes from the
    # result (9 of 10 queries returned). Faiss-style answer: detect
    # starved queries and re-run JUST those exactly. The query set is
    # bounded (10 rows), so the fallback is a broadcast-cross of a
    # handful of rows against one corpus scan — recall stays guaranteed
    # without widening the radius for everyone, which would de-select
    # the index (radius ≥ √2 ≈ every pair for random vectors).
    counts = ann.groupBy("query_id").agg(F.count("*").alias("n_cand"))
    sated = counts.where(F.col("n_cand") >= 5)
    starved = _queries(emb, F.col("vec_id") < 10).join(
        F.broadcast(sated), "query_id", "left_anti"
    )
    fb = _cosine_rows(_exact_top_k(emb, starved))
    ann = ann.join(
        F.broadcast(sated.select("query_id")), "query_id", "left_semi"
    ).unionByName(fb)
    # Every row states whether it is also an exact top-5 neighbor —
    # the evidence column the registered summary aggregates.
    return _exact_topk_evidence(ann, emb, F.col("vec_id") < 10)


@query(
    "llm_sim_search_ann",
    oracle=_wf("""
    SELECT vec_id AS query_id,
           least(5, (SELECT count(*) FROM embeddings) - 1)::BIGINT
               AS n_results,
           true AS recall_ok
    FROM embeddings
    WHERE vec_id < 10 AND (SELECT count(*) FROM embeddings) >= 2
    """),
)
def llm_sim_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via BucketedRandomProjectionLSH
    (seed=42). For normalized vectors L2 distance is monotone in cosine
    (d² = 2 − 2cos), so LSH on L2 ranks identically. Candidates from
    approxSimilarityJoin (bucket equi-join), exact re-rank of survivors,
    top-5 window (sim_search_ann_rich has the neighbor rows).

    Hash-checkable quality claim (the within_tol pattern): per query,
    (n_results, recall_ok) where recall_ok = (≥ 4 of the 5 ANN results
    are exact top-5 neighbors), computed Spark-side from the evidence
    join; the oracle expects every query to read (5, true). An LSH
    config that degrades recall below 0.8/query — or returns short
    result lists — fails the driver's value hash instead of hiding in a
    rows-only pass. Measured: 5/5 exact at every fixture SF."""
    return _recall_summary(sim_search_ann_rich(spark, sf_dir))


@query(
    "llm_knn_label",
    oracle=_wf("""
    WITH d AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.label AS nbr_label,
               list_dot_product(q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]) AS cos,
               c.vec_id AS neighbor_id
        FROM embeddings q JOIN embeddings c
          ON q.vec_id < 50 AND c.vec_id != q.vec_id
    ), top5 AS (
        SELECT query_id, true_label, nbr_label
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, neighbor_id
              ) AS rn FROM d)
        WHERE rn <= 5
    ), votes AS (
        SELECT query_id, true_label, nbr_label, count(*) AS n_votes
        FROM top5 GROUP BY query_id, true_label, nbr_label
    )
    SELECT query_id, true_label, nbr_label AS predicted_label
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY n_votes DESC, nbr_label
          ) AS vr FROM votes)
    WHERE vr = 1
    """),
)
def llm_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN (k=5) majority-vote label prediction for 50 queries, with a
    deterministic tie rule (most votes, then smallest label)."""
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.col("label").alias("nbr_label"),
        _as_double("embedding").alias("e"),
    )
    q = _queries(
        emb, F.col("vec_id") < 50, F.col("nbr_label").alias("true_label")
    )
    votes = (
        _exact_top_k(emb, q)
        .groupBy("query_id", "true_label", "nbr_label")
        .agg(F.count("*").alias("n_votes"))
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), "nbr_label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .where(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("nbr_label").alias("predicted_label"),
        )
    )


@query(
    "llm_dedup_embed",
    oracle=_wf("""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CASE WHEN abs(list_dot_product(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[])) < 1e9
                THEN round(list_dot_product(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6)
                ELSE list_dot_product(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) END AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
    """),
)
def llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold
    (canonicalized a < b). Threshold 0.45 exercises the operator on the
    fixture's cosine distribution (max ≈ 0.51); production near-dup
    uses ≥ 0.95.

    One exact path at every corpus size: :func:`_tile_scan` with
    :func:`_near_dup_block` — one map-side pass per ≤ 100 MB corpus
    tile, no shuffle, no pair join. With several tiles each tile's pairs
    are checkpointed and unioned (a tile's pairs never meet another
    tile's: each pair surfaces once, from the tile holding vec_b).
    Rounding happens once, after the scan.

    No candidate generator replaces the scan: 0.45 sits inside the
    random-cosine noise band, where sign-bit banding cannot amplify (a
    ≥ 99 %-recall signed-random-projection band join would need more
    than 800 bands of ≥ 12 bits at any corpus size, and a force-banded
    run measured recall 0.27), so recall 1.0 costs the O(N²·d) GEMM,
    which the tile scan spreads over tasks × tiles."""
    emb = load_embeddings(spark, sf_dir).select("vec_id", "embedding")

    def checkpoint_union(pairs, part):
        part = part.localCheckpoint(eager=True)
        return part if pairs is None else pairs.unionByName(part)

    pairs = _tile_scan(
        emb,
        table_row_count(sf_dir, "embeddings"),
        partial(_near_dup_block, threshold=0.45),
        "vec_a bigint, vec_b bigint, cos double",
        checkpoint_union,
    )
    return pairs.select(
        "vec_a", "vec_b", round_sane("cos", 6).alias("cosine")
    )


@query(
    "llm_multimodal_cols",
    oracle=_wf("""
    SELECT d.doc_id, d.lang, d.n_chars, e.label,
           len(e.embedding) AS emb_dim,
           CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[])) < 1e9
                THEN round(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                 e.embedding::DOUBLE[])), 6)
                ELSE sqrt(list_dot_product(e.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]))
           END AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """),
)
def llm_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One table carrying text + vector + typed metadata: documents ⋈
    embeddings on doc_id = vec_id (1:1 at sf0.001/0.01). Verifies the
    vector column survives the join intact (dim + L2 norm)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_embeddings(spark, sf_dir)
    e = _as_double(F.col("embedding"))
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "label",
            F.size("embedding").alias("emb_dim"),
            round_sane(F.sqrt(_dot(e, e)), 6).alias("emb_norm"),
        )
    )


@query(
    "llm_multimodal_decode",
    oracle=_wf("""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           -- zero-byte payload has no first byte: unguarded, the
           -- dangling '0x'::INT cast errors (the Spark side emits
           -- NULL for an empty payload)
           CASE WHEN octet_length(encode(text)) >= 1
                THEN ('0x' || substring(hex(encode(text)), 1, 2))::INT
           END AS first_byte,
           octet_length(encode(text)) % 640 AS fake_width,
           octet_length(encode(text)) % 480 AS fake_height
    FROM documents
    """),
)
def llm_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: payloads as opaque ``binary``
    + a batch decoder over mapInPandas.

    The real decode step (image/audio libs) is STUBBED with a
    deterministic fake (byte length → fake dimensions) because decoders
    aren't in this container — but the Spark-side shape is real: binary
    column in Arrow batches, iterator-of-batches UDF, typed output
    schema, constant memory per task. Swapping the fake for PIL/ffmpeg
    changes only the function body."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # NULL payload → NULL features, keeping the row — exactly
            # the oracle's octet_length(encode(NULL)) = NULL chain.
            n_bytes = payloads.map(lambda b: None if b is None else len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "first_byte": payloads.map(
                        lambda b: b[0] if b is not None and len(b) else None
                    ),
                    # STUB: deterministic fake "decoded" dimensions
                    # (object-dtype series after the NULL mapping, so
                    # modulo goes through map, not vectorized %)
                    "fake_width": n_bytes.map(
                        lambda n: None if n is None else n % 640
                    ),
                    "fake_height": n_bytes.map(
                        lambda n: None if n is None else n % 480
                    ),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    schema = (
        "doc_id bigint, n_bytes bigint, first_byte int, "
        "fake_width bigint, fake_height bigint"
    )
    return docs.mapInPandas(decode, schema)


#: Peak similarity count one GEMM block may materialize in a task
#: (block_rows × candidates ≈ 256 MB of float64 at the cap). The tile
#: scan and the semdedup pair kernel both row-block their products
#: under it, so a large tile or a skewed cluster never builds a full
#: n×n matrix; blocking never changes their output.
_GEMM_BLOCK_ELEMS = 32_000_000

#: Rows per corpus tile of :func:`_tile_scan`: one tile's matrix
#: (200 k × 64-d float64 ≈ 100 MB) is the largest thing fetched to the
#: driver or broadcast at a time, whatever N is. A corpus of at most
#: this many rows is one tile and runs as a single lazy broadcast pass.
_KNN_TILE_ROWS = 200_000


def _tile_scan(
    emb: DataFrame, n_rows: int, block, schema: str, merge
) -> DataFrame:
    """The one exact similarity kernel, shared by llm_knn_self_join and
    llm_dedup_embed.

    ``emb`` holds (vec_id, embedding). The corpus splits into
    ⌈n_rows / _KNN_TILE_ROWS⌉ id-hash tiles. Each non-empty tile is
    Arrow-fetched, sorted by id and broadcast (≤ ~100 MB), and every
    vector streams past it through ``mapInPandas`` in row blocks of at
    most ``_GEMM_BLOCK_ELEMS`` similarities. Each block's BLAS product
    ``S = Q·candᵀ`` goes to ``block(qids, Q, cand_ids, cand, S)``, which
    returns rows of ``schema``. BLAS only selects: every value a block
    ranks by or emits is recomputed with the DuckDB-order fold
    :func:`_ord_pair_dots` (see there for why).

    One tile returns the lazy ``mapInPandas`` result: one fetch, no
    persist, no checkpoint. With several tiles the corpus is cached
    (each tile otherwise re-reads the source twice), ``merge(out,
    part)`` folds each tile's result into the running output and must
    materialize it, and the tile's broadcast is then destroyed, so at
    most one tile broadcast is live and lineage stays O(1) in tiles.

    O(N²·d) compute is inherent to "all pairs" / "top-k for every
    vector" and a cluster absorbs it as N²/tasks; what must not grow
    with N is any single task's — or the driver's — working set, and
    tiling bounds both. A whole-NULL embedding has no position in
    similarity space, so it is dropped before the numpy kernels
    (np.stack cannot hold it)."""
    import numpy as np

    spark = emb.sparkSession
    emb = emb.where(F.col("embedding").isNotNull())
    n_tiles = max(1, -(-n_rows // _KNN_TILE_ROWS))
    if n_tiles > 1:
        emb = emb.persist()

    def scan(bc):
        def blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cand_ids, cand = bc.value
            blk = max(1, _GEMM_BLOCK_ELEMS // len(cand_ids))
            for pdf in batches:
                for lo in range(0, len(pdf), blk):
                    sub = pdf.iloc[lo : lo + blk]
                    Q = np.stack(sub["embedding"].values).astype(np.float64)
                    qids = sub["vec_id"].to_numpy(dtype=np.int64)
                    yield block(qids, Q, cand_ids, cand, Q @ cand.T)

        return blocks

    out = None
    try:
        for t in range(n_tiles):
            tile = emb
            if n_tiles > 1:
                tile = emb.where(
                    F.pmod(F.xxhash64("vec_id"), F.lit(n_tiles)) == t
                )
            tbl = tile.toArrow()
            ids = np.asarray(tbl.column("vec_id").to_numpy(), dtype=np.int64)
            if len(ids) == 0:
                # n_rows is the parquet FOOTER count while tiles draw
                # from the filtered/canonicalized set — a tile can be
                # empty (heavy dup-id collapse, NULL filter), and a
                # (0,)-shaped candidate matrix would crash the GEMM.
                continue
            mat = np.array(
                tbl.column("embedding").to_pylist(), dtype=np.float64
            )
            order = np.argsort(ids)
            bc = spark.sparkContext.broadcast((ids[order], mat[order]))
            part = emb.mapInPandas(scan(bc), schema)
            if n_tiles == 1:
                return part  # lazy: the broadcast lives with the plan
            try:
                out = merge(out, part)
            finally:
                bc.destroy()
    finally:
        if n_tiles > 1:
            emb.unpersist()
    return out if out is not None else spark.createDataFrame([], schema)


def _knn_block(qids, Q, cand_ids, cand, S, k: int) -> pd.DataFrame:
    """kNN block function for :func:`_tile_scan`: each query's top-k
    neighbors in the tile under (cos DESC, neighbor_id ASC), itself
    excluded, ranked 1..k in ``nn_rank``.

    No full N-sort per query: the vectorized k-th largest BLAS value
    bounds each query's head, and every true top-k member is within
    ``_slack`` of it even under BLAS position jitter. Only the head's
    dots are recomputed with the exact fold, in ONE call per block, and
    rank and emitted ``cos`` use only the recomputed values — the same
    output as a full fold sort, at BLAS bulk speed."""
    import numpy as np

    n = len(cand_ids)
    # Self-exclusion via binary search on the sorted id axis — O(log n)
    # per query, not an n-length mask.
    pos = np.searchsorted(cand_ids, qids)
    hit = (pos < n) & (cand_ids[np.minimum(pos, n - 1)] == qids)
    S[np.flatnonzero(hit), pos[hit]] = -np.inf
    # k ≤ n: np.partition(S, n - k) needs a valid kth on a tiny tile.
    k = min(k, n)
    thresh = np.partition(S, n - k, axis=1)[:, n - k]
    # isfinite drops the -inf self slot, which would otherwise pass
    # `-inf >= -inf` when a whole row is self-excluded (n == 1).
    head = (S >= (thresh - _slack(thresh))[:, None]) & np.isfinite(S)
    ri, ci = np.nonzero(head)
    ex = _ord_pair_dots(Q[ri], cand[ci])
    order = np.lexsort((cand_ids[ci], -ex, ri))
    ri, ci, ex = ri[order], ci[order], ex[order]
    rank = np.arange(len(ri)) - np.searchsorted(ri, ri)
    keep = rank < k
    return pd.DataFrame(
        {
            "query_id": qids[ri[keep]],
            "neighbor_id": cand_ids[ci[keep]],
            "nn_rank": rank[keep].astype(np.int32) + 1,
            "cos": ex[keep],
        }
    )


def _near_dup_block(qids, Q, cand_ids, cand, S, threshold: float):
    """Near-dup block function for :func:`_tile_scan`: every pair
    (vec_a < vec_b) whose fold cosine is ≥ ``threshold``. The pair
    surfaces only from the tile holding vec_b, when vec_a streams past
    it, so each unordered pair is emitted exactly once. The slack mask
    keeps every pair BLAS jitter could move across the threshold; the
    pair set above it is sparse, so the fold recompute is O(pairs)."""
    import numpy as np

    qi, ci = np.nonzero(
        (S >= threshold - _slack(threshold))
        & (qids[:, None] < cand_ids[None, :])
    )
    ex = _ord_pair_dots(Q[qi], cand[ci])
    keep = ex >= threshold
    return pd.DataFrame(
        {"vec_a": qids[qi][keep], "vec_b": cand_ids[ci][keep], "cos": ex[keep]}
    )


@query(
    "llm_knn_self_join",
    oracle=_wf("""
    WITH d AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_dot_product(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        -- whole-NULL embeddings (allowed through the scan doctrine)
        -- have no position in similarity space: excluded on both
        -- sides, matching the Spark filter (list_dot_product on a
        -- NULL list is also a DuckDB error, not a NULL)
        WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
    )
    SELECT query_id, neighbor_id, nn_rank, CASE WHEN abs(cos) < 1e9 THEN round(cos, 6) ELSE cos END AS cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos DESC, neighbor_id
          ) AS nn_rank FROM d)
    WHERE nn_rank <= 5
    """),
)
def llm_knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full kNN self-join: top-5 cosine neighbors for EVERY vector (the
    compute-bound BASELINE.md row: 2 k × 2 k × 64-d at sf0.1).

    Vectorized-Python exact kernel (:func:`_tile_scan` +
    :func:`_knn_block`): the candidate matrix (N×64 doubles — ~1 MB at
    sf0.1) is broadcast to every task as a numpy array, and queries
    stream through ``mapInPandas`` computing a blocked float64 matmul +
    per-row top-5 selection. That turns 4 M scalar dot-product
    expressions into a handful of BLAS calls — measured ~20× faster
    than the expression-tree formulation at sf0.1 and faster than the
    DuckDB envelope.

    Scale: above ``_KNN_TILE_ROWS`` the corpus is never collected
    whole: it is scanned one ≤100 MB tile broadcast at a time, and a
    running best-5 merges the tiles through one bounded window (N·5
    rows, re-checkpointed per tile). Rounding happens once, after the
    final merge — per-tile rounding could flip near-tie order vs the
    oracle's unrounded sort. Exact tiling replaced a BRP-LSH
    ``approxSimilarityJoin`` that was degenerate on unit vectors (one
    scalar projection per table put ~everything in a handful of
    buckets, enumerating ~N² candidate pairs); users who want
    sub-quadratic search use llm_sim_search_ann / _ivf."""
    emb = load_embeddings(spark, sf_dir).select("vec_id", "embedding")

    def keep_best(best, part):
        both = part if best is None else best.unionByName(part)
        return _top_k(both).localCheckpoint(eager=True)

    best = _tile_scan(
        emb,
        table_row_count(sf_dir, "embeddings"),
        partial(_knn_block, k=5),
        "query_id bigint, neighbor_id bigint, nn_rank int, cos double",
        keep_best,
    )
    return _cosine_rows(best)


def sim_search_ivf_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate NN: k-means coarse quantizer (k=16,
    seed=42) partitions the corpus into cells; each query probes its
    nprobe=15 nearest cells and exact-reranks only those candidates.
    The fixture's vectors are RANDOM (structureless) — IVF's worst case
    — so nprobe is recall-targeted high here (measured: nprobe=12 drops
    one query to 3/5 hits at sf0.01, 14 leaves two queries at exactly
    4/5, 15 is 5/5 at every SF with one-miss slack against the ≥4
    summary gate); on real clustered embeddings the same
    code prunes far harder. This is the knob that turns a 100 TB scan into
    a per-cell partition-pruned read (cells map to partition directories
    at scale; probing is partition pruning). recall@5 vs exact is
    asserted in tests/test_llm.py.

    Same shape as production IVF indexes: centroid table broadcast,
    assignment persisted with the data, candidate generation is an
    equi-join on cell id."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # KMeans.fit needs data (k centers from an empty corpus is
    # undefined, and MLlib rejects k=1 outright); an empty or
    # single-vector index has no neighbor pairs to return.
    n_corpus = table_row_count(sf_dir, "embeddings")
    if n_corpus <= 1:
        return spark.createDataFrame([], _RICH_SCHEMA)
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        _as_double("embedding").alias("e"),
        array_to_vector(F.col("embedding")).alias("features"),
    )
    # k cells never exceed the corpus (MLlib KMeans throws
    # ArrayIndexOutOfBounds fitting 16 centers to 3 rows — round-7
    # tiny axis); with few cells every cell is probed, so the tiny
    # regime degrades to exact search, the right behavior anyway.
    n_cells = min(16, n_corpus)
    km = KMeans(
        k=n_cells, seed=42, featuresCol="features", predictionCol="cell"
    ).fit(emb)
    assigned = km.transform(emb).select("vec_id", "e", "cell")
    centers = np.array(km.clusterCenters(), dtype=np.float64)
    bc = spark.sparkContext.broadcast(centers)

    nprobe = min(15, n_cells)

    @F.pandas_udf("array<int>")
    def top_cells(embs: pd.Series) -> pd.Series:
        cmat = bc.value
        return embs.map(
            lambda v: np.argsort(-(np.asarray(v, dtype=np.float64) @ cmat.T))[
                :nprobe
            ]
            .astype("int32")
            .tolist()
        )

    queries = (
        emb.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode(top_cells(F.col("embedding"))).alias("cell"),
        )
    )
    cands = queries.join(assigned, "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    pairs = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _dot(F.col("qe"), F.col("e")).alias("cos"),
    )
    ann = _cosine_rows(_top_k(pairs))
    # Self-evidencing recall, same contract as llm_sim_search_ann.
    return _exact_topk_evidence(ann, emb, F.col("vec_id") < 10)


@query(
    "llm_sim_search_ivf",
    oracle=_wf("""
    SELECT vec_id AS query_id,
           least(5, (SELECT count(*) FROM embeddings) - 1)::BIGINT
               AS n_results,
           true AS recall_ok
    FROM embeddings
    WHERE vec_id < 10 AND (SELECT count(*) FROM embeddings) >= 2
    """),
)
def llm_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable summary of the IVF search (detail rows:
    :func:`sim_search_ivf_rich`): per query, (n_results, recall_ok)
    where recall_ok = (≥ 4 of the 5 IVF results are exact top-5
    neighbors), computed Spark-side from the in_exact_topk evidence
    column — the same within-tolerance oracle pattern that hash-checks
    llm_sim_search_ann. An IVF config that degrades recall below
    0.8/query, or returns short result lists, fails the driver's value
    hash rather than hiding in a rows-only pass. Measured: 5/5 exact at
    every fixture SF (nprobe=12/16 on random vectors)."""
    return _recall_summary(sim_search_ivf_rich(spark, sf_dir))


@query(
    "llm_embed_quantize",
    oracle=_wf("""
    WITH q AS (
        SELECT vec_id, label,
               embedding::DOUBLE[] AS e,
               list_transform(embedding::DOUBLE[],
                              x -> CASE WHEN isnan(x) THEN NULL
                                   ELSE least(greatest(floor(x * 127),
                                              -128), 127)::BIGINT
                                   END) AS qv
        FROM embeddings
    )
    SELECT vec_id, label,
           len(qv) AS n_dims,
           list_aggregate(qv, 'sum')::BIGINT AS q_sum,
           list_aggregate(qv, 'min') AS q_min,
           list_aggregate(qv, 'max') AS q_max
    FROM q
    """),
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style embedding quantization: clamp(floor(x·127), -128,
    127) per dimension — the storage-compression step a 100 TB vector
    corpus needs (4 bytes → 1 byte per dim before ANN indexing).

    floor (not round) is deliberate: round-half ties on binary doubles
    differ between engines (SURVEY §5.4), floor doesn't. The clamp is
    what a real int8 quantizer does to out-of-scale components — and
    it is also what keeps the engines aligned AND overflow-free on
    damaged vectors: Spark's floor saturates ±∞ to ±Long.MaxValue (so
    the q_sum fold overflowed ANSI) where DuckDB's cast errors; after
    the clamp both sit at ±127/−128. A NaN component quantizes to NULL
    (no usable magnitude, same doctrine as checked.cents) and the sum
    fold skips it like SQL sum — round-7 zero_embed axis. All checked
    outputs are exact int64 folds over the quantized vector; the
    quantized array itself is the payload a real pipeline would write."""
    emb = load_embeddings(spark, sf_dir)
    qv = F.transform(
        _as_double(F.col("embedding")),
        lambda x: F.when(
            ~F.isnan(x),
            F.least(
                F.greatest(F.floor(x * 127), F.lit(-128).cast("bigint")),
                F.lit(127).cast("bigint"),
            ),
        ),
    )
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("n_dims"),
        F.when(
            # SQL-sum semantics, matching list_aggregate(qv, 'sum'):
            # skip NULL (NaN-damaged) dims, and an all-NULL or empty
            # vector sums to NULL — never a fabricated 0
            F.exists(qv, lambda x: x.isNotNull()),
            F.aggregate(
                qv, F.lit(0).cast("bigint"),
                lambda acc, x: acc + F.coalesce(x, F.lit(0).cast("bigint")),
            ),
        ).alias("q_sum"),
        F.array_min(qv).alias("q_min"),
        F.array_max(qv).alias("q_max"),
    )


@query(
    "llm_embed_centroid",
    oracle=_wf("""
    WITH pos AS (
        SELECT vec_id, label,
               unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), cent AS (
        SELECT label AS c_label, i, avg(x) AS c
        FROM pos GROUP BY label, i
    ), dist AS (
        SELECT p.vec_id, p.label, c.c_label,
               sum((p.x - c.c) * (p.x - c.c)) AS d2
        FROM pos p JOIN cent c ON p.i = c.i
        GROUP BY p.vec_id, p.label, c.c_label
    ), ranked AS (
        SELECT vec_id, label, c_label, d2,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY round(d2, 6), c_label
               ) AS rn
        FROM dist
    )
    SELECT vec_id, label, c_label AS assigned_label,
           round(d2, 4) AS dist2,
           (label = c_label) AS is_own_centroid
    FROM ranked WHERE rn = 1
    """),
)
def llm_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means step over the embedding corpus: compute the per-label
    centroid, then assign every vector to its nearest centroid (squared
    L2). The building block of embedding-space clustering / topic
    bucketing in curation pipelines.

    Centroids via posexplode → groupBy(label, dim) → avg — a partial-
    aggregable shuffle whose output is k×dim rows (tiny) — re-collected
    to arrays and BROADCAST to the assignment join: the corpus never
    re-shuffles (aggregate-then-broadcast, 100 TB posture). Nearest
    pick rounds d2 to 6 before ranking so FP summation-order ulps can't
    flip the argmin between engines (SURVEY §5.4.2)."""
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id", "label", _as_double("embedding").alias("e")
    )
    cent = (
        emb.select(
            "label", F.posexplode("e").alias("i", "x")
        )
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "c"))
            ).alias("pairs")
        )
        .select(
            "c_label",
            F.transform(F.col("pairs"), lambda p: p.getField("c")).alias(
                "ce"
            ),
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("e"), F.col("ce"), lambda x, c: (x - c) * (x - c)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "c_label", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("d2", 6), "c_label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            F.col("c_label").alias("assigned_label"),
            F.round("d2", 4).alias("dist2"),
            (F.col("label") == F.col("c_label")).alias("is_own_centroid"),
        )
    )


@query(
    "llm_cluster_topics",
    oracle=_wf("""
    WITH pos AS (
        SELECT vec_id, label,
               unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), cent AS (
        SELECT label AS c_label, i, avg(x) AS c
        FROM pos GROUP BY label, i
    ), dist AS (
        SELECT p.vec_id, c.c_label,
               sum((p.x - c.c) * (p.x - c.c)) AS d2
        FROM pos p JOIN cent c ON p.i = c.i
        GROUP BY p.vec_id, c.c_label
    ), assign AS (
        SELECT vec_id, c_label AS cluster FROM (
            SELECT vec_id, c_label, row_number() OVER (
                PARTITION BY vec_id ORDER BY round(d2, 6), c_label
            ) AS rn FROM dist
        ) WHERE rn = 1
    ), toks AS (
        SELECT DISTINCT a.cluster, d.doc_id, t.word
        FROM assign a
        JOIN documents d ON d.doc_id = a.vec_id,
        LATERAL (SELECT unnest(str_split(d.text, ' ')) AS word) t
        WHERE len(t.word) >= 4
    ), freq AS (
        SELECT cluster, word, count(*) AS n_docs
        FROM toks GROUP BY cluster, word
    )
    SELECT cluster, term_rank, word AS term, n_docs
    FROM (
        SELECT cluster, word, n_docs, row_number() OVER (
            PARTITION BY cluster ORDER BY n_docs DESC, word
        ) AS term_rank
        FROM freq
    ) WHERE term_rank <= 3
    """),
)
def llm_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic terms per embedding cluster: assign every vector to its
    nearest per-label centroid (the llm_embed_centroid k-means step),
    join the 1:1 documents row, and surface each cluster's top-3 most
    document-frequent words (≥4 chars — drops particles without a
    stopword list). The composite a curation pipeline runs to NAME the
    clusters its dedup/mixing stages operate on.

    Shape at 100 TB: centroids are aggregate-then-broadcast (k×dim
    rows), the doc join is id-equi and co-partitionable, term counting
    is one partial-aggregable shuffle on (cluster, word), and top-3 is
    a bounded per-cluster window. Counts are exact integers; ties break
    on the term string — no FP anywhere in the checked output."""
    from pymapreduce_spark.io import load_table as _lt

    assign = llm_embed_centroid(spark, sf_dir).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        assign.join(docs, assign.vec_id == docs.doc_id)
        .select(
            "cluster",
            "doc_id",
            F.explode(F.split("text", " ")).alias("word"),
        )
        .where(F.length("word") >= 4)
        .distinct()
    )
    freq = toks.groupBy("cluster", "word").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n_docs"), "word")
    return (
        freq.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= 3)
        .select("cluster", "term_rank", F.col("word").alias("term"), "n_docs")
    )


def _semdedup_probe(full: DataFrame) -> tuple:
    """(approx distinct-vector count, seed rows): the semdedup
    collapse-gate probe and the 8-row seed collect, one Spark job each.
    Memoized per fixture stamp by the caller, so repeated invocations
    (bench median-of-3, the differential suite) skip both jobs."""
    n = full.agg(F.approx_count_distinct("v").alias("d")).first()["d"]
    seeds = sorted(
        [
            (r["vec_id"], None if r["v"] is None else list(r["v"]))
            for r in full.where(F.col("vec_id") < 8).collect()
        ]
    )
    return n, seeds


@query(
    "llm_semdedup",
    oracle=_wf("""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), seeds AS (
        SELECT vec_id AS seed_id, v AS sv FROM e WHERE vec_id < 8
    ), env AS (
        SELECT vec_id, v FROM e WHERE v IS NOT NULL
    ), scored AS (
        -- list_dot_product ERRORS on a NULL list even under a CASE
        -- guard (DuckDB evaluates it eagerly), so NULL-involving pairs
        -- are unioned in with an explicit NULL cosine instead: a NULL
        -- embedding scores NULL, sorts last, never crosses the dup
        -- threshold
        SELECT env.vec_id, s.seed_id,
               round(list_dot_product(env.v, s.sv), 6) AS cos
        FROM env CROSS JOIN (
            SELECT seed_id, sv FROM seeds WHERE sv IS NOT NULL) s
        UNION ALL
        SELECT e.vec_id, seeds.seed_id, NULL::DOUBLE AS cos
        FROM e CROSS JOIN seeds
        WHERE e.v IS NULL OR seeds.sv IS NULL
    ), assigned AS (
        SELECT vec_id, seed_id AS cluster FROM (
            SELECT vec_id, seed_id, row_number() OVER (
                PARTITION BY vec_id
                ORDER BY cos DESC NULLS LAST, seed_id) AS rn
            FROM scored) WHERE rn = 1
    ), dups AS (
        SELECT DISTINCT xa.vec_id
        FROM assigned xa
        JOIN assigned ya ON xa.cluster = ya.cluster
                        AND ya.vec_id < xa.vec_id
        JOIN env x ON x.vec_id = xa.vec_id
        JOIN env y ON y.vec_id = ya.vec_id
        WHERE round(list_dot_product(x.v, y.v), 6) >= 0.45
    )
    SELECT a.vec_id, a.cluster,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """),
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: coarse-cluster the corpus, then
    look for near-duplicate pairs ONLY within each cluster and keep the
    lowest id — the cluster-bucketed alternative to global LSH
    (llm_dedup_embed), and the reason semantic dedup is tractable at
    100 TB: pairwise cost is Σ|cluster|², never N².

    The coarse quantizer is a deterministic stand-in (the 8 lowest-id
    vectors as centroids — production drops in k-means centroids, same
    plan): assignment is a broadcast of 8 seed vectors against the
    corpus scan with an argmax via one partial-aggregable
    min(struct(-cos, seed)); the ONLY shuffle is the groupBy(cluster)
    feeding the pair kernel. The within-cluster pairwise pass is a
    per-group numpy matmul under applyInPandas (the llm_knn_self_join
    kernel shape) — one |C|×|C| GEMM per cluster beats ~|C|²/2
    Catalyst HOF lambda folds by ~4× at sf0.1, and its memory is
    bounded by the cluster size the quantizer granularity controls.
    Threshold compares round(cos, 6) in BOTH engines so numpy's
    pairwise summation and DuckDB's sequential fold cannot disagree at
    the boundary."""
    full = load_embeddings(spark, sf_dir).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # Seed assignment as a MAP-ONLY expression: the 8 seed vectors are
    # collected driver-side (aggregate-then-broadcast, ≤8 rows — §4.2,
    # memoized on the fixture stamp together with the gate probe) and
    # the argmax over them is one least(struct(-cos, seed)) scalar
    # expression per row, built as a SINGLE F.expr SQL string — 8×dim
    # F.lit() literals would cost one py4j round trip each (~1 s of
    # pure driver time at 64 dims). The previous crossJoin(seeds) +
    # groupBy(vec_id) shape paid an 8× row fan-out plus a full-table
    # shuffle for what is a per-row fold; the interleaved A/B that
    # motivated this fusion is recorded in README §scale.
    n_uniq, seed_rows = fixture_memo(
        "semdedup_probe", sf_dir, ("embeddings",), lambda: _semdedup_probe(full)
    )
    if not seed_rows:
        # No quantizer seeds (corpus has no vec_id < 8, e.g. the empty
        # fixture): the oracle's CROSS JOIN with an empty seed set
        # yields zero rows — match it exactly.
        return full.select(
            "vec_id",
            F.lit(None).cast("long").alias("cluster"),
            F.lit(None).cast("boolean").alias("is_dup"),
        ).where(F.lit(False))

    def fmt(x) -> str:
        # NULL / non-finite elements can appear under adversarial
        # fixtures; repr() would emit unparseable 'None'/'nan'.
        if x is None:
            return "CAST(NULL AS DOUBLE)"
        if x != x:
            return "CAST('NaN' AS DOUBLE)"
        if x in (float("inf"), float("-inf")):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        return f"{x!r}D"

    def seed_term(seed_id: int, sv: list) -> str:
        # NULL cosines (NULL seed vector, NULL row vector, or a NULL
        # element poisoning the fold) must lose to EVERY real cosine,
        # matching the oracle's ORDER BY cos DESC NULLS LAST — nc is
        # -cos, so "last" means +Infinity. Without this, Spark's struct
        # comparison sorts a NULL 'nc' field FIRST and a NULL-cosine
        # seed would win every row (engine split flagged by the r6
        # advisor). Ties among all-NULL cosines fall through to the
        # seed id in both engines. NaN cosines (non-finite embedding
        # elements) remain out of contract — the two engines order NaN
        # differently and no fixture produces them.
        inf = "CAST('Infinity' AS DOUBLE)"
        if sv is None:
            return f"named_struct('nc', {inf}, 's', {seed_id}L)"
        arr = ",".join(fmt(x) for x in sv)
        return (
            "named_struct('nc', coalesce(-round(aggregate(zip_with(v, "
            f"array({arr}), (x, y) -> x * y), 0.0D, "
            f"(acc, x) -> acc + x), 6), {inf}), 's', {seed_id}L)"
        )

    if len(seed_rows) > 1:
        terms = ",\n".join(seed_term(sid, sv) for sid, sv in seed_rows)
        cluster = F.expr(f"least({terms})").getField("s")
    else:
        cluster = F.lit(seed_rows[0][0]).cast("long")
    # Exact-duplicate collapse fused INTO the assignment scan (the same
    # production first stage the fuzzy-dedup pipeline runs): identical
    # vectors share their seed assignment and every pairwise score, so
    # one groupBy(v) yields the representative (group-minimum id) AND
    # its cluster in a single shuffle — the cluster is a function of v
    # alone, so min(vec_id) and any cluster value per group agree.
    # Per-cluster GEMM cost then scales with UNIQUE vectors, never
    # total rows — the duplicate-heavy shape a real crawl's embedding
    # table has. A representative has a qualifying lower-id partner
    # among ALL vectors iff it has one among representatives (exact
    # copies of that partner share its score, and its own
    # representative has an id at most as low).
    tagged = full.withColumn("cluster", cluster)
    assigned = tagged.groupBy("v").agg(
        F.min("vec_id").alias("vec_id"), F.first("cluster").alias("cluster")
    )
    # eqNullSafe: a plain equi-join on v would DROP the NULL-embedding
    # group entirely (NULL never equals NULL) — the null-unsafe-join
    # class the r5 NULL-injection axis pinned. The selfdup gate is
    # coalesced because round(dot(NULL, NULL), 6) >= 0.45 is NULL, and
    # a NULL verdict conjunct would leak a NULL is_dup for exact copies
    # of a NULL vector; the oracle's three-valued compare yields false
    # there (NULL cos is never >= threshold).
    reps = assigned.select(
        F.col("v").alias("rv"), F.col("vec_id").alias("rep_id")
    )
    membership = tagged.alias("f").join(
        reps, F.col("f.v").eqNullSafe(F.col("rv"))
    ).select(
        F.col("f.vec_id").alias("vec_id"),
        "rep_id",
        # self-similarity gate for the expansion step below
        F.coalesce(
            F.round(_dot(F.col("f.v"), F.col("f.v")), 6) >= 0.45,
            F.lit(False),
        ).alias("selfdup"),
    )
    def pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        # NULL embeddings score NULL against everything (never >= the
        # threshold), so they are never dups nor make anything a dup —
        # exclude them from the GEMM (np.vstack would raise on None)
        # and emit qmin = NULL for them, matching the oracle's
        # three-valued comparison.
        valid = pdf["v"].notnull()
        sub = pdf[valid]
        qmin_all = np.full(len(pdf), np.nan)
        if not len(sub):
            return pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cluster": pdf["cluster"].to_numpy(),
                    "qmin": qmin_all,
                }
            )
        m = np.vstack(sub["v"].to_numpy())
        n = len(sub)
        ids = sub["vec_id"].to_numpy(dtype=np.int64)
        # Per representative, emit qmin = the SMALLEST other-rep id
        # whose similarity qualifies (NULL if none) instead of a bare
        # boolean. The rep's own verdict is qmin < rep_id; a copy's
        # verdict needs qmin < copy_id — a copy can have a qualifying
        # partner that its lower-id representative does not (any rep
        # between the two ids), so a boolean would under-report dups
        # exactly when self-similarity is sub-threshold (non-unit-norm
        # vectors; see the expansion select below).
        # Memory gate (the knn kernel's row-bound pattern): one n×n sim
        # matrix is the quadratic hazard when the quantizer hands us a
        # skewed cluster. Past the bound, compute the SAME per-row
        # first-qualifying-column scan in row blocks — each block
        # materializes only block×n similarities, so peak memory is
        # capped at ~_GEMM_BLOCK_ELEMS floats regardless of
        # cluster size, and the output is bit-identical to the
        # one-shot kernel (every verdict near the boundary comes from
        # the per-pair _ord_pair_dots, which no blocking can change).
        block = max(1, _GEMM_BLOCK_ELEMS // max(n, 1))
        qmin = np.full(n, np.nan)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            sim = m[lo:hi] @ m.T  # BLAS bulk pass
            # hybrid boundary patch (see _ord_pair_dots): only entries
            # within ~1e-6 of the 0.45 verdict can have their
            # round-to-6-then-compare outcome flipped by BLAS position
            # jitter — recompute exactly those order-fixed, so the
            # verdict is position-uniform at BLAS speed.
            near = np.abs(sim - 0.45) < 1e-6 + _TIE_EPS
            if near.any():
                r, c = np.nonzero(near)
                sim[r, c] = _ord_pair_dots(m[lo + r], m[c])
            sim = np.round(sim, 6)
            mask = sim >= 0.45
            # exclude the self column (ids are unique per rep)
            cols = np.arange(n)[None, :]
            rows = np.arange(lo, hi)[:, None]
            mask &= cols != rows
            has = mask.any(axis=1)
            # ids are ascending, so the first True column per row IS
            # the minimum qualifying partner id.
            first = mask.argmax(axis=1)
            qmin[lo:hi] = np.where(has, ids[first], np.nan)
        qmin_all[valid.to_numpy()] = qmin
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "cluster": pdf["cluster"].to_numpy(),
                "qmin": qmin_all,
            }
        )

    # Adaptive collapse gate: the collapse arm costs two extra
    # vector-keyed exchanges (groupBy(v) + the membership join), which
    # is pure overhead when the corpus has no duplicate mass — the
    # interleaved A/B in README §scale measured ~2× wall on the
    # dup-free sf0.1 fixture vs ~2× the other way on a 10-copy
    # replica corpus. One map-side-partial approx_count_distinct
    # probe (HLL, order-independent, so deterministic) picks the arm;
    # BOTH arms implement the exact uncollapsed semantics, so the
    # choice is invisible to the oracle. ±2% HLL error only ever
    # shifts the performance heuristic, never a verdict.
    n_total = table_row_count(sf_dir, "embeddings")
    if n_uniq >= 0.98 * n_total:
        # Duplicate-free corpus: run the kernel over the rows
        # directly — qmin vs own id IS the uncollapsed verdict.
        labels = tagged.groupBy("cluster").applyInPandas(
            pair_kernel, "vec_id long, cluster long, qmin double"
        )
        return labels.select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("qmin") < F.col("vec_id"), F.lit(False)).alias(
                "is_dup"
            ),
        )
    rep_labels = assigned.groupBy("cluster").applyInPandas(
        pair_kernel, "vec_id long, cluster long, qmin double"
    )
    # Expand representative labels over the exact-copy membership. A
    # member is a duplicate iff some vector with a LOWER id scores
    # round(cos, 6) >= 0.45 against it; for member c of rep r that is
    #   (c != r AND round(dot(v, v), 6) >= 0.45)   -- r (or an earlier
    #                                                 copy) qualifies
    #   OR qmin(r) < c                             -- some OTHER rep
    #                                                 below c qualifies
    # The self-similarity gate matters for non-unit-norm vectors: an
    # exact copy of a low-norm embedding is NOT automatically a dup of
    # its representative (round(v.v, 6) can sit below 0.45), matching
    # the uncollapsed DuckDB oracle on adversarial fixtures. qmin is
    # NULL when no other rep qualifies — coalesce so `NULL < id` can
    # never leak a NULL verdict.
    return (
        membership.join(
            rep_labels.select(
                F.col("vec_id").alias("rep_id"), "cluster", "qmin"
            ),
            "rep_id",
        )
        .select(
            "vec_id",
            "cluster",
            (
                ((F.col("vec_id") != F.col("rep_id")) & F.col("selfdup"))
                | F.coalesce(
                    F.col("qmin") < F.col("vec_id"), F.lit(False)
                )
            ).alias("is_dup"),
        )
    )


@query(
    "llm_embedding_norm_audit",
    oracle=_wf("""
    WITH n AS (
        SELECT label,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    )
    SELECT label,
           count(*)::BIGINT AS n_vectors,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm,
           bool_and(abs(nrm - 1.0) < 1e-5) AS all_unit_norm
    FROM n GROUP BY label
    """),
)
def llm_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store data contract, audited: every similarity operator
    in this engine assumes L2-normalized embeddings (cosine ≡ dot);
    this op CHECKS that assumption per label instead of trusting the
    fixture docs — min/max norms and a bool_and unit-norm verdict.
    Run it at ingest: a single un-normalized batch silently corrupts
    every downstream cosine ranking, and this one-scan aggregate is
    the cheapest place to catch it. Norms use the same sequential-fold
    dot product as the search operators, so the audit measures exactly
    what they compute."""
    emb = load_embeddings(spark, sf_dir)
    v = _as_double(F.col("embedding"))
    nrm = F.sqrt(_dot(v, v))
    n = emb.select("label", nrm.alias("nrm"))
    return n.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.bool_and(F.abs(F.col("nrm") - 1.0) < 1e-5).alias(
            "all_unit_norm"
        ),
    )
