"""Iterative graph algorithms over DataFrames (no GraphX dependency —
PySpark has no GraphX binding; the DataFrame join+agg formulation below
is the GraphFrames/Pregel pattern and stays fully Catalyst-optimized).

The flagship is connected components by min-label propagation with
pointer jumping — the one genuinely *iterative* algorithm class in the
inventory, and unlike most engines' CC it still carries an EXACT SQL
oracle: DuckDB computes the same components via a recursive-CTE
transitive closure over the identical edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pymapreduce_spark.io import table_row_count
from pymapreduce_spark.operators.llm_vector import _wf, llm_knn_self_join
from pymapreduce_spark.registry import query


def _edge_partitions(sf_dir: str, per_partition: int = 250_000) -> int:
    """Iteration parallelism for the 1-NN graph kernels, from the
    parquet footer (no Spark job): one partition per ~250 k edges,
    floor 1 — the fixture graphs run single-partition (scheduler floor
    dominates), a 10⁹-edge graph runs 4000-way."""
    return max(1, table_row_count(sf_dir, "embeddings") // per_partition)


def _knn_edges(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The k-NN similarity graph as directed ``(src, dst)`` edges: each
    vector points at its k nearest cosine neighbors (ties → lower id),
    from the exact tile-scan kernel ``llm_knn_self_join``."""
    return (
        llm_knn_self_join(spark, sf_dir)
        .where(F.col("nn_rank") <= k)
        .select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    """``edges(src, dst)`` plus every edge reversed (UNION ALL)."""
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def connected_components(
    edges: DataFrame,
    max_rounds: int = 64,
    num_partitions: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Undirected connected components: ``edges(src, dst)`` →
    ``(node, component)`` where component = min node id in the group.

    Min-label propagation with pointer jumping: each round every node
    takes the min label over its neighborhood, then labels chase their
    own label's label (label(node) := label(label(node))). Propagation
    alone needs O(diameter) rounds; the jump squares progress per round
    → O(log n) rounds for any component shape. Convergence is detected
    by an exact changed-row count, so the loop never runs a round it
    does not need; ``localCheckpoint`` cuts lineage each round so plan
    size stays O(1) across iterations (the classic iterative-Spark
    footgun). The per-round cost is one hash join + one aggregate per
    propagation step (labels ride a union into the min-aggregate
    rather than returning via a second join) — the standard
    Pregel-on-DataFrames shape that scales to edge sets far beyond one
    executor.

    ``max_rounds`` is a SAFETY bound, not a tuning knob: reach roughly
    doubles per materialized round, so 64 rounds covers any graph that
    fits in an address space (2⁶⁴ diameter). The loop always exits on
    the exact fixed point in ~log₂(diameter) rounds — a 1M-node path
    (the worst case) converges in ~17 rounds; similarity graphs in
    2-3. An earlier 12-round cap silently returned UNCONVERGED labels
    on high-diameter graphs (a 1M-node path came back as 975 430
    components); exhausting the bound now warns instead of passing
    wrong labels as converged.
    """
    # Checkpoint the symmetric edge set FIRST and derive the label table
    # from the checkpointed edges — the edge build (here: a kNN kernel)
    # would otherwise be evaluated once per eager checkpoint.
    sym = _symmetric(edges)
    # Iteration parallelism should track EDGE volume, not the session's
    # shuffle width: a small graph iterated at 32-way parallelism pays
    # ~6 rounds × 32 near-empty tasks of pure scheduler floor (measured
    # 2.2× wall-clock at sf0.1: 8.0 s → 3.7 s at 1 partition). Callers
    # pass the count they already know (parquet footer); at 100 TB the
    # same formula yields thousands of partitions and nothing changes
    # structurally.
    if num_partitions is not None:
        sym = sym.repartition(num_partitions)
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    converged = False
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # Three propagation steps per materialized round: the dominant
        # cost at small-to-mid label-table sizes is the FIXED per-round
        # job overhead, so batching steps into one lazy plan before
        # materializing cut wall-clock ~2× at sf0.1 (measured with a
        # separate convergence job per round: 7 rounds/3.9 s → 3
        # rounds/1.8 s).
        stepped = labels
        for _prop in range(3):
            # min over (self ∪ neighborhood) in ONE aggregate: the label
            # rows ride the union instead of coming back via a left join
            # + least/coalesce, dropping one join (and its broadcast
            # roundtrip) per step — r14 A/B at sf0.1, identical labels:
            # 2.88 s → 2.18 s median for the full op (guide §2.4, fewer
            # plan nodes per round; 5 steps/round was also tried and
            # does NOT cut the materialized round count — reach is not
            # the binding constraint at this scale). Every sym.dst is
            # also a src (symmetrized), so the inner join drops nobody
            # and the union keeps every node's own label alive.
            stepped = (
                sym.join(stepped, sym.dst == stepped.node)
                .select(F.col("src").alias("node"), "label")
                .unionAll(stepped)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        # pointer jump: label := label(label) — squares the reach.
        parents = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        # Labels only ever decrease, so Σ label is strictly monotone:
        # an unchanged sum ⟺ a fixed point — convergence with no compare
        # join, observed on the rows the checkpoint job writes anyway
        # (no second job per round). Summed in DECIMAL(38,0): node ids
        # span the full int64 range (hash-minted ids at ±Long.MAX — the
        # extreme_ids axis), where a bigint Σ overflows ANSI; 38 digits
        # holds 10¹⁹ ids × 10¹⁹ nodes exactly, and the sum is
        # driver-side only.
        obs = Observation()
        jumped = (
            stepped.join(parents, stepped.label == F.col("p_node"))
            .select("node", F.col("p_label").alias("label"))
            .observe(
                obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        labels = jumped
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if stats is not None:
        # Diagnostics channel for scale_smoke: materialized rounds to
        # the fixed point (each round = 3 propagation steps + 1 jump)
        # and whether the safety bound was hit.
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: safety bound of {max_rounds} rounds "
            "exhausted before the label fixed point — returned labels "
            "may over-count components",
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))


@query(
    "graph_components",
    oracle=_wf("""
    WITH RECURSIVE d AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM d) WHERE rn = 1
    ),
    edges AS (SELECT src, dst FROM nn UNION SELECT dst, src FROM nn),
    reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    ),
    labels AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT component, count(*) AS n_nodes
    FROM labels GROUP BY component
    """),
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the 1-NN similarity graph: each vector
    points at its nearest cosine neighbor (ties → lower id, identical
    tie-break in both engines); components are the natural-cluster
    groups of the embedding corpus. Returns (component, n_nodes) per
    group. The oracle recomputes the SAME graph in DuckDB and resolves
    components by recursive-CTE transitive closure — an exact,
    hash-checked differential for an iterative algorithm (closure is
    O(Σ size²), fine at oracle scale; the Spark side is O(E·log n) and
    is the 100 TB path)."""
    comp = connected_components(
        _knn_edges(spark, sf_dir, 1), num_partitions=_edge_partitions(sf_dir)
    )
    return comp.groupBy("component").agg(F.count("*").alias("n_nodes"))


@query(
    "graph_pagerank",
    oracle=_wf("""
    WITH d AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM d) WHERE rn = 1
    ),
    s0 AS (SELECT src AS node, 1::BIGINT AS s FROM nn),
    s1 AS (SELECT s0.node, 3 + 17 * coalesce(inc.m, 0) AS s
           FROM s0 LEFT JOIN (SELECT e.dst AS node, sum(s0.s) AS m
                              FROM nn e JOIN s0 ON s0.node = e.src
                              GROUP BY e.dst) inc USING (node)),
    s2 AS (SELECT s1.node, 60 + 17 * coalesce(inc.m, 0) AS s
           FROM s1 LEFT JOIN (SELECT e.dst AS node, sum(s1.s) AS m
                              FROM nn e JOIN s1 ON s1.node = e.src
                              GROUP BY e.dst) inc USING (node)),
    s3 AS (SELECT s2.node, 1200 + 17 * coalesce(inc.m, 0) AS s
           FROM s2 LEFT JOIN (SELECT e.dst AS node, sum(s2.s) AS m
                              FROM nn e JOIN s2 ON s2.node = e.src
                              GROUP BY e.dst) inc USING (node)),
    s4 AS (SELECT s3.node, 24000 + 17 * coalesce(inc.m, 0) AS s
           FROM s3 LEFT JOIN (SELECT e.dst AS node, sum(s3.s) AS m
                              FROM nn e JOIN s3 ON s3.node = e.src
                              GROUP BY e.dst) inc USING (node)),
    s5 AS (SELECT s4.node, 480000 + 17 * coalesce(inc.m, 0) AS s
           FROM s4 LEFT JOIN (SELECT e.dst AS node, sum(s4.s) AS m
                              FROM nn e JOIN s4 ON s4.node = e.src
                              GROUP BY e.dst) inc USING (node))
    SELECT node, s::BIGINT AS pr_scaled FROM s5
    """),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 iterations, damping 0.85) over the 1-NN similarity
    graph — the second iterative-algorithm class, and it still carries
    an EXACT oracle: because every node has out-degree exactly 1, the
    per-step update r' = 0.15 + 0.85·Σ r_in stays rational with
    denominator 20^t, so ranks are carried as scaled BIGINTs
    (S_{t+1} = 3·20^t + 17·Σ S_in) and the final S_5 = r_5·20^5 is
    integer-exact in both engines — no FP summation-order hazard at
    all. The oracle unrolls the same five steps as chained CTEs.

    Scale: each step is one join + one aggregate on (edges ⋈ ranks) —
    the standard iterative-DataFrame shape. The five steps build ONE
    lazy plan on the checkpointed edge table (r14, guide §1.2 "remove
    unnecessary passes"): per-step eager checkpoints existed to stop
    exponential lineage growth from ``ranks`` appearing twice per step
    (once feeding the incoming-mass aggregate, once as the next
    rank table's base) — but with out-degree exactly 1 the node set is
    STATIC (``nn1.src`` is unique), so rebasing each step on the fixed
    ``nodes`` table makes growth linear (5 × (join+agg+join)) and the
    whole unroll runs as a single job instead of 1 + 5 checkpoint jobs
    (interleaved A/B at sf0.1, iteration half only, identical output:
    median 1.35 s → 1.03 s — OPTIMIZATION_r14.md; it also drops
    five per-step cached RDD copies of the rank table, which at scale
    is executor memory, guide §5). An unbounded/data-dependent
    iteration count would need the
    checkpoints back — see connected_components, whose convergence
    loop genuinely must materialize per round. True degree-weighted
    PageRank swaps the constant 17 for 17·S/outdeg with a precomputed
    out-degree table."""
    nn1 = (
        _knn_edges(spark, sf_dir, 1)
        .repartition(_edge_partitions(sf_dir))
        .localCheckpoint(eager=True)
    )
    nodes = nn1.select(F.col("src").alias("node"))
    ranks = nodes.withColumn("s", F.lit(1).cast("long"))
    for t in range(5):
        inc = (
            nn1.join(ranks, nn1.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("m"))
        )
        ranks = nodes.join(inc, "node", "left").select(
            "node",
            (F.lit(3 * 20**t) + 17 * F.coalesce("m", F.lit(0))).alias("s"),
        )
    return ranks.select("node", F.col("s").alias("pr_scaled"))


@query(
    "graph_degrees",
    oracle=_wf("""
    WITH d AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM d) WHERE rn = 1
    ),
    deg AS (
        SELECT dst AS node, count(*) AS in_degree FROM nn GROUP BY dst
    )
    SELECT in_degree, count(*) AS n_nodes
    FROM deg GROUP BY in_degree
    """),
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution of the 1-NN similarity graph: how many
    vectors each vector is nearest-neighbor OF — the hubness diagnostic
    run before trusting kNN-based dedup/labeling (high-hubness spaces
    skew both). Nodes nobody points at don't appear (in-degree 0 rows
    are the complement, derivable by one anti join).

    Two partial-aggregable groupBys over the edge list; the edge build
    itself is the blocked kNN kernel (`llm_knn_self_join`), so the 100 TB
    path inherits its broadcast-block structure."""
    nn1 = _knn_edges(spark, sf_dir, 1).select(F.col("dst").alias("node"))
    return (
        nn1.groupBy("node")
        .agg(F.count("*").alias("in_degree"))
        .groupBy("in_degree")
        .agg(F.count("*").alias("n_nodes"))
    )


@query(
    "graph_triangles",
    oracle=_wf("""
    WITH d AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM d) WHERE rn <= 3
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM nn
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
        SELECT node, count(*) AS dg
        FROM (SELECT a AS node FROM und
              UNION ALL SELECT b AS node FROM und)
        GROUP BY node
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM und) AS n_edges,
           (SELECT (sum(dg * (dg - 1))::BIGINT / 2)::BIGINT
            FROM deg) AS n_wedges,
           tri.n_triangles,
           round(3.0 * tri.n_triangles
                 / nullif((SELECT (sum(dg * (dg - 1))::BIGINT / 2)::BIGINT
                           FROM deg), 0), 4) AS clustering
    FROM tri
    """),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the 3-NN
    similarity graph — the cohesion diagnostic for embedding-space
    cluster structure (high clustering ⇒ tight semantic groups, the
    regime where graph-based dedup works).

    The classic two-join triangle enumeration over the canonicalized
    edge list (a<b): e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with the ordering
    a<b<c counting each triangle exactly once. At 100 TB this is THE
    textbook MapReduce triangle algorithm (node-iterator join); skew
    from hub nodes is bounded here because out-degree is fixed at 3 by
    construction — general graphs would pre-split high-degree nodes.
    Wedge count Σ deg·(deg−1)/2 is an exact integer fold; the only
    double is the final 3·Δ/wedges ratio, sealed by round(4)."""
    nn = _knn_edges(spark, sf_dir, 3)
    und = nn.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    ).distinct().localCheckpoint(eager=True)

    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("dg"))
    )
    summary = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("dg") * (F.col("dg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    edges = und.agg(F.count("*").alias("n_edges"))
    return (
        summary.crossJoin(edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles")
                / F.nullif(F.col("n_wedges"), F.lit(0)),
                4,
            ).alias("clustering"),
        )
    )


@query(
    "graph_bfs_distance",
    oracle=_wf("""
    WITH RECURSIVE d AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM d) WHERE rn = 1
    ),
    edges AS (SELECT src, dst FROM nn UNION SELECT dst, src FROM nn),
    bfs(node, dist) AS (
        SELECT src, 0 FROM edges WHERE src < 10
        UNION
        SELECT e.dst, bfs.dist + 1
        FROM edges e JOIN bfs ON e.src = bfs.node
        WHERE bfs.dist < 6
    ),
    best AS (SELECT node, min(dist)::BIGINT AS dist FROM bfs GROUP BY node)
    SELECT dist, count(*)::BIGINT AS n_nodes
    FROM best GROUP BY dist
    """),
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the 1-NN similarity graph: hop distance
    from the seed set {vec_id < 10} (≤ 6 hops), reported as the
    distance histogram — the reachability/expansion profile a
    graph-sampling or label-propagation pipeline measures first.

    Frontier-relaxation on DataFrames: each round joins the current
    best-distance table against the edge list, keeps strictly-improved
    distances (min-aggregate), and stops when a monotone Σdist
    aggregate stops changing — the same Pregel skeleton, eager-
    checkpoint lineage cuts, and convergence trick as
    connected_components, at edge-scaled parallelism. The oracle
    recomputes distances with a bounded recursive CTE."""
    sym = (
        _symmetric(_knn_edges(spark, sf_dir, 1))
        .repartition(_edge_partitions(sf_dir))
        .localCheckpoint(eager=True)
    )
    dist = (
        sym.select(F.col("src").alias("node"))
        .where(F.col("node") < 10)
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _hop in range(6):
        relaxed = (
            sym.join(dist, sym.src == dist.node)
            .select(F.col("dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"))
        )
        obs = Observation()
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .observe(obs, F.count("*").alias("n"), F.sum("dist").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur = obs.get
        key = (cur["n"], cur["s"])
        if key == prev_sum:
            break
        prev_sum = key
    return dist.groupBy("dist").agg(F.count("*").alias("n_nodes"))


@query(
    "graph_common_neighbors",
    oracle=_wf("""
    WITH d AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ),
    nn AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM d) WHERE rn <= 3
    ),
    edges AS (SELECT src, dst FROM nn UNION SELECT dst, src FROM nn),
    wedge AS (
        SELECT e1.src AS a, e2.dst AS b, count(*)::BIGINT AS common
        FROM edges e1 JOIN edges e2
          ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY e1.src, e2.dst
    ),
    deg AS (SELECT src AS node, count(*)::BIGINT AS deg
            FROM edges GROUP BY src),
    linked AS (SELECT src, dst FROM edges)
    SELECT w.a, w.b, w.common,
           round(w.common / (1.0 * (da.deg + db.deg - w.common)), 6)
               AS jaccard
    FROM wedge w
    JOIN deg da ON da.node = w.a
    JOIN deg db ON db.node = w.b
    LEFT JOIN linked l ON l.src = w.a AND l.dst = w.b
    WHERE l.src IS NULL AND w.common >= 2
    """),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the 3-NN similarity graph:
    non-adjacent node pairs sharing ≥ 2 neighbors, scored by
    neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    candidate generator for 'related items' and graph densification.
    3-NN, not 1-NN: a 1-NN graph has degree ~1-3, so NO pair shares
    two neighbors and the operator (and its differential check) is
    vacuously empty at every fixture scale — the same empty-result
    class as q11's fixed-fraction HAVING. k=3 is the smallest k that
    makes ≥ 2 shared neighbors structurally reachable.

    Two-join wedge counting (the graph_triangles kernel): paths a→x→b
    aggregate per (a,b), degrees come from one groupBy, existing edges
    are removed with an anti join — every stage shuffles on node keys,
    never materializing neighbor sets as arrays (the formulation that
    dies on hub nodes). The union term is inclusion–exclusion from
    exact integer degrees."""
    edges = (
        _symmetric(_knn_edges(spark, sf_dir, 3))
        .distinct()
        .repartition(_edge_partitions(sf_dir))
        .localCheckpoint(eager=True)
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("x"))
    e2 = edges.select(F.col("src").alias("x"), F.col("dst").alias("b"))
    wedge = (
        e1.join(e2, "x")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    adjacent = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    jac = F.col("common") / (
        1.0 * (F.col("deg_a") + F.col("deg_b") - F.col("common"))
    )
    return (
        wedge.join(adjacent, ["a", "b"], "left_anti")
        .where(F.col("common") >= 2)
        .join(da, "a")
        .join(db, "b")
        .select(
            "a", "b", "common", F.round(jac, 6).alias("jaccard")
        )
    )
