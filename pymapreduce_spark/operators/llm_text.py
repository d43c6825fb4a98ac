"""LLM-data-pipeline text operators (SURVEY.md §2-L): dedup families,
text statistics, quality/language gates, wordcount/TF-IDF, fingerprints.

100 TB doctrine per operator:

- exact dedup groups on the text itself here (oracle parity at test
  scale); the scale path is hash-first — ``xxhash64(text)`` as the
  shuffle key so the exchange carries 8-byte keys, not documents.
- fuzzy dedup is MinHash-LSH: shingle → hash → band; candidate
  generation is a bucket equi-join (shuffle on band hash), never an
  O(N²) cross join. Connected components via bounded min-label
  propagation — each iteration is one join+groupBy, fully distributed.
- fingerprints (MinHash signatures, SimHash) are pure Catalyst
  higher-order expressions over xxhash64 — no Python in the row path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pymapreduce_spark.io import load_table, table_row_count
from pymapreduce_spark.registry import query

# Pseudo-stopwords: the corpus' most frequent tokens (measured on the
# fixture vocabulary — systems words, not natural language).
_STOPWORDS = ["join", "hash", "row", "batch", "scan"]

#: Per-document distinct-vocabulary cap for the co-occurrence pair
#: join (llm_word_cooccurrence): keeps a pathological document from
#: exploding into ~vocab² pairs while leaving every realistic document
#: (fixture max ≪ cap) untouched.
_COOC_MAX_DOC_VOCAB = 10_000

#: Largest documents-table row count at which word-keyed marginals
#: (doc-frequency / IDF / unigram-count / bigram-continuation tables)
#: may carry an explicit broadcast hint. Vocabulary grows roughly with
#: corpus^0.5-0.7 (Heaps' law); 2 M docs keeps the marginal in the
#: tens-of-MB range — comfortably under the 8 GB broadcast hard limit
#: and typical driver heaps. A web-scale corpus (10⁹ docs → 10⁸-10⁹
#: distinct tokens from URLs/typos/code) clears the gate and falls
#: back to whatever AQE picks from the aggregate's ACTUAL runtime size.
_VOCAB_BROADCAST_MAX_DOCS = 2_000_000

def _vocab_broadcast(df: DataFrame, sf_dir: str) -> DataFrame:
    """Broadcast-hint a vocabulary-cardinality relation only when the
    corpus is provably small enough that its vocabulary must be too.

    An explicit ``F.broadcast`` hint is honored by the planner
    REGARDLESS of the relation's size — AQE's broadcast *demotion*
    applies to statistics-chosen joins, not user hints — so a bare hint
    on a word-keyed marginal is a driver OOM waiting for a web-scale
    vocabulary. The gate reads the documents table's parquet-footer row
    count (no Spark job, same pattern as ``_KNN_TILE_ROWS`` in
    llm_vector.py): under ``_VOCAB_BROADCAST_MAX_DOCS`` the hint stays
    and fixture plans keep their BroadcastHashJoin (pinned in
    tests/test_plans.py); above it the hint disappears and AQE chooses
    from the aggregate output's measured shuffle size — broadcast when
    genuinely small, shuffle join when not.
    """
    if table_row_count(sf_dir, "documents") <= _VOCAB_BROADCAST_MAX_DOCS:
        return F.broadcast(df)
    return df


@query(
    "llm_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id,
           count(*) AS n_copies,
           min(n_chars) AS text_chars
    FROM documents
    GROUP BY text
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup with a deterministic survivor rule (min doc_id).
    sf0.1 has exactly 8 groups with n_copies > 1 (FIXTURES.md).

    At 100 TB: group on ``xxhash64(text)`` (8-byte shuffle key), keep
    (hash → min doc_id, count), and re-verify the rare hash bucket with
    a second pass — the text itself never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_chars").alias("text_chars"),
    ).select("keep_doc_id", "n_copies", "text_chars")


#: 3-word shingle set as ONE higher-order expression over a hoisted
#: ``words`` column. Indices are clamped (greatest/least) so sub-3-word
#: documents yield a single degenerate shingle instead of throwing.
#: Distinct 3-word shingles of a ``words`` array, exactly as the oracles
#: spell them: a sub-3-word doc gets an EMPTY set (the oracles'
#: range(1, len-1) is empty) — without the guard sequence(1, -1)
#: DESCENDS and element_at(words, 2) throws on a 1-element array
#: (caught by the degenerate-input audit). Not _SHINGLES_EXPR, which
#: clamps short docs to one padded shingle for MinHash.
_STRICT_SHINGLES_EXPR = """
CASE WHEN size(words) < 3 THEN array()
     ELSE array_distinct(
        transform(sequence(1, size(words) - 2), i ->
            concat_ws(' ', element_at(words, i),
                           element_at(words, i + 1),
                           element_at(words, i + 2))))
END
"""

_SHINGLES_EXPR = """
array_distinct(
    transform(sequence(1, greatest(size(words) - 2, 1)), i ->
        concat_ws(' ', element_at(words, i),
                       element_at(words, least(i + 1, size(words))),
                       element_at(words, least(i + 2, size(words))))))
"""


def cluster_near_duplicates(
    docs: DataFrame,
    max_jaccard_dist: float = 0.5,
    n_hashes: int = 16,
    band_rows: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """Core fuzzy-dedup pipeline over a (doc_id, text) DataFrame:
    MinHash-LSH banded candidate pairs → exact-Jaccard verification →
    connected components → (doc_id, cluster_id, is_survivor).

    The LSH is self-built on salted md5 (the permutation family of
    minhash_signature_expr, here over 3-word shingles) rather than an
    opaque library: every stage — signature, band keys, candidate join,
    verify filter, components — is reproducible by any engine that has
    md5, which is what lets llm_dedup_fuzzy carry a full value-hash
    oracle. Config: 16 hashes in 8 bands × 2 rows puts the S-curve
    half-probability point at (1/8)^(1/2) ≈ 0.35 Jaccard, so true pairs
    at the 0.5 threshold band-collide with p ≈ 0.90 per pair (chained
    recall inside clusters is higher); the exact-Jaccard filter then
    removes every false candidate, so banding only costs recall, never
    precision.

    Scale shape: signatures and band keys are map-only higher-order
    expressions (no explode-then-groupBy); candidates come from an
    equi-join on (band, key) — shuffle on a 2-hash band key, never a
    cross join; the verify join touches only candidate pairs; components
    run on the Pregel-shaped kernel (pointer jumping, eager checkpoint,
    monotone-sum convergence) from graph.py.

    Exact-duplicate collapse runs BEFORE MinHash (the production first
    stage of every at-scale dedup): identical texts band-collide by
    construction, so a g-copy text group alone contributes g²/2
    candidate pairs per band — on duplicate-heavy corpora the band
    join goes quadratic in the copy count. Collapsing to one
    representative per distinct text is exact, not approximate:
    J(copy, x) = J(rep, x) for every x, and cluster ids (min doc_id
    over the cluster) are preserved because each representative
    carries its text group's minimum id. LSH cost then scales with
    UNIQUE texts, never total rows (measured: 500 000-doc / 5 000-
    unique replica corpus went 507 s → seconds; see README scale
    section)."""
    min_jaccard = 1.0 - max_jaccard_dist
    # Null-safe fingerprint: md5(NULL) is NULL, and both the reps
    # groupBy→membership join and the rep_labels join below are plain
    # equi-joins that DROP NULL keys — a NULL-text doc would silently
    # vanish from the output. Coalescing to a sentinel keeps every
    # doc_id and makes all NULL texts one exact-copy group, which is
    # also what the DuckDB oracle computes (NULL texts shingle to ['']
    # on both engines, band-collide at J=1, and cluster together).
    tkey = F.md5(F.coalesce(F.col("text"), F.lit("\u0000NULL")))
    keyed = docs.select("doc_id", "text", tkey.alias("tkey"))
    reps = keyed.groupBy("tkey").agg(
        F.min("doc_id").alias("doc_id"), F.first("text").alias("text")
    )
    membership = keyed.select("doc_id", "tkey")
    sh = (
        reps.withColumn("words", F.split("text", " "))
        .select("doc_id", F.expr(_SHINGLES_EXPR).alias("sh"))
    )
    bands = _minhash_bands(sh, n_hashes, band_rows)
    cands = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jacc = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    pairs = (
        cands.join(
            sh.select(F.col("doc_id").alias("src"), F.col("sh").alias("sh_a")),
            "src",
        )
        .join(
            sh.select(F.col("doc_id").alias("dst"), F.col("sh").alias("sh_b")),
            "dst",
        )
        .where(jacc >= min_jaccard)
        .select("src", "dst")
    )
    # Components via the shared Pregel-shaped kernel (graph.py):
    # pointer-jumped min-label propagation, eager localCheckpoint
    # lineage cuts, and monotone-sum convergence detection — O(log n)
    # materialized rounds with O(1) plan depth, vs the previous fixed
    # 8 lazy-checkpoint rounds whose plan chain grew per round. Only
    # docs that appear in a candidate pair enter the iteration; the
    # (dominant) singleton majority joins back in one left join.
    from pymapreduce_spark.operators.graph import connected_components

    comp = connected_components(pairs, stats=stats).select(
        F.col("node").alias("rep_id"), F.col("component").alias("cluster_id")
    )
    # Label the representatives, then expand over the exact-copy
    # membership: each copy inherits its representative's cluster.
    rep_labels = (
        reps.select(F.col("doc_id").alias("rep_id"), "tkey")
        .join(comp, "rep_id", "left")
        .select(
            "tkey",
            F.coalesce("cluster_id", F.col("rep_id")).alias("cluster_id"),
        )
    )
    labels = membership.join(rep_labels, "tkey")
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )


@query(
    "llm_dedup_fuzzy",
    oracle="""
    WITH RECURSIVE canon AS (
        -- one canonical text per doc_id (min text, mirroring the
        -- vector doctrine): duplicate ids with conflicting texts
        -- (dup_ids axis) otherwise make every doc_id-keyed stage of
        -- the pipeline incoherent on both engines
        SELECT doc_id, min(text) AS text FROM documents GROUP BY doc_id
    ), w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM canon
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> concat_ws(' ', words[i],
                                  words[least(i + 1, len(words))],
                                  words[least(i + 2, len(words))]))) AS sh
        FROM w
    ), sig AS (
        SELECT doc_id, i, min(substr(md5(s || '#' || i), 1, 16)) AS h
        FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
        CROSS JOIN (SELECT unnest(range(0, 16)) AS i) AS idx
        GROUP BY doc_id, i
    ), bands AS (
        SELECT doc_id, i // 2 AS b, string_agg(h, '|' ORDER BY i) AS key
        FROM sig GROUP BY doc_id, i // 2
    ), cands AS (
        SELECT DISTINCT a.doc_id AS src, b2.doc_id AS dst
        FROM bands a JOIN bands b2 ON a.b = b2.b AND a.key = b2.key
        WHERE a.doc_id < b2.doc_id
    ), verified AS (
        SELECT c.src, c.dst
        FROM cands c
        JOIN sh s1 ON s1.doc_id = c.src
        JOIN sh s2 ON s2.doc_id = c.dst
        WHERE len(list_intersect(s1.sh, s2.sh))::DOUBLE
              / (len(s1.sh) + len(s2.sh)
                 - len(list_intersect(s1.sh, s2.sh))) >= 0.5
    ), edges AS (
        SELECT src, dst FROM verified
        UNION SELECT dst, src FROM verified
    ), reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    ), comp AS (
        SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
    ), lab AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM canon d LEFT JOIN comp c ON c.node = d.doc_id
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id
    )
    SELECT l.doc_id, l.cluster_id,
           l.doc_id = l.cluster_id AS is_survivor,
           sizes.cluster_size,
           CASE WHEN l.doc_id = l.cluster_id THEN 1.0
                ELSE round(len(list_intersect(m.sh, sv.sh))::DOUBLE
                     / (len(m.sh) + len(sv.sh)
                        - len(list_intersect(m.sh, sv.sh))), 6)
           END AS jaccard_to_survivor
    FROM lab l
    JOIN sizes ON sizes.cluster_id = l.cluster_id
    JOIN sh m ON m.doc_id = l.doc_id
    JOIN sh sv ON sv.doc_id = l.cluster_id
    """,
)
def llm_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: banded MinHash-LSH over 3-word
    shingles (salted md5, 8 bands × 2 rows) → exact-Jaccard-verified
    candidate pairs (J ≥ 0.5) → connected components → per-doc cluster
    assignment. One row per document: (doc_id, cluster_id, is_survivor,
    cluster_size, jaccard_to_survivor); survivor = min doc_id.

    Fully hash-checked: because the LSH permutations are salted md5
    (cluster_near_duplicates), the oracle replays the ENTIRE pipeline —
    signatures, band keys, candidate join, verify filter, and
    transitive closure via recursive CTE — so banding recall, clustering,
    and the per-member true-Jaccard all get the driver's value-hash
    check, not a rows-only pass. Chained members may sit below the
    pairwise threshold to their survivor — transitive-closure semantics,
    visible in jaccard_to_survivor rather than hidden.

    Scale: candidates from equi-joins on band keys (never a cross
    join), verification touches candidates only, components via the
    checkpointed Pregel kernel — no driver-side data."""
    # one canonical text per doc_id (min text): the id is the document's
    # identity, so duplicate ids with conflicting texts (dup_ids axis)
    # collapse deterministically before any doc_id-keyed stage
    docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    )
    labels = cluster_near_duplicates(docs)
    sh = docs.withColumn("words", F.split("text", " ")).select(
        "doc_id", F.expr(_SHINGLES_EXPR).alias("sh")
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    # Survivors (which includes every singleton cluster — most of the
    # corpus) have jaccard_to_survivor = 1.0 by definition: short-circuit
    # them so the shingle arrays only join for non-survivor members.
    # Broadcasting the survivor shingles would ship ~the whole corpus's
    # shingle sets (singletons dominate); restricted to members it's a
    # duplicate-sized shuffle join on cluster_id, which AQE may still
    # turn into a broadcast when the duplicate set really is small.
    surv_sh = (
        labels.where("is_survivor")
        .join(sh, "doc_id")
        .select("cluster_id", F.col("sh").alias("surv_sh"))
    )
    inter = F.size(F.array_intersect("sh", "surv_sh")).cast("double")
    jac = inter / (F.size("sh") + F.size("surv_sh") - inter)
    member_jac = (
        labels.where(~F.col("is_survivor"))
        .join(sh, "doc_id")
        .join(surv_sh, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "is_survivor",
            F.round(jac, 6).alias("jaccard_to_survivor"),
        )
    )
    surv_jac = labels.where("is_survivor").select(
        "doc_id",
        "cluster_id",
        "is_survivor",
        F.lit(1.0).alias("jaccard_to_survivor"),
    )
    return (
        member_jac.unionByName(surv_jac)
        # sizes is CLUSTER-cardinality ≈ |documents| (singletons
        # dominate) — corpus-sized, so the hint is count-gated like
        # every word-keyed marginal (_vocab_broadcast doctrine)
        .join(_vocab_broadcast(sizes, sf_dir), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "is_survivor",
            "cluster_size",
            "jaccard_to_survivor",
        )
    )


def minhash_signature_expr(elements: str, n_hashes: int = 16):
    """The n-slot MinHash signature of the string array ``elements`` (a
    SQL expression) as ONE array column (array<string> of 16-hex-char
    hashes): slot i is the min over the elements of
    ``md5(element || '#' || i)``, a salted-md5 permutation family. The
    engine's one MinHash builder — what LSH banding consumes. Pure
    Catalyst higher-order expression, no shuffle. md5 (not xxhash64) so
    the same permutation family is computable by any engine; swap for
    xxhash64 when cross-engine parity isn't needed."""
    return F.expr(
        f"""
        transform(sequence(0, {n_hashes - 1}), i ->
            array_min(transform({elements},
                s -> substr(md5(concat(s, '#', cast(i AS string))), 1, 16))))
        """
    )


def _minhash_bands(sh: DataFrame, n_hashes: int, band_rows: int) -> DataFrame:
    """LSH band keys of each document's shingle set ``sh(doc_id, sh)``:
    one (doc_id, band_idx, band_key) row per band, the key being the
    band's ``band_rows`` signature slots joined by '|'."""
    band_keys = F.expr(
        f"transform(sequence(0, {n_hashes // band_rows - 1}), b ->"
        f" concat_ws('|', slice(sig, b * {band_rows} + 1, {band_rows})))"
    )
    return sh.withColumn(
        "sig", minhash_signature_expr("sh", n_hashes)
    ).select("doc_id", F.posexplode(band_keys).alias("band_idx", "band_key"))


@query(
    "llm_minhash_sig",
    oracle="""
    -- per-ROW signature (synthetic rid), not GROUP BY doc_id: pooling
    -- by doc_id would merge the words of two rows colliding on doc_id
    -- (dup-fact-key axis) where the op signs each row independently
    WITH d AS (
      SELECT doc_id, text, row_number() OVER () AS rid FROM documents
      WHERE text IS NOT NULL
    ), words AS (
      SELECT rid, doc_id,
             unnest(list_distinct(string_split(text, ' '))) AS w
      FROM d
    )
    SELECT any_value(doc_id) AS doc_id,
           i AS sig_idx,
           min(substr(md5(w || '#' || i), 1, 16)) AS sig_hash
    FROM words CROSS JOIN (SELECT unnest(range(0, 16)) AS i) AS idx
    GROUP BY rid, i
    """,
)
def llm_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-hash MinHash signature per document, emitted as scalar rows
    (doc_id, sig_idx, sig_hash) — a compact, mergeable fingerprint (the
    building block LSH banding uses; see minhash_signature_expr for the
    array form). Each slot is min over a salted-md5 permutation of the
    document's distinct words.

    Scale shape: the signature is ONE Catalyst higher-order expression
    per document (no explode-then-groupBy shuffle — the min runs inside
    the array), then a 16× posexplode fan-out; map-only end to end. The
    scalar-row representation is also the driver-canonicalizable one:
    array columns break pandas-based row sorting downstream.

    A NULL-text doc has NO signature (filtered, matching the oracle's
    unnest which emits no word rows for it) — without the filter the
    outer transform yields 16 rows of NULL array_min per NULL doc."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return docs.select(
        "doc_id",
        F.posexplode(
            minhash_signature_expr("array_distinct(split(text, ' '))")
        ).alias("sig_idx", "sig_hash"),
    )


@query(
    "llm_fingerprint",
    oracle="""
    -- windowed + distinct per synthetic ROW id: PARTITION BY doc_id
    -- would blend the gram streams of two rows colliding on doc_id and
    -- DISTINCT would merge their fingerprint sets (dup-fact-key axis);
    -- the op fingerprints each row independently
    WITH d AS (
      SELECT doc_id, text, n_chars, row_number() OVER () AS rid
      FROM documents WHERE n_chars >= 11
    ), h AS (
      SELECT rid, doc_id, t.i AS i,
             substr(md5(substr(text, t.i::INT, 8)), 1, 8) AS hk
      FROM d CROSS JOIN LATERAL (
         SELECT unnest(range(1, (n_chars - 6)::BIGINT)) AS i) AS t
    ), w AS (
      SELECT rid, doc_id, i,
             min(hk) OVER (PARTITION BY rid ORDER BY i
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM h
    )
    SELECT doc_id, fp
    FROM (SELECT DISTINCT rid, doc_id, fp FROM w WHERE i >= 4)
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing, as in MOSS:
    Schleimer/Wilkerson/Aiken SIGMOD'03): hash every k=8-char gram,
    keep the minimum hash of each w=4 sliding window, emit the distinct
    selected fingerprints per doc. Shared passages between documents
    surface as shared fingerprints regardless of position.

    Scale shape: the entire per-document pipeline (k-gram → md5 →
    windowed min → distinct) is ONE Catalyst higher-order expression —
    no explode, no window shuffle, no Python; state per task is one
    document's hash array. The only exchange is whatever the consumer
    does with the (doc_id, fp) pairs (e.g. a groupBy(fp) to find shared
    passages). md5 (not xxhash64) keeps it oracle-checkable; swap for
    xxhash64 when cross-engine parity isn't needed."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") >= 11)
    # Hoist the k-gram hash array (same reason as llm_dedup_ngram's
    # words hoist): inlining md5 into the window lambda would re-hash
    # each gram w=4 times per document.
    grams = F.expr(
        "transform(sequence(1, n_chars - 7),"
        " i -> substr(md5(substr(text, i, 8)), 1, 8))"
    )
    fps = F.expr(
        """
        array_distinct(transform(sequence(1, size(hs) - 3),
            j -> array_min(slice(hs, j, 4))))
        """
    )
    return docs.withColumn("hs", grams).select(
        "doc_id", F.explode(fps).alias("fp")
    )


@query(
    "llm_simhash",
    oracle="""
    -- grouped by a synthetic per-ROW id, not doc_id: the op is map-only
    -- per row, and pooling words by doc_id would silently merge two
    -- rows that COLLIDE on doc_id with different texts (the dup-fact-
    -- key axis); identical on unique-id fixtures
    WITH d AS (
      SELECT doc_id, text, row_number() OVER () AS rid FROM documents
    ), words AS (
      SELECT rid, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM d
    ), bits AS (
      SELECT rid, j,
             CASE WHEN sum(CASE WHEN (((strpos('0123456789abcdef',
                              substr(md5(w), (j // 4)::INT + 1, 1)) - 1)
                              >> (j % 4)::INT) & 1) = 1
                      THEN 1 ELSE -1 END) > 0
                  THEN 1::BIGINT ELSE 0::BIGINT END AS b
      FROM words CROSS JOIN (SELECT unnest(range(0, 64)) AS j) AS idx
      GROUP BY rid, j
    ), sig AS (
      SELECT rid,
             sum(CASE WHEN j >= 32 THEN b << (j - 32)::INT
                      ELSE 0 END)::BIGINT AS simhash_hi,
             sum(CASE WHEN j < 32 THEN b << j::INT
                      ELSE 0 END)::BIGINT AS simhash_lo
      FROM bits GROUP BY rid
    )
    SELECT d.doc_id,
           coalesce(sig.simhash_hi, 0)::BIGINT AS simhash_hi,
           coalesce(sig.simhash_lo, 0)::BIGINT AS simhash_lo
    FROM d LEFT JOIN sig USING (rid)
    """,
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint: per bit, sign of the sum of ±1 votes
    from each distinct word's hash bit; near-dup docs differ in few
    bits, so hamming distance = popcount(hi XOR hi') + popcount(lo XOR
    lo'). Emitted as two 32-bit halves in bigints — bit 63 of a single
    bigint would need a signed-overflow shift that the two engines wrap
    differently.

    Hash-checked: the per-word bit source is md5 NIBBLES (hex digit
    j//4, bit j%4) instead of xxhash64 — the same engine-portable
    permutation trick the MinHash family uses (minhash_signature_expr),
    so DuckDB replays the signature bit-for-bit and the driver
    value-hashes it. Swap the nibble lambda for xxhash64 when
    cross-engine parity isn't needed.

    Scale shape: the whole signature is ONE map-only Catalyst
    higher-order expression per document — the per-word nibble array is
    hoisted so md5 runs once per distinct word, not once per (word,
    bit). NULL text votes nowhere and fingerprints as (0, 0) on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    nibs = F.expr(
        """
        transform(array_distinct(split(text, ' ')), w ->
            transform(sequence(0, 15), p ->
                cast(conv(substr(md5(w), p + 1, 1), 16, 10) AS INT)))
        """
    )

    def half(off: int):
        return F.expr(
            f"""
            aggregate(
                zip_with(
                    transform(sequence(0, 31), j ->
                        CASE WHEN aggregate(nibs, 0L, (acc, nb) -> acc +
                                CASE WHEN (shiftright(
                                        element_at(nb, cast(
                                            (j + {off}) DIV 4 AS INT) + 1),
                                        (j + {off}) % 4) & 1) = 1
                                     THEN 1 ELSE -1 END) > 0
                             THEN 1L ELSE 0L END),
                    sequence(0, 31),
                    (b, j) -> shiftleft(b, j)),
                0L, (acc, x) -> acc + x)
            """
        )

    return docs.withColumn("nibs", nibs).select(
        "doc_id",
        half(32).alias("simhash_hi"),
        half(0).alias("simhash_lo"),
    )


@query(
    "llm_text_stats",
    oracle="""
    SELECT doc_id, lang, n_chars,
           len(str_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '([a-z]+)', 1)) AS n_tokens,
           round(list_sum(list_transform(str_split(text, ' '),
                                         w -> length(w)))::DOUBLE
                 / len(str_split(text, ' ')), 6) AS avg_word_len
    FROM documents
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: chars, whitespace words, regex
    tokens (BPE-ish [a-z]+ word pieces), average word length."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    total_chars = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(words).alias("n_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("([a-z]+)"), 1)).alias(
            "n_tokens"
        ),
        F.round(
            total_chars.cast("double") / F.size(words), 6
        ).alias("avg_word_len"),
    )


@query(
    "llm_corpus_stats",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len(str_split(text, ' '))), 4) AS avg_words
    FROM documents
    GROUP BY lang, source
    """,
)
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level statistics by (lang, source) — the partition-level
    view a curation pipeline reports on."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 4).alias(
            "avg_words"
        ),
    )


@query(
    "llm_lang_filter",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE lang IN ('en', 'es', 'de') AND n_chars BETWEEN 100 AND 400
    """,
)
def llm_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language + length gate. The fixture ``lang`` column stands in for
    a language-ID model's output (SURVEY §2-L); a model-backed variant
    would be a pandas UDF producing the same column, with this exact
    filter on top. Predicate pushes to the parquet scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        F.col("lang").isin("en", "es", "de")
        & F.col("n_chars").between(100, 400)
    ).select("doc_id", "lang", "n_chars")


@query(
    "llm_quality_filter",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, str_split(text, ' ') AS words FROM documents
    )
    SELECT doc_id,
           len(words) AS n_words,
           round(len(list_distinct(words))::DOUBLE / len(words), 6)
               AS distinct_ratio,
           round(len(list_filter(words,
                     x -> list_contains({_STOPWORDS!r}, x)))::DOUBLE
                 / len(words), 6) AS stopword_ratio,
           (len(list_distinct(words))::DOUBLE / len(words) >= 0.5
            AND len(words) >= 10) AS passes_quality
    FROM w
    """,
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gates: duplicate-word ratio, stopword ratio,
    min length — the standard cheap filters before expensive dedup.
    All array higher-order functions; no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stopword_ratio = (
        F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x))).cast(
            "double"
        )
        / n_words
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        ((distinct_ratio >= 0.5) & (n_words >= 10)).alias("passes_quality"),
    )


@query(
    "llm_tokenize_wordcount",
    oracle="""
    SELECT lang, word, count(*) AS cnt
    FROM (SELECT lang, unnest(str_split(text, ' ')) AS word FROM documents)
    GROUP BY lang, word
    HAVING count(*) >= 5
    """,
)
def llm_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + per-language term frequencies (full distribution,
    thresholded) — mr_wordcount generalized to a keyed corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 5)
    )


@query(
    "llm_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(*) AS doc_freq FROM tf GROUP BY word
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.word, tf.tf,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.doc_freq + 1.0)) + 1.0), 6)
               AS tfidf
    FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed idf = ln((N+1)/(df+1)) + 1) as pure SQL-shaped
    dataflow: wordcount → doc-frequency join → weight. The doc-frequency
    side is vocab-cardinality (small) → broadcast; N is a scalar
    broadcast.

    Formulation benchmarked three ways at sf0.1: (a) declarative
    groupBy + broadcast-join with tf re-derived per branch (the two tf
    subtrees scan the corpus twice since column pruning defeats
    ReuseExchange); (b) doc_freq as a COUNT window over tf (one scan —
    but a window partition materializes ALL rows of a hot word, the
    stopword-skew hazard, never safe against heavy-tailed
    vocabularies); (c) tf localCheckpoint + reuse (one scan). (a) won
    while the corpus scan was single-file (0.79 s vs 1.06 s); under
    the parallel split layout the double tokenize costs more than the
    materialization and (c) wins (0.88 s → 0.72 s, interleaved A/B of
    7) — and (c) is also the 100 TB posture: materialize tf once; the
    dfreq broadcast hint is count-gated (``_vocab_broadcast``) because
    an explicit hint is honored regardless of size — past the corpus
    bound the hint is dropped and AQE picks the join strategy from the
    aggregate's measured output."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(
        F.count("*").alias("tf")
    ).localCheckpoint(eager=True)
    dfreq = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    n = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0)) + 1.0
    return (
        tf.join(_vocab_broadcast(dfreq, sf_dir), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def _md5_lang_id(text: str):
    """The md5-bucket language-ID stub as a pandas-UDF column over
    ``text``: the first hex digit's code point mod 5 picks one of the
    fixture's five languages, which the oracles replay in SQL. NULL text
    → NULL prediction (the oracles' md5(NULL) chain is NULL all the way
    through), never .encode on None."""
    import hashlib

    langs = ["de", "en", "es", "fr", "zh"]

    @F.pandas_udf("string")
    def lang_id(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None
            if t is None
            else langs[
                ord(hashlib.md5(t.encode("utf-8")).hexdigest()[0]) % 5
            ]
        )

    return lang_id(text)


@query(
    "llm_lang_id",
    oracle="""
    SELECT doc_id, lang AS lang_given,
           (['de','en','es','fr','zh'])[
               (ascii(substring(md5(text), 1, 1)) % 5) + 1
           ] AS lang_pred
    FROM documents
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID plumbing: a vectorized pandas-UDF classifier over the
    text column, next to the fixture's given label.

    The fixture's five languages share an identical vocabulary
    (measured: the same 31 words in every lang), so no real LID model
    can learn anything here — the "model" is a deterministic md5-bucket
    STUB, chosen so the oracle can reproduce it in SQL. Swapping in a
    real classifier (fasttext/langdetect) changes only the function
    body: the Arrow batching, schema, and downstream filter contract
    (llm_lang_filter) stay identical."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_given"),
        _md5_lang_id("text").alias("lang_pred"),
    )


@query(
    "llm_dedup_ngram",
    oracle="""
    WITH w AS (
        SELECT doc_id, substring(text, 1, 30) AS block,
               str_split(text, ' ') AS words
        FROM documents
    ), s AS (
        SELECT doc_id, block,
               list_distinct(list_transform(range(1, len(words) - 1),
                   i -> concat_ws(' ', words[i], words[i+1], words[i+2])))
                   AS sh
        FROM w
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           round(len(list_intersect(a.sh, c.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, c.sh))), 6) AS jaccard
    FROM s a JOIN s c ON a.block = c.block AND a.doc_id < c.doc_id
    WHERE len(list_intersect(a.sh, c.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, c.sh))) >= 0.8
    """,
)
def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard near-dup pairs with prefix
    blocking: candidates come from an equi-join on the 30-char prefix
    block — never a cross join — then exact Jaccard on distinct shingle
    sets filters at 0.8. Fully SQL-expressible (unlike the MinHash-LSH
    path), so this is the oracle-checked member of the fuzzy-dedup
    family; at sf0.1 it recovers the fixture's engineered 256
    shared-prefix near-dup pairs (golden test).

    At 100 TB the block key generalizes (URL/domain/simhash-band); the
    per-block pair count is the thing to bound — pair with
    llm_dedup_fuzzy's LSH when no natural blocking key exists."""
    docs = load_table(spark, sf_dir, "documents")
    # Hoist the words array: referencing split(text) inside the lambda
    # would re-split the text for EVERY shingle element (measured ~10×
    # slower at sf0.1).
    s = docs.withColumn("words", F.split("text", " ")).select(
        "doc_id",
        F.substring("text", 1, 30).alias("block"),
        F.expr(_STRICT_SHINGLES_EXPR).alias("sh"),
    )
    a = s.select(
        F.col("doc_id").alias("doc_a"),
        F.col("block").alias("block_a"),
        F.col("sh").alias("sh_a"),
    )
    c = s.select(
        F.col("doc_id").alias("doc_b"),
        F.col("block").alias("block_b"),
        F.col("sh").alias("sh_b"),
    )
    # Shingle arrays are distinct, so |a ∪ b| = |a| + |b| − |a ∩ b| —
    # one array_intersect per candidate pair instead of intersect +
    # union (array_union would re-hash both arrays), identical output.
    # Zero-denominator guard: two empty-shingle docs sharing a block
    # (degenerate texts) would divide 0/0 — ANSI throws where DuckDB
    # yields NULL; emit NULL explicitly so the >= filter drops the
    # pair on both engines.
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    denom = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(denom > 0, inter / denom)
    return (
        a.join(
            c,
            (F.col("block_a") == F.col("block_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


@query(
    "llm_tfidf_ml",
    oracle="""
    WITH docs AS (
        -- the doc_id doctrine, uniform with llm_dedup_fuzzy: one
        -- canonical text per id (min text — bounded at any dup count,
        -- unlike pooling), identity-less or text-less rows excluded
        -- (dup_ids + null_ids axes; count(DISTINCT doc_id) skips NULLs
        -- where row counts don't)
        SELECT doc_id, min(text) AS text FROM documents
        WHERE text IS NOT NULL AND doc_id IS NOT NULL
        GROUP BY doc_id
    ), tf AS (
        SELECT doc_id, word, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word
              FROM docs)
        GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(*) AS doc_freq FROM tf GROUP BY word
    ), n AS (
        SELECT count(*) AS n_docs FROM docs
    ), w AS (
        SELECT tf.doc_id, tf.word,
               tf.tf * ln((n.n_docs + 1.0) / (df.doc_freq + 1.0)) AS weight
        FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word AS top_term, round(weight, 6) AS top_weight
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY weight DESC, word
          ) AS rn FROM w)
    WHERE rn = 1
    """,
)
def llm_tfidf_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via the pyspark.ml feature pipeline (CountVectorizer →
    IDF), emitting each document's top-weighted term. The ml variant of
    llm_tfidf (the pure-SQL dataflow form); ml's idf = ln((N+1)/(df+1))
    without llm_tfidf's +1 shift, so weights differ by design.

    Scoring is the production "fit once, broadcast the model" shape:
    CountVectorizer learns the vocabulary and IDF fits the per-term
    weights (the genuinely-ML steps), then the fitted idf table is
    broadcast and applied RELATIONALLY — tf counts join the idf map, no
    per-row dense vocab-sized vectors ever materialize (a
    vector_to_array + posexplode scoring path is |docs|×|vocab| rows,
    which is quadratic death at 100 TB; the idf join is linear).
    Tokenization is pinned to the engine-portable single-space split
    (matching llm_tfidf) rather than ml Tokenizer, whose \\s regex +
    Java split trailing-empty semantics cannot be replayed bit-exactly
    cross-engine. The per-doc argmax is deterministic (max weight, then
    lexicographically smallest term) instead of fitted-vocab-position
    order, which is tie-unstable — that determinism is what makes this
    op hash-checkable: the DuckDB oracle replays the learned weights
    exactly, so a drifting CountVectorizer/IDF fit fails the value hash
    instead of hiding in a rows-only pass."""
    from pyspark.ml.feature import CountVectorizer, IDF

    # NULL text: a token-free doc has no top term — filter, don't crash.
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    )
    # CountVectorizer.fit on an empty (or all-NULL-text) corpus has no
    # vocabulary to learn
    if docs.limit(1).count() == 0:
        return spark.createDataFrame(
            [], "doc_id bigint, top_term string, top_weight double"
        )
    # docs is already one canonical row per doc_id (min text — the
    # uniform doc_id doctrine, bounded at any dup count unlike pooling;
    # CountVectorizer's row-based doc frequencies and N then agree with
    # the id-based oracle by construction)
    words = docs.select("doc_id", F.split("text", " ").alias("words"))
    # vocabSize must exceed the corpus vocabulary: CountVectorizer
    # silently truncates to the top-frequency vocabSize terms, which
    # would drop rare terms from the idf table while the oracle keeps
    # them. 2^20 is ~340× the sf0.1 vocabulary.
    cv_model = CountVectorizer(
        inputCol="words", outputCol="tfv", minDF=1.0, vocabSize=1 << 20
    ).fit(words)
    idf_model = IDF(inputCol="tfv", outputCol="tfidf").fit(
        cv_model.transform(words)
    )
    idf_table = spark.createDataFrame(
        pd.DataFrame(
            {
                "word": cv_model.vocabulary,
                "idf": idf_model.idf.toArray().tolist(),
            }
        )
    )
    tf = (
        words.select("doc_id", F.explode("words").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    weighted = tf.join(_vocab_broadcast(idf_table, sf_dir), "word").select(
        "doc_id", "word", (F.col("tf") * F.col("idf")).alias("weight")
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("weight"), "word")
    return (
        weighted.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_term"),
            F.round("weight", 6).alias("top_weight"),
        )
    )


@query(
    "llm_train_test_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               CASE WHEN ascii(substring(md5(doc_id::VARCHAR), 1, 1)) % 10 < 8
                    THEN 'train'
                    WHEN ascii(substring(md5(doc_id::VARCHAR), 1, 1)) % 10 = 8
                    THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, count(*) AS n_docs
    FROM assigned GROUP BY split, lang
    """,
)
def llm_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/valid/test split by document id
    (measured ~75/12/13 at sf0.1 — the hex-char bucket is slightly
    non-uniform; swap in `conv(substring(md5,1,8),16,10) % 10` when
    exact proportions matter) — the reproducible alternative to
    rand()-based sampling
    (SURVEY §5.4.5 bans rand() in checked queries; at 100 TB a hash
    split is also re-runnable and join-stable across pipeline stages).
    The md5 bucket matches the oracle byte-for-byte in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.ascii(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1))
        % 10
    )
    split = (
        F.when(bucket < 8, "train")
        .when(bucket == 8, "valid")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "llm_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, (n_chars + 3) // 4 AS n_tokens
        FROM documents
    ), cum AS (
        SELECT doc_id, source, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM toks
    )
    SELECT doc_id, source, n_tokens, (cum_before // 2048)::BIGINT AS pack_id
    FROM cum
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign each document to a ~2048-token
    training pack by running cumulative sum within its source shard.

    The streaming-pack approximation (pack = floor(tokens-before/budget))
    is one window scan — deterministic, SQL-oracle-able, and each pack's
    total stays < budget + max_doc_tokens. Packing WITHIN `source` (not
    globally) is the 100 TB posture: a global orderBy would serialize the
    corpus through one ordering; per-shard windows partition-parallelize
    and match how curation pipelines shard anyway. Token counts use the
    ~4-chars/token heuristic; a real tokenizer drops into `n_tokens`."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.floor((F.col("n_chars") + 3) / 4).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(F.col("cum_before") / 2048).cast("bigint").alias("pack_id"),
        )
    )


@query(
    "llm_pii_mask",
    oracle="""
    SELECT doc_id,
           length(regexp_replace(text, '[0-9]+', '#', 'g')) AS masked_chars,
           len(regexp_extract_all(text, '[0-9]+')) AS n_spans,
           length(text) - length(regexp_replace(text, '[0-9]+', '', 'g'))
               AS masked_digits
    FROM documents
    """,
)
def llm_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction pass: mask sensitive spans (digit runs stand in for
    emails/phones/SSNs — the fixture corpus has no real PII) and report
    per-doc mask statistics.

    Pure Catalyst regex — JVM-side, codegen'd, no Python in the row
    path; the pattern is the pluggable part. At 100 TB this is a
    map-only pass: no shuffle, pushdown-friendly, output written back
    partition-for-partition."""
    docs = load_table(spark, sf_dir, "documents")
    masked = F.regexp_replace(F.col("text"), "[0-9]+", "#")
    stripped = F.regexp_replace(F.col("text"), "[0-9]+", "")
    return docs.select(
        "doc_id",
        F.length(masked).alias("masked_chars"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("([0-9]+)"), 1)
        ).alias("n_spans"),
        (F.length("text") - F.length(stripped)).alias("masked_digits"),
    )


@query(
    "llm_decontaminate",
    oracle="""
    WITH sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(words) - 3),
                   i -> concat_ws(' ', words[i], words[i+1], words[i+2],
                                  words[i+3], words[i+4]))) AS shingles
        FROM (SELECT doc_id, source, str_split(text, ' ') AS words
              FROM documents)
    ),
    ev AS (SELECT doc_id, unnest(shingles) AS g FROM sh
           WHERE source = 'src0'),
    tr AS (SELECT doc_id, unnest(shingles) AS g FROM sh
           WHERE source <> 'src0')
    SELECT tr.doc_id, count(DISTINCT ev.doc_id) AS n_eval_docs,
           count(DISTINCT tr.g) AS n_shared_shingles
    FROM tr JOIN ev ON tr.g = ev.g
    GROUP BY tr.doc_id
    """,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: training docs (source ≠
    'src0') that share any 5-word shingle with the eval set (source =
    'src0'), with how many eval docs and how many distinct shingles
    they collide on — the decontamination pass every LLM training
    pipeline runs before training.

    Shape: explode distinct shingles on both sides, equi-join on the
    shingle, aggregate per training doc. The eval side is the SMALLER
    side (one source of 20) but still scales WITH the corpus in this
    formulation, so its broadcast hint is count-gated
    (``_vocab_broadcast``): under the bound the training corpus
    streams through one broadcast join pass; past it AQE picks the
    strategy from the eval side's measured size. (In production the
    eval side is a fixed benchmark suite — genuinely small — and the
    hint is always honored.) The 10⁶×-hot shingle hazard (boilerplate
    phrases) is bounded here because shingles are per-doc distinct; in
    production add a doc-frequency cap on the eval shingle table
    before broadcasting (it only shrinks the small side).
    """
    docs = load_table(spark, sf_dir, "documents")
    shingles = F.expr(
        """
        CASE WHEN size(words) >= 5 THEN
            array_distinct(transform(sequence(0, size(words) - 5),
                i -> concat_ws(' ', words[i], words[i+1], words[i+2],
                               words[i+3], words[i+4])))
        ELSE array() END
        """
    )
    sh = docs.withColumn("words", F.split("text", " ")).select(
        "doc_id", "source", F.explode(shingles).alias("g")
    )
    ev = sh.where(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    tr = sh.where(F.col("source") != "src0").select("doc_id", "g")
    return (
        tr.join(_vocab_broadcast(ev, sf_dir), "g")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("eval_id").alias("n_eval_docs"),
            F.count_distinct("g").alias("n_shared_shingles"),
        )
    )


@query(
    "llm_topk_ngrams",
    oracle="""
    WITH w AS (SELECT str_split(text, ' ') AS words FROM documents),
    b AS (
        SELECT unnest(list_transform(range(1, len(words)),
                   i -> concat_ws(' ', words[i], words[i+1]))) AS bigram
        FROM w
    )
    SELECT bigram, count(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 100
    """,
)
def llm_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-100 bigrams — the vocabulary/merge-table builder (BPE
    seeding, phrase mining). explode → count → TakeOrderedAndProject:
    the top-k never materializes a global sort, and the count is
    partial-aggregated map-side so the shuffle carries one row per
    distinct bigram per task, not one per occurrence. Tie-break on the
    bigram itself keeps the cut deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = F.expr(
        """
        CASE WHEN size(words) >= 2 THEN
            transform(sequence(0, size(words) - 2),
                i -> concat_ws(' ', words[i], words[i+1]))
        ELSE array() END
        """
    )
    return (
        docs.withColumn("words", F.split("text", " "))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(100)
    )


@query(
    "llm_inverted_index",
    oracle="""
    WITH postings AS (
        -- identity-less docs can't be retrieved: NULL doc_ids are no
        -- postings (null_ids axis; Spark's collect_set skips NULLs,
        -- DuckDB's list() keeps them — filter before the explode on
        -- both sides)
        SELECT word, list_sort(list(DISTINCT doc_id)) AS docs
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word
              FROM documents WHERE doc_id IS NOT NULL)
        GROUP BY word
    )
    SELECT word, len(docs) AS n_docs,
           docs[1] AS first_doc, docs[len(docs)] AS last_doc,
           array_to_string(docs[1:5], '|') AS head_docs
    FROM postings
    """,
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: word → sorted posting list of doc ids (the
    retrieval-side structure a search/RAG pipeline builds from the
    corpus). collect_set dedups within the aggregate, array_sort makes
    the posting order deterministic (SURVEY §5.4.4). Output carries the
    list head ('|'-joined string — array cells crash the driver's
    pandas canonicalizer, the llm_minhash_sig r3 failure class) plus
    summary fields — at 100 TB postings are written per-word-bucket to
    parquet, not returned; one shuffle keyed by word,
    partial-aggregated map-side."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    postings = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
    )
    return postings.select(
        "word",
        F.size("docs").alias("n_docs"),
        F.element_at("docs", 1).alias("first_doc"),
        F.element_at("docs", F.size("docs")).alias("last_doc"),
        F.array_join(F.slice("docs", 1, 5), "|").alias("head_docs"),
    )


# BPE-ish token pattern, GPT-2 style simplified to the subset Java regex
# (Spark) and RE2 (DuckDB) evaluate identically: contractions, optionally
# space-prefixed letter runs, digit runs, punctuation runs. Leftmost-first
# alternation order is the same in both engines.
_BPE_PATTERN = "('[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+)"


@query(
    "llm_token_count",
    oracle="""
    SELECT doc_id, lang,
           len(str_split(text, ' ')) AS n_tokens_ws,
           len(regexp_extract_all(
               text, '(''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+)', 1
           )) AS n_tokens_bpe,
           round(n_chars::DOUBLE / len(regexp_extract_all(
               text, '(''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+)', 1
           )), 4) AS chars_per_token
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting two ways: whitespace words and a
    BPE-ish regex tokenizer (contractions / space-prefixed letter runs /
    digit runs / punctuation runs — the GPT-2 pattern restricted to the
    Java∩RE2 regex subset so the oracle tokenizes identically).

    chars-per-token is the compression-ratio signal curation pipelines
    use to budget training tokens. Pure Catalyst string expressions —
    no Python in the row path; embarrassingly parallel at 100 TB (no
    shuffle at all: one scan, map-only)."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 1)
    return docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens_ws"),
        F.size(bpe).alias("n_tokens_bpe"),
        # token-free text (empty string) → NULL ratio: DuckDB's x/0
        # is NULL while ANSI Spark throws DIVIDE_BY_ZERO — guard the
        # denominator explicitly (degenerate-input audit)
        F.when(
            F.size(bpe) > 0,
            F.round(F.col("n_chars").cast("double") / F.size(bpe), 4),
        ).alias("chars_per_token"),
    )


@query(
    "llm_unigram_logprob",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word
        FROM documents
    ), f AS (
        SELECT word, count(*) AS c FROM w GROUP BY word
    ), t AS (
        SELECT sum(c)::DOUBLE AS n FROM f
    )
    SELECT doc_id,
           count(*) AS n_words,
           round(avg(-log2(f.c / t.n)), 4) AS avg_neg_log2p
    FROM w JOIN f USING (word), t
    GROUP BY doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: train a corpus unigram LM
    (one wordcount pass), then score each document by its mean negative
    log2 word probability — the perplexity-style filter real curation
    pipelines run (gibberish scores high, boilerplate scores low).

    100 TB: the LM is aggregate-then-broadcast — the vocabulary after
    the first groupBy is small relative to the corpus, so the per-word
    probability join broadcasts while the corpus stays under the
    ``_vocab_broadcast`` gate (past it the hint is dropped and AQE
    decides from the aggregate's real size); the scoring pass is then
    map-side only plus one doc_id groupBy. Rounded to 4 decimals (FP
    summation order, SURVEY §5.4.2)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    freq = words.groupBy("word").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    scored = words.join(_vocab_broadcast(freq, sf_dir), "word").crossJoin(
        F.broadcast(total)
    )
    neg_log2p = -F.log2(F.col("c") / F.col("n"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.round(F.avg(neg_log2p), 4).alias("avg_neg_log2p"),
    )


@query(
    "llm_chunk_documents",
    oracle="""
    WITH n AS (
        SELECT doc_id, text, n_chars,
               greatest(0, (n_chars - 51) // 150) AS k_max
        FROM documents
    )
    SELECT doc_id, k.chunk_id,
           1 + k.chunk_id * 150 AS chunk_start,
           substring(text, (1 + k.chunk_id * 150)::INT, 200) AS chunk_text,
           length(substring(text, (1 + k.chunk_id * 150)::INT, 200))
               AS chunk_chars
    FROM n, LATERAL (
        SELECT unnest(range(0, k_max + 1)) AS chunk_id
    ) AS k
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: fixed 200-char windows with 50-char
    overlap (stride 150). Chunk count per doc is
    ``1 + max(0, ceil((n_chars - 200) / 150))`` so the final chunk always
    reaches the end of the document and no chunk is fully contained in
    its predecessor.

    Pure Catalyst: `sequence` + `explode` + `substring` — map-only, no
    shuffle, embarrassingly parallel at 100 TB (chunking is the classic
    pre-embedding fan-out; output rows ≈ chars/stride)."""
    docs = load_table(spark, sf_dir, "documents")
    k_max = F.greatest(
        F.lit(0), F.floor((F.col("n_chars") - 51) / 150).cast("long")
    )
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_id"),
    )
    start = (1 + F.col("chunk_id") * 150).cast("int")
    chunk_text = F.substring(F.col("text"), start, 200)
    return chunks.select(
        "doc_id",
        "chunk_id",
        start.alias("chunk_start"),
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).alias("chunk_chars"),
    )


@query(
    "llm_gopher_quality",
    oracle="""
    WITH w AS (
        SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), m AS (
        SELECT doc_id,
               len(words) AS n_words,
               list_sum(list_transform(words, x -> len(x))) AS total_chars,
               list_max(list_transform(list_distinct(words),
                        d -> len(list_filter(words, x -> x = d)))) AS top_count
        FROM w
    )
    SELECT doc_id,
           n_words,
           round(total_chars::DOUBLE / n_words, 4) AS mean_word_len,
           round(top_count::DOUBLE / n_words, 6) AS top_word_frac,
           (n_words >= 50
            AND total_chars::DOUBLE / n_words BETWEEN 3 AND 10
            AND top_count::DOUBLE / n_words <= 0.2) AS gopher_pass
    FROM m
    """,
)
def llm_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape quality rules (Rae et al. 2021,
    public): word-count band, mean-word-length band, and top-word
    dominance (the single-word repetition signal). All three metrics
    are array higher-order functions over split(text) — per-row,
    map-only, no shuffle, whole-stage codegen — so the filter runs at
    scan speed ahead of any expensive dedup. The dominance metric is
    O(distinct·n) per doc via transform-over-distinct, fine for
    prose-length documents; integer counts divide once at the end so
    the oracle hash is exact."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    d = docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.aggregate(
            F.transform(words, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.array_max(
            F.transform(
                F.array_distinct(words),
                lambda w: F.size(F.filter(words, lambda x: x == w)),
            )
        ).alias("top_count"),
    )
    mean_len = F.col("total_chars").cast("double") / F.col("n_words")
    top_frac = F.col("top_count").cast("double") / F.col("n_words")
    return d.select(
        "doc_id",
        "n_words",
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(top_frac, 6).alias("top_word_frac"),
        (
            (F.col("n_words") >= 50)
            & mean_len.between(3, 10)
            & (top_frac <= 0.2)
        ).alias("gopher_pass"),
    )


@query(
    "llm_repetition_filter",
    oracle="""
    -- keyed on a synthetic per-ROW id: doc_id-keyed grouping/joins
    -- would pool word counts across rows colliding on doc_id and fan
    -- the stats join out 2x2 (dup-fact-key axis); each row is scored
    -- independently, exactly like the op
    WITH w AS (
        SELECT doc_id, row_number() OVER () AS rid,
               len(str_split(text, ' ')) AS n_words,
               str_split(text, ' ') AS words
        FROM documents
    ), c AS (
        SELECT rid, word, count(*) AS n
        FROM (SELECT rid, unnest(words) AS word FROM w)
        GROUP BY rid, word
    ), top AS (
        SELECT rid, n AS top_count
        FROM (SELECT rid, n, row_number() OVER (
                  PARTITION BY rid ORDER BY n DESC, word) AS rn
              FROM c)
        WHERE rn = 1
    ), big AS (
        SELECT rid,
               len(words) - 1 AS n_bigrams,
               len(list_distinct(list_transform(range(1, len(words)),
                   i -> concat_ws(' ', words[i], words[i+1]))))
                   AS n_distinct_bigrams
        FROM w
    ), m AS (
        SELECT w.doc_id,
               top.top_count::DOUBLE / w.n_words AS top_share,
               CASE WHEN big.n_bigrams < 1 THEN 0.0
                    ELSE 1.0 - big.n_distinct_bigrams::DOUBLE / big.n_bigrams
               END AS dup_frac
        FROM w JOIN top ON w.rid = top.rid
               JOIN big ON w.rid = big.rid
    )
    SELECT doc_id,
           round(top_share, 6) AS top_word_share,
           round(dup_frac, 6) AS dup_bigram_frac,
           (top_share <= 0.12 AND dup_frac <= 0.6) AS passes_repetition
    FROM m
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher repetition family):
    per document, the most-frequent-word share and the duplicate-bigram
    fraction, plus the pass/fail verdict at curation thresholds.

    Shape: the top-word count is a (doc_id, word) combiner-friendly
    aggregate + per-doc top-1 window (both partial-aggregable, one
    shuffle each); bigram stats are map-only higher-order functions.
    At 100 TB every stage is embarrassingly parallel over documents.

    Sub-2-word documents are defined to have dup_bigram_frac = 0 (no
    bigrams → nothing duplicated); the transform indices are clamped
    (greatest/least, as in llm_dedup_fuzzy) because sequence(1, 0)
    descends and element_at(words, 0) throws.

    The expensive per-doc bigram stat lives in its OWN map-only
    subtree joined back on doc_id, never in the projection feeding the
    explode: Catalyst collapses a Project into the post-Generate
    stage, so the bigram array (O(words) strings) would be rebuilt
    once PER EXPLODED WORD ROW — O(words²) per document, which OOMed
    the executor on a single 20 000-word document in the
    degenerate-input audit. Two parallel scans of the text column are
    the 100 TB-safe trade.

    The two subtrees group/join on a synthetic per-ROW id, not doc_id:
    two rows colliding on doc_id (dup-fact-key axis) must each get
    their own score, not pooled word counts and a 2×2 join fan-out.
    monotonically_increasing_id is stable here because both branches
    recompute the identical deterministic file scan."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "rid", F.monotonically_increasing_id()
    )
    stats = docs.select(
        "rid", F.split("text", " ").alias("words")
    ).select(
        "rid",
        F.size("words").alias("n_words"),
        (F.size("words") - 1).alias("n_bigrams"),
        F.size(
            F.array_distinct(
                F.expr(
                    """
                    transform(sequence(1, greatest(size(words) - 1, 1)), i ->
                        concat_ws(' ', element_at(words, i),
                                       element_at(words, least(i + 1, size(words)))))
                    """
                )
            )
        ).alias("n_distinct_bigrams"),
    )
    counts = (
        docs.select(
            "rid", "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("rid", "word")
        .agg(F.count("*").alias("n"), F.first("doc_id").alias("doc_id"))
    )
    w = Window.partitionBy("rid").orderBy(F.desc("n"), "word")
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(stats, "rid")
    )
    top_share = F.col("n").cast("double") / F.col("n_words")
    dup_frac = F.when(F.col("n_bigrams") < 1, F.lit(0.0)).otherwise(
        1.0 - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
    )
    return top.select(
        "doc_id",
        F.round(top_share, 6).alias("top_word_share"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        ((top_share <= 0.12) & (dup_frac <= 0.6)).alias(
            "passes_repetition"
        ),
    )


@query(
    "llm_domain_mix",
    oracle="""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               sum(len(str_split(text, ' ')))::BIGINT AS n_tokens
        FROM documents GROUP BY source
    ), tot AS (SELECT sum(n_tokens)::DOUBLE AS t FROM per)
    SELECT source, n_docs, n_tokens,
           round(n_tokens / t, 6) AS token_share
    FROM per, tot
    """,
)
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture report: per-source document and token counts
    with each source's token share — the dashboard a data-mixture
    curator reads before weighting domains. One partial-aggregable
    shuffle; the scalar total is broadcast, never a second scan."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("t"), 6).alias("token_share"),
    )


@query(
    "llm_curation_pipeline",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, n_chars, text,
               len(str_split(text, ' '))::BIGINT AS n_words,
               len(list_distinct(str_split(text, ' ')))::BIGINT
                   AS n_distinct,
               len(list_filter(str_split(text, ' '),
                   w -> list_contains(
                       ['join', 'hash', 'row', 'batch', 'scan'], w)
               ))::BIGINT AS n_stop
        FROM documents
    ), flagged AS (
        SELECT doc_id, text, n_words,
               (lang IN ('en', 'es', 'de')
                AND n_chars BETWEEN 100 AND 400) AS lang_ok,
               (n_distinct / (1.0 * n_words) >= 0.5
                AND n_words >= 10) AS q_ok,
               (1.0 / (1.0 + exp(-(
                   -2.0 + 0.8 * ln(1.0 * n_words)
                        - 0.1 * ((n_chars - (n_words - 1))
                                 / (1.0 * n_words))
                        + 1.5 * (n_distinct / (1.0 * n_words))
                        + 0.5 * (n_stop / (1.0 * n_words))
               ))) >= 0.8) AS c_ok
        FROM d
    ), surv AS (
        SELECT *,
               (lang_ok AND q_ok AND doc_id = min(CASE
                    WHEN lang_ok AND q_ok THEN doc_id END)
                    OVER (PARTITION BY text)) AS is_surv
        FROM flagged
    )
    SELECT 0 AS stage_order, 'input' AS stage,
           count(*) AS n_docs, sum(n_words)::BIGINT AS n_tokens
    FROM surv
    UNION ALL
    SELECT 1, 'lang_filter', count(*) FILTER (lang_ok),
           coalesce(sum(n_words) FILTER (lang_ok), 0)::BIGINT
    FROM surv
    UNION ALL
    SELECT 2, 'quality_filter', count(*) FILTER (lang_ok AND q_ok),
           coalesce(sum(n_words) FILTER (lang_ok AND q_ok), 0)::BIGINT
    FROM surv
    UNION ALL
    SELECT 3, 'exact_dedup', count(*) FILTER (is_surv),
           coalesce(sum(n_words) FILTER (is_surv), 0)::BIGINT
    FROM surv
    UNION ALL
    SELECT 4, 'quality_model', count(*) FILTER (is_surv AND c_ok),
           coalesce(sum(n_words) FILTER (is_surv AND c_ok), 0)::BIGINT
    FROM surv
    """,
)
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: raw corpus → language/length gate
    (llm_lang_filter's predicate) → quality gate (llm_quality_filter's
    distinct-ratio ≥ 0.5, ≥ 10 words) → exact dedup (min-doc_id
    survivor) → model gate (llm_quality_classifier's logistic scorer)
    — reported as the (stage, n_docs, n_tokens) retention funnel every
    data-curation run publishes. Composes the production operators'
    exact predicates, so this one query certifies the pipeline wiring,
    not just each stage alone.

    ONE pass: per-doc flags (including the classifier score — a scalar
    expression over the same tokenization) are computed in a single
    projection, the dedup survivor needs one window keyed by text (at
    100 TB: hash the text first and window on the hash — same shuffle
    the standalone dedup uses), and all five funnel stages aggregate
    from the same flagged table with conditional counts — the corpus
    is scanned once, shuffled once. All outputs are exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("long")
    n_distinct = F.size(F.array_distinct(words)).cast("long")
    n_stop = F.size(
        F.filter(
            words,
            lambda w: F.array_contains(
                F.array(*[F.lit(s) for s in _STOPWORDS]), w
            ),
        )
    ).cast("long")
    dr = n_distinct / (1.0 * n_words)
    z = (
        F.lit(-2.0)
        + 0.8 * F.log(1.0 * n_words)
        - 0.1 * ((F.col("n_chars") - (n_words - 1)) / (1.0 * n_words))
        + 1.5 * (n_distinct / (1.0 * n_words))
        + 0.5 * (n_stop / (1.0 * n_words))
    )
    flagged = docs.select(
        "doc_id",
        "text",
        n_words.alias("n_words"),
        (
            F.col("lang").isin("en", "es", "de")
            & F.col("n_chars").between(100, 400)
        ).alias("lang_ok"),
        ((dr >= 0.5) & (n_words >= 10)).alias("q_ok"),
        ((1.0 / (1.0 + F.exp(-z))) >= 0.8).alias("c_ok"),
    )
    wt = Window.partitionBy("text")
    both = F.col("lang_ok") & F.col("q_ok")
    surv = flagged.withColumn(
        "is_surv",
        both
        & (
            F.col("doc_id")
            == F.min(F.when(both, F.col("doc_id"))).over(wt)
        ),
    )
    gate = {
        1: F.col("lang_ok"),
        2: both,
        3: F.col("is_surv"),
        4: F.col("is_surv") & F.col("c_ok"),
    }
    agg = surv.agg(
        F.count("*").alias("docs0"),
        F.sum("n_words").alias("toks0"),
        *[
            e
            for i, g in gate.items()
            for e in (
                F.count(F.when(g, 1)).alias(f"docs{i}"),
                F.coalesce(
                    F.sum(F.when(g, F.col("n_words"))), F.lit(0)
                ).alias(f"toks{i}"),
            )
        ],
    )
    names = {0: "input", 1: "lang_filter", 2: "quality_filter",
             3: "exact_dedup", 4: "quality_model"}
    stack_args = ", ".join(
        f"{i}, '{names[i]}', docs{i}, toks{i}" for i in range(5)
    )
    return agg.selectExpr(
        f"stack(5, {stack_args}) AS (stage_order, stage, n_docs, n_tokens)"
    )


@query(
    "llm_bm25",
    oracle="""
    -- the retrieval unit is the document ROW (synthetic rid), not
    -- doc_id: two rows colliding on doc_id (dup-fact-key axis) are two
    -- index entries — doc_id-keyed CTEs would pool their term counts
    -- and fan the length join out 2x2
    WITH d AS (
        SELECT doc_id, text, row_number() OVER () AS rid FROM documents
    ), w AS (
        SELECT rid, doc_id, unnest(str_split(text, ' ')) AS word FROM d
    ), tf AS (
        SELECT rid, any_value(doc_id) AS doc_id, word, count(*) AS tf
        FROM w GROUP BY rid, word
    ), dl AS (
        SELECT rid, len(str_split(text, ' '))::BIGINT AS dl FROM d
    ), dfr AS (
        SELECT word, count(*) AS doc_freq FROM tf GROUP BY word
    ), st AS (
        -- corpus stats over docs that HAVE tokens: a NULL-text doc
        -- contributes no words on either engine, so it must not
        -- inflate n_docs/avgdl (the Spark side derives both from the
        -- tf table, which cannot contain token-free docs)
        SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
        FROM dl WHERE dl IS NOT NULL
    )
    SELECT tf.doc_id, tf.word, tf.tf,
           round(
               ln(1.0 + (st.n_docs - dfr.doc_freq + 0.5)
                        / (dfr.doc_freq + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75
                    + 0.75 * dl.dl / (st.sum_dl / (1.0 * st.n_docs)))),
               6
           ) AS bm25
    FROM tf
    JOIN dl ON tf.rid = dl.rid
    JOIN dfr ON tf.word = dfr.word
    CROSS JOIN st
    """,
)
def llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) term weights per (doc, word) — the
    retrieval-index build step next to llm_tfidf, with document-length
    normalization.

    Dataflow: term frequencies via one map-side-combined shuffle — doc
    length rides along as a functionally-dependent group key (computed
    pre-explode), so there is NO corpus-sized doc-length join; the only
    joined sides are the vocab-cardinality doc-frequency aggregate
    (broadcast) and the scalar (N, Σdl). tf feeds THREE consumers
    (final rows, doc-freq, corpus stats), so it is materialized once
    with localCheckpoint — llm_tfidf's documented path (c), which wins
    here because re-deriving tf would tokenize the corpus three times
    (measured 2.3× at sf0.1 together with the parallel documents scan).
    Determinism: avgdl is spelled sum_dl / n_docs in BOTH engines
    (exact integer sum, one double division) rather than avg(), whose
    accumulation order an engine is free to choose — every downstream
    double op then has bit-identical operands and round(6) is
    cosmetic, not load-bearing. At 100 TB the tf shuffle dominates and
    stays (checkpoint becomes a real materialization or caching layer);
    the doc_freq broadcast hint is count-gated (``_vocab_broadcast``) —
    past the corpus bound AQE chooses the join strategy from the
    aggregate's measured output size."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "rid", F.monotonically_increasing_id()
    )
    # dl must be computed BELOW the explode: as a sibling of
    # explode(split(text)) it plans as a Project ABOVE the Generate
    # that re-splits the full text once per exploded WORD —
    # O(words² · bytes) per doc (round-8 huge_doc axis; jstack showed
    # UTF8String.split inside generate_doConsume on a 500 KB doc)
    words = docs.select(
        "rid",
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).select(
        "rid",
        "doc_id",
        F.size("ws").cast("long").alias("dl"),
        F.explode("ws").alias("word"),
    )
    # the retrieval unit is the document ROW: grouping by doc_id would
    # pool term counts across rows colliding on doc_id (dup-fact-key
    # axis). rid/doc_id/dl are functionally dependent group keys, so
    # the shuffle cardinality is unchanged; the checkpoint freezes the
    # rid assignment for all three consumers.
    tf = words.groupBy("rid", "doc_id", "dl", "word").agg(
        F.count("*").alias("tf")
    ).localCheckpoint(eager=True)
    dls = tf.groupBy("rid").agg(F.first("dl").alias("dl"))
    st = dls.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    avgdl = F.col("sum_dl") / (1.0 * F.col("n_docs"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("doc_freq") + 0.5)
        / (F.col("doc_freq") + 0.5)
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    score = (
        idf
        * (F.col("tf") * (1.2 + 1.0))
        / (
            F.col("tf")
            + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / avgdl)
        )
    )
    return (
        tf.join(_vocab_broadcast(dfreq, sf_dir), "word")
        .crossJoin(F.broadcast(st))
        .select("doc_id", "word", "tf", F.round(score, 6).alias("bm25"))
    )


@query(
    "llm_quality_classifier",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(str_split(text, ' '))::BIGINT AS n_words,
               len(list_distinct(str_split(text, ' ')))::BIGINT
                   AS n_distinct,
               len(list_filter(str_split(text, ' '),
                   w -> list_contains(
                       ['join', 'hash', 'row', 'batch', 'scan'], w)
               ))::BIGINT AS n_stop,
               n_chars
        FROM documents
    ), z AS (
        SELECT doc_id,
               -2.0 + 0.8 * ln(1.0 * n_words)
                    - 0.1 * ((n_chars - (n_words - 1)) / (1.0 * n_words))
                    + 1.5 * (n_distinct / (1.0 * n_words))
                    + 0.5 * (n_stop / (1.0 * n_words)) AS z
        FROM f
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-z)), 6) AS quality_score,
           (1.0 / (1.0 + exp(-z))) >= 0.8 AS keep
    FROM z
    """,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a logistic scorer over cheap text
    features (log length, avg word length, distinct ratio, stopword
    ratio) — the fastText-classifier slot of a curation pipeline, with
    the model reduced to broadcast weights so the oracle can replay it.

    The whole scorer is one map-only Catalyst projection: features are
    array HOFs over split(text), the linear form and sigmoid are scalar
    expressions, and the weights are literals (a real model would
    broadcast its coefficient vector — same plan). No shuffle, no
    Python in the row path; at 100 TB this runs at scan speed.
    Determinism: both engines evaluate the identical expression tree on
    identical integer features, so z and the threshold compare on
    bit-identical doubles; round(6) is presentation only. The 0.8
    operating point sits just below the corpus median (measured score
    range 0.59-0.86, median 0.82), so the gate actually discriminates
    — a 0.5 cut would keep everything."""
    docs = load_table(spark, sf_dir, "documents")
    wordsc = F.split("text", " ")
    f = docs.select(
        "doc_id",
        F.size(wordsc).cast("long").alias("n_words"),
        F.size(F.array_distinct(wordsc)).cast("long").alias("n_distinct"),
        F.size(
            F.filter(
                wordsc,
                lambda w: F.array_contains(
                    F.array(*[F.lit(s) for s in _STOPWORDS]), w
                ),
            )
        ).cast("long").alias("n_stop"),
        "n_chars",
    )
    z = (
        F.lit(-2.0)
        + 0.8 * F.log(1.0 * F.col("n_words"))
        - 0.1
        * ((F.col("n_chars") - (F.col("n_words") - 1)) / (1.0 * F.col("n_words")))
        + 1.5 * (F.col("n_distinct") / (1.0 * F.col("n_words")))
        + 0.5 * (F.col("n_stop") / (1.0 * F.col("n_words")))
    )
    score = 1.0 / (1.0 + F.exp(-z))
    return f.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        (score >= 0.8).alias("keep"),
    )


@query(
    "llm_bigram_lm",
    oracle="""
    WITH ws AS (
        SELECT str_split(text, ' ') AS w FROM documents
    ), pairs AS (
        SELECT unnest(list_transform(
                   range(1, len(w)),
                   i -> struct_pack(w1 := w[i], w2 := w[i + 1])
               )) AS p
        FROM ws WHERE len(w) >= 2
    ), c2 AS (
        SELECT p.w1 AS w1, p.w2 AS w2, count(*)::BIGINT AS n
        FROM pairs GROUP BY p.w1, p.w2
    ), c1 AS (
        SELECT w1, sum(n)::BIGINT AS starts FROM c2 GROUP BY w1
    ), v AS (
        SELECT count(DISTINCT word)::BIGINT AS vocab
        FROM (SELECT unnest(w) AS word FROM ws)
    )
    SELECT c2.w1, c2.w2, c2.n,
           round(ln((c2.n + 1.0) / (c1.starts + v.vocab)), 6) AS logp
    FROM c2 JOIN c1 ON c2.w1 = c1.w1 CROSS JOIN v
    """,
)
def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model with add-one smoothing: log P(w2 | w1) =
    ln((c(w1,w2)+1) / (c(w1,·)+V)) — the n-gram LM estimation step a
    data pipeline runs for perplexity-based quality filtering (the
    bigram upgrade of llm_unigram_logprob).

    Bigram extraction is one guarded Catalyst HOF (sequence is clamped
    by the `size >= 2` filter — the llm_repetition_filter hazard);
    counting is one map-side-combined shuffle on (w1, w2). The
    continuation-count side c(w1,·) is vocab-cardinality → broadcast;
    V is a scalar broadcast. The bigram-count table feeds two consumers
    (final rows and c1), so it is materialized once via localCheckpoint
    rather than re-extracting bigrams per branch. At 100 TB only the
    bigram-count shuffle scales with data; the c(w1,·) side is
    vocabulary-sized, so its broadcast hint is count-gated
    (``_vocab_broadcast``) rather than forced."""
    docs = load_table(spark, sf_dir, "documents")
    # split once, reference the array in the lambda — the inline
    # split-inside-transform form is O(words · bytes) per doc (no CSE
    # in higher-order functions; round-8 huge_doc axis)
    pairs = (
        docs.select(F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    "             element_at(ws, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    c2 = pairs.groupBy("w1", "w2").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    c1 = c2.groupBy("w1").agg(F.sum("n").alias("starts"))
    v = docs.select(F.explode(F.split("text", " ")).alias("word")).agg(
        F.count_distinct("word").alias("vocab")
    )
    logp = F.log(
        (F.col("n") + 1.0) / (F.col("starts") + F.col("vocab"))
    )
    return (
        c2.join(_vocab_broadcast(c1, sf_dir), "w1")
        .crossJoin(F.broadcast(v))
        .select("w1", "w2", "n", F.round(logp, 6).alias("logp"))
    )


@query(
    "llm_dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT text FROM documents WHERE doc_id % 5 != 4
    ), batch AS (
        SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 5 = 4
    )
    SELECT b.doc_id, b.n_chars,
           (c.text IS NOT NULL) AS is_known
    FROM batch b LEFT JOIN corpus c ON b.text = c.text
    """,
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: flag each NEW document (a 20% id-hash
    batch) whose text already exists in the standing corpus (the other
    80%) — the nightly-batch-vs-corpus check a continuously-growing
    training set runs, where re-deduplicating the whole corpus per
    batch is the anti-pattern.

    The corpus side reduces to DISTINCT text before the join —
    aggregate-then-join, so the exchange carries unique texts, not the
    corpus. At 100 TB the standing side becomes its xxhash64 set (join
    on the 8-byte hash, verify on collision) fronted by a Bloom
    prefilter on the batch scan — the join_bloom mechanic; the batch
    side is a day's ingest, orders of magnitude smaller than the
    corpus, which is exactly why incremental beats global re-dedup."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.where(F.col("doc_id") % 5 != 4).select("text").distinct()
        .withColumn("known", F.lit(True))
    )
    batch = docs.where(F.col("doc_id") % 5 == 4).select(
        "doc_id", "text", "n_chars"
    )
    return batch.join(corpus, "text", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("known", F.lit(False)).alias("is_known"),
    )


@query(
    "llm_batch_inference",
    oracle="""
    WITH h AS (
        SELECT doc_id, md5(doc_id::VARCHAR) AS hx FROM documents
    ), logits AS (
        SELECT doc_id,
               (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) / 15.0
                   - 0.5 AS logit_0,
               (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) / 15.0
                   - 0.5 AS logit_1,
               (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) / 15.0
                   - 0.5 AS logit_2
        FROM h
    )
    SELECT doc_id,
           round(logit_0, 6) AS logit_0,
           round(logit_1, 6) AS logit_1,
           round(logit_2, 6) AS logit_2,
           CASE WHEN logit_0 >= logit_1 AND logit_0 >= logit_2 THEN 0
                WHEN logit_1 >= logit_2 THEN 1
                ELSE 2 END AS pred_label
    FROM logits
    """,
)
def llm_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference plumbing over mapInPandas: documents
    stream through the scorer in Arrow batches, each batch producing a
    logit vector + argmax label per doc — the shape of every
    GPU-scoring stage in a curation pipeline (toxicity, quality,
    topic). The MODEL is a deterministic md5-nibble STUB (this
    container ships no model runtime) so the oracle can replay it in
    SQL; swapping in a real model changes ONLY the function body — the
    batch iterator, Arrow transfer, output schema, and downstream
    argmax contract are exactly what production uses. At 100 TB tune
    spark.sql.execution.arrow.maxRecordsPerBatch to the model's batch
    size and the stage pipelines with the scan."""
    import hashlib

    def score(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            # a single NULL id flips the Arrow->pandas dtype to float64
            # (round-8 null_ids axis): str(d) then renders "5.0", not
            # "5", silently changing EVERY row's hash — go through
            # int(d) for present ids and emit NULL logits for NULL ids
            # (the oracle's md5(NULL) does the same)
            hx = ids.map(
                lambda d: None
                if pd.isna(d)
                else hashlib.md5(str(int(d)).encode()).hexdigest()
            )
            out = pd.DataFrame({"doc_id": ids})
            for i in range(3):
                out[f"logit_{i}"] = hx.map(
                    lambda h, i=i: None
                    if h is None
                    else "0123456789abcdef".index(h[i]) / 15.0 - 0.5
                )
            yield out

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    scored = docs.mapInPandas(
        score,
        "doc_id long, logit_0 double, logit_1 double, logit_2 double",
    )
    l0, l1, l2 = (F.col(f"logit_{i}") for i in range(3))
    pred = (
        F.when((l0 >= l1) & (l0 >= l2), 0)
        .when(l1 >= l2, 1)
        .otherwise(2)
    )
    return scored.select(
        "doc_id",
        F.round(l0, 6).alias("logit_0"),
        F.round(l1, 6).alias("logit_1"),
        F.round(l2, 6).alias("logit_2"),
        pred.alias("pred_label"),
    )


@query(
    "llm_prefix_dedup",
    oracle="""
    WITH b AS (
        SELECT doc_id, text, substr(text, 1, 30) AS block
        FROM documents
    ), pairs AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               len(list_intersect(
                   list_distinct(str_split(x.text, ' ')),
                   list_distinct(str_split(y.text, ' '))
               ))::BIGINT AS n_shared,
               len(list_distinct(str_split(x.text, ' ')))::BIGINT AS n_a
        FROM b x JOIN b y
          ON x.block = y.block AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, n_shared,
           round(n_shared / (1.0 * n_a), 6) AS containment_a
    FROM pairs
    WHERE n_shared * 2 >= n_a
    """,
)
def llm_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking dedup: candidate pairs come from an EXACT 30-char
    prefix block (boilerplate/template detection — the fixture's
    engineered near-dups share exactly this prefix), scored by
    CONTAINMENT |A∩B|/|A| rather than Jaccard — the asymmetric metric
    that catches quotes and template expansions Jaccard under-scores.

    Blocking is the cheapest candidate generator in the dedup family:
    one groupBy-free equi-join on the prefix key (shuffle carries
    30-byte keys), no signatures, no banding — the right first pass
    when duplicates share literal prefixes (crawl boilerplate, legal
    headers). Pair cost is Σ|block|², bounded by block granularity;
    the word-set intersection is one array_intersect per candidate
    pair (the llm_dedup_ngram economy)."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        F.array_distinct(F.split("text", " ")).alias("words"),
        F.substring("text", 1, 30).alias("block"),
    )
    x = b.select(
        F.col("block"),
        F.col("doc_id").alias("doc_a"),
        F.col("words").alias("wa"),
    )
    y = b.select(
        F.col("block"),
        F.col("doc_id").alias("doc_b"),
        F.col("words").alias("wb"),
    )
    pairs = (
        x.join(y, "block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("wa", "wb")).cast("long").alias(
                "n_shared"
            ),
            F.size("wa").cast("long").alias("n_a"),
        )
    )
    return pairs.where(F.col("n_shared") * 2 >= F.col("n_a")).select(
        "doc_a",
        "doc_b",
        "n_shared",
        F.round(F.col("n_shared") / (1.0 * F.col("n_a")), 6).alias(
            "containment_a"
        ),
    )


@query(
    "llm_bpe_merge_step",
    oracle="""
    WITH w AS (
        SELECT unnest(str_split(text, ' ')) AS word FROM documents
    ), chars AS (
        SELECT word, str_split(word, '') AS cs FROM w
    ), pairs AS (
        SELECT unnest(list_transform(
                   range(1, len(cs)),
                   i -> cs[i] || cs[i + 1]
               )) AS pair
        FROM chars WHERE len(cs) >= 2
    )
    SELECT pair, count(*)::BIGINT AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def llm_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE vocabulary-learning step: count every adjacent character
    pair across the tokenized corpus and rank the top-20 merge
    candidates — the inner loop of byte-pair-encoding training, whose
    corpus-scale pair counting is exactly a MapReduce wordcount over
    2-grams of characters.

    Pure Catalyst: split→explode→HOF pair extraction (guarded
    sequence, the llm_repetition_filter rule)→one map-side-combined
    shuffle on the pair, then TakeOrdered for the candidate list. A
    full BPE trainer iterates this step, re-segmenting with the merged
    symbol — each iteration stays this same one-shuffle shape. Output
    ordering is total (count desc, pair asc) for hash stability."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    )
    # split once per word, reference the char array in the lambda —
    # inline split-inside-transform is O(len²) per word: a single
    # 100 KB unbroken token (minified JS / base64, round-8 huge_doc
    # axis) would re-split itself 200k times
    pairs = (
        words.where(F.length("word") >= 2)
        .select(F.split("word", "").alias("cs"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(cs) - 1),"
                    " i -> concat(element_at(cs, i),"
                    "             element_at(cs, i + 1)))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


@query(
    "llm_shard_assign",
    oracle="""
    WITH s AS (
        SELECT doc_id, n_chars,
               (strpos('0123456789abcdef',
                       substr(md5(doc_id::VARCHAR), 1, 1)) - 1) % 8
                   AS shard
        FROM documents
    )
    SELECT shard::BIGINT AS shard,
           count(*)::BIGINT AS n_docs,
           sum((n_chars + 3) // 4)::BIGINT AS n_tokens
    FROM s GROUP BY shard
    """,
)
def llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment: deterministically hash every document
    into 8 output shards and report per-shard doc and (approximate,
    chars/4) token counts — the write-sharding step before a corpus
    becomes training files, where shard BALANCE decides whether data
    loading stalls. Hash sharding (vs round-robin) is reproducible and
    join-stable: the same doc lands in the same shard across reruns,
    so downstream sample bookkeeping survives pipeline restarts. The
    md5-nibble hash is the engine-portable uniform (sample_weighted's
    construction); executing the plan is write.partitionBy(shard)."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        (
            F.expr(
                "locate(substring(md5(cast(cast(doc_id AS string) AS"
                " binary)), 1, 1), '0123456789abcdef')"
            )
            - 1
        )
        % 8
    ).cast("long")
    return (
        docs.select(
            shard.alias("shard"),
            F.floor((F.col("n_chars") + 3) / 4).alias("toks"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
        )
    )


@query(
    "llm_dedup_editdist",
    oracle="""
    WITH b AS (
        SELECT doc_id, text, substr(text, 1, 30) AS block
        FROM documents
    )
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           levenshtein(x.text, y.text)::BIGINT AS edit_dist,
           round(1.0 - levenshtein(x.text, y.text)
                 / (1.0 * greatest(length(x.text), length(y.text))), 6)
               AS similarity
    FROM b x JOIN b y
      ON x.block = y.block AND x.doc_id < y.doc_id
    WHERE levenshtein(x.text, y.text) * 2
          < greatest(length(x.text), length(y.text))
    """,
)
def llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection — the fifth dedup metric in
    the family (exact, MinHash-Jaccard, n-gram, embedding-cosine, and
    now Levenshtein), the right one when duplicates differ by small
    EDITS (typo fixes, template fill-ins) that set-based metrics
    over-penalize. Candidate pairs come from the 30-char prefix block
    (llm_prefix_dedup's generator) because Levenshtein is O(len²) per
    pair — NEVER run it all-pairs; blocking-then-verify is the only
    100 TB shape for edit metrics. Both engines ship the same classic
    DP levenshtein over identical strings, so distances are exact
    integers and the normalized similarity divides identical
    operands."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", "text", F.substring("text", 1, 30).alias("block")
    )
    x = b.select(
        "block", F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    y = b.select(
        "block", F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    dist = F.levenshtein("ta", "tb")
    mx = F.greatest(F.length("ta"), F.length("tb"))
    return (
        x.join(y, "block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(dist * 2 < mx)
        .select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_dist"),
            F.round(1.0 - dist / (1.0 * mx), 6).alias("similarity"),
        )
    )


@query(
    "llm_mix_rebalance",
    oracle="""
    WITH s AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum((n_chars + 3) // 4)::BIGINT AS n_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(n_tokens)::BIGINT AS t, count(*)::BIGINT AS k FROM s
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens / (1.0 * t), 6) AS actual_share,
           round(least(1.0,
               (t / (1.0 * k)) / (1.0 * n_tokens)), 6) AS sample_rate
    FROM s, tot
    """,
)
def llm_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing plan: per-source token shares plus the
    DOWN-sampling rate that moves the corpus toward a uniform target
    mix (rate = target_share / actual_share, capped at 1 — sources
    under target keep everything; over-represented sources are
    sampled down). llm_domain_mix reports the mix; this computes the
    executable plan, and sample_weighted is the draw that applies it.
    One shuffle for the per-source rollup, scalar totals broadcast;
    shares and rates divide exact integers in a fixed expression
    shape."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.floor((F.col("n_chars") + 3) / 4)).alias("n_tokens"),
    )
    tot = s.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("k")
    )
    target = F.col("t") / (1.0 * F.col("k"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / (1.0 * F.col("t")), 6).alias(
            "actual_share"
        ),
        F.round(
            F.least(F.lit(1.0), target / (1.0 * F.col("n_tokens"))), 6
        ).alias("sample_rate"),
    )


@query(
    "llm_stopword_candidates",
    oracle="""
    WITH docs_n AS (
        SELECT count(*)::BIGINT AS n FROM documents
    ), dfreq AS (
        -- NULL doc_ids carry no document frequency (null_ids axis:
        -- Spark's distinct() pools the NULL ids into one counted row,
        -- DuckDB's count(DISTINCT) skips them — filter on both sides)
        SELECT word, count(DISTINCT doc_id)::BIGINT AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word
              FROM documents WHERE doc_id IS NOT NULL)
        GROUP BY word
    )
    SELECT word, df,
           round(df / (1.0 * n), 6) AS df_ratio
    FROM dfreq, docs_n
    ORDER BY df DESC, word
    LIMIT 20
    """,
)
def llm_stopword_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery: the 20 most document-frequent
    words with their df ratio — the data-derived alternative to a
    hand-curated list (this repo's _STOPWORDS constant was built
    exactly this way from the fixture vocabulary). A ranked shortlist,
    not a fixed df cut: an absolute threshold (the first version used
    df ≥ 90%) returns an EMPTY set on any corpus whose top words sit
    below it — the fixture's most common word covers ~60% of docs —
    and an empty result makes the differential check vacuous (the
    q11 fixed-fraction lesson). Document frequency via one
    distinct-pair count and a map-side-combined shuffle on the word;
    top-20 with a full (df, word) tiebreak plans as
    TakeOrderedAndProject — no global sort. The output feeds
    llm_quality_filter/tfidf — stopword lists should be derived
    per-corpus, not imported; the cut threshold belongs downstream."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n"))
    dfreq = (
        docs.where(F.col("doc_id").isNotNull())
        .select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .distinct()
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    return (
        dfreq.crossJoin(F.broadcast(n))
        .orderBy(F.desc("df"), "word")
        .limit(20)
        .select(
            "word",
            "df",
            F.round(F.col("df") / (1.0 * F.col("n")), 6).alias(
                "df_ratio"
            ),
        )
    )


@query(
    "llm_length_bands",
    oracle="""
    WITH q AS (
        SELECT quantile_cont(n_chars, 0.25) AS p25,
               quantile_cont(n_chars, 0.50) AS p50,
               quantile_cont(n_chars, 0.75) AS p75
        FROM documents
    )
    SELECT CASE WHEN n_chars <= p25 THEN 'short'
                WHEN n_chars <= p50 THEN 'mid_short'
                WHEN n_chars <= p75 THEN 'mid_long'
                ELSE 'long' END AS band,
           count(*)::BIGINT AS n_docs,
           min(n_chars)::BIGINT AS min_chars,
           max(n_chars)::BIGINT AS max_chars,
           sum((n_chars + 3) // 4)::BIGINT AS n_tokens
    FROM documents, q
    GROUP BY band
    """,
)
def llm_length_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-band bucketing for curriculum schedules: quartile
    thresholds from ONE exact-percentile aggregate (broadcast as three
    scalars), every document CASE-bucketed against them, and per-band
    doc/token totals — the partitioning a curriculum loader or
    length-grouped batching scheme consumes. The data-derived
    thresholds (never hard-coded) make the op self-adapting to any
    corpus; Spark's exact percentile interpolates identically to
    DuckDB's quantile_cont, and band comparisons happen on those
    identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.agg(
        F.percentile("n_chars", 0.25).alias("p25"),
        F.percentile("n_chars", 0.50).alias("p50"),
        F.percentile("n_chars", 0.75).alias("p75"),
    )
    band = (
        F.when(F.col("n_chars") <= F.col("p25"), "short")
        .when(F.col("n_chars") <= F.col("p50"), "mid_short")
        .when(F.col("n_chars") <= F.col("p75"), "mid_long")
        .otherwise("long")
    )
    return (
        docs.crossJoin(F.broadcast(q))
        .groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum(F.floor((F.col("n_chars") + 3) / 4)).alias(
                "n_tokens"
            ),
        )
    )


@query(
    "llm_vocab_coverage",
    oracle="""
    WITH wc AS (
        SELECT word, count(*)::BIGINT AS n
        FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
        GROUP BY word
    ), ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rnk,
               sum(n) OVER (ORDER BY n DESC, word
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cum_n,
               sum(n) OVER ()::BIGINT AS total_n
        FROM wc
    )
    SELECT rnk::BIGINT AS vocab_size,
           round(cum_n / (1.0 * total_n), 6) AS coverage
    FROM ranked WHERE rnk IN (5, 10, 20)
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the share of all corpus tokens
    covered by the top-k most frequent words (k = 5, 10, 20) — the
    tradeoff curve every tokenizer-vocab-size decision reads (BPE
    stops merging when marginal coverage flattens). One wordcount
    shuffle; then — because only ranks ≤ 20 are reported — the top-20
    words come out via orderBy+limit, which Spark plans as
    TakeOrderedAndProject (each task keeps a 20-row heap; no
    vocab-sized single-partition window, which at web scale would
    funnel a billion-row vocabulary through one task). The corpus
    token total is a separate scalar aggregate broadcast onto the
    20-row result; the rank/cumsum window then runs over exactly 20
    rows. Shares divide exact integers; the total order (count desc,
    word asc) makes the curve deterministic under frequency ties."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    total = wc.agg(F.sum("n").alias("total_n"))
    top = wc.orderBy(F.desc("n"), "word").limit(20)
    wo = Window.orderBy(F.desc("n"), "word")
    ranked = top.crossJoin(F.broadcast(total)).select(
        F.row_number().over(wo).cast("long").alias("vocab_size"),
        F.sum("n")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_n"),
        "total_n",
    )
    return ranked.where(F.col("vocab_size").isin(5, 10, 20)).select(
        "vocab_size",
        F.round(F.col("cum_n") / (1.0 * F.col("total_n")), 6).alias(
            "coverage"
        ),
    )


@query(
    "llm_boilerplate_share",
    oracle="""
    WITH w AS (
        -- hoist the split: inlining str_split inside the lambda
        -- re-splits the text per gram, O(words^2) per document —
        -- a 20k-word doc hangs the oracle (the Spark side hoists too)
        SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> concat_ws(' ',
                        words[i],
                        words[least(i + 1, len(words))],
                        words[least(i + 2, len(words))])
               )) AS grams
        FROM w
    ), exploded AS (
        SELECT doc_id, unnest(grams) AS gram FROM sh
    ), df AS (
        SELECT gram, count(*)::BIGINT AS df FROM exploded GROUP BY gram
    )
    SELECT e.doc_id,
           count(*)::BIGINT AS n_grams,
           count(*) FILTER (df.df > 1)::BIGINT AS shared_grams,
           round(count(*) FILTER (df.df > 1) / (1.0 * count(*)), 6)
               AS boilerplate_share
    FROM exploded e JOIN df ON e.gram = df.gram
    GROUP BY e.doc_id
    """,
)
def llm_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction: the share of a document's
    distinct 3-gram shingles that also appear in OTHER documents —
    high share flags template/boilerplate text that dedup thresholds
    miss (each copy differs, but the building blocks repeat). The
    inverse (1 − share) is the document's n-gram novelty, the cheap
    memorization-risk proxy.

    Same guarded shingle extraction as llm_dedup_fuzzy, one
    map-side-combined shuffle for shingle document-frequencies, and a
    shuffle join back on the shingle key (vocab-sized at fixture
    scale; at 100 TB the df side stays aggregate-sized and AQE picks
    the strategy). Exact integer counts; the share divides identical
    operands."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.withColumn("words", F.split("text", " "))
        .select("doc_id", F.expr(_SHINGLES_EXPR).alias("grams"))
        .select("doc_id", F.explode("grams").alias("gram"))
    )
    dfreq = sh.groupBy("gram").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("df") > 1, 1)).alias("shared_grams"),
            F.round(
                F.count(F.when(F.col("df") > 1, 1))
                / (1.0 * F.count("*")),
                6,
            ).alias("boilerplate_share"),
        )
    )


@query(
    "llm_feature_hashing",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word
        FROM documents WHERE doc_id < 100
    ), hashed AS (
        SELECT doc_id,
               (strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1)
                   % 16 AS dim
        FROM w
    )
    SELECT doc_id, dim::BIGINT AS dim, count(*)::BIGINT AS weight
    FROM hashed GROUP BY doc_id, dim
    """,
)
def llm_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project text onto a FIXED 16-dim sparse
    feature space by hashing each token to a dimension — the
    vocabulary-free featurization (HashingTF's mechanic, spelled out)
    that needs no fitted dictionary, which is what makes it viable on
    a 100 TB stream where the vocabulary is unbounded and unseen
    tokens must still map somewhere. Output is the sparse (doc, dim,
    weight) triplet form. One explode + one map-side-combined shuffle;
    the md5-nibble hash is the engine-portable choice (production uses
    xxhash64 % d — same plan, cheaper hash)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 100
    )
    dim = (
        F.expr(
            "locate(substring(md5(cast(word AS binary)), 1, 1),"
            " '0123456789abcdef')"
        )
        - 1
    ) % 16
    return (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .select("doc_id", dim.cast("long").alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("weight"))
    )


@query(
    "llm_dedup_substring",
    oracle="""
    WITH b AS (
        SELECT doc_id, text, substr(text, 1, 30) AS block
        FROM documents
    )
    SELECT x.doc_id AS contained_doc, y.doc_id AS container_doc,
           length(x.text)::BIGINT AS contained_len,
           length(y.text)::BIGINT AS container_len
    FROM b x JOIN b y
      ON x.block = y.block AND x.doc_id != y.doc_id
    WHERE length(x.text) < length(y.text)
      AND position(x.text IN y.text) > 0
    """,
)
def llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring containment: documents whose FULL text appears
    verbatim inside a longer document — the quote/excerpt/truncation
    case where the shorter copy adds zero information and every
    similarity metric under-fires (a 10% excerpt has tiny Jaccard but
    is still pure duplication). Candidates come from the shared-prefix
    block (containment of a full doc implies a shared prefix window
    when duplicates are truncations, the common crawl case); the
    verifier is one position() probe per pair. Strictly-shorter
    guard keeps the pair orientation unique and excludes exact
    equals, which llm_dedup_exact already owns."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", "text", F.substring("text", 1, 30).alias("block")
    )
    x = b.select(
        "block",
        F.col("doc_id").alias("contained_doc"),
        F.col("text").alias("tx"),
    )
    y = b.select(
        "block",
        F.col("doc_id").alias("container_doc"),
        F.col("text").alias("ty"),
    )
    return (
        x.join(y, "block")
        .where(F.col("contained_doc") != F.col("container_doc"))
        .where(F.length("tx") < F.length("ty"))
        .where(F.instr(F.col("ty"), F.col("tx")) > 0)
        .select(
            "contained_doc",
            "container_doc",
            F.length("tx").cast("long").alias("contained_len"),
            F.length("ty").cast("long").alias("container_len"),
        )
    )


@query(
    "llm_keyword_extraction",
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(*) AS doc_freq FROM tf GROUP BY word
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.word,
               round(tf.tf * (ln((n.n_docs + 1.0) / (df.doc_freq + 1.0))
                              + 1.0), 6) AS tfidf
        FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, rnk FROM (
        SELECT doc_id, word, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY tfidf DESC, word) AS rnk
        FROM scored) WHERE rnk <= 3
    """,
)
def llm_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 TF-IDF terms of each
    document — the tagging/labeling pass behind search facets and
    corpus browsing. Composes llm_tfidf's exact weights with one
    rank-per-document window (WindowGroupLimit keeps only 3 rows per
    doc through the sort at scale); ties break on the word itself so
    the keyword set is deterministic. The per-doc partition bounds
    window state by document vocabulary, never corpus size."""
    scored = llm_tfidf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), "word"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "word", "tfidf", "rnk")
    )


@query(
    "llm_lsh_diagnostics",
    oracle="""
    -- the signature unit is the document ROW (rid), matching the
    -- per-row Spark pipeline: rows colliding on doc_id (dup_ids axis)
    -- each carry their own signature and land in buckets separately
    WITH w AS (
        SELECT row_number() OVER (ORDER BY doc_id, text) AS rid,
               string_split(text, ' ') AS words
        FROM documents
    ), sh AS (
        SELECT rid,
               list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> concat_ws(' ', words[i],
                                  words[least(i + 1, len(words))],
                                  words[least(i + 2, len(words))]))) AS sh
        FROM w
    ), sig AS (
        SELECT rid, i, min(substr(md5(s || '#' || i), 1, 16)) AS h
        FROM (SELECT rid, unnest(sh) AS s FROM sh)
        CROSS JOIN (SELECT unnest(range(0, 16)) AS i) AS idx
        GROUP BY rid, i
    ), bands AS (
        SELECT rid, i // 2 AS b, string_agg(h, '|' ORDER BY i) AS key
        FROM sig GROUP BY rid, i // 2
    ), buckets AS (
        SELECT b, key, count(*)::BIGINT AS c FROM bands GROUP BY b, key
    )
    SELECT b::BIGINT AS band_idx,
           count(*)::BIGINT AS n_buckets,
           max(c)::BIGINT AS max_bucket,
           count(*) FILTER (c > 1)::BIGINT AS n_colliding_buckets,
           sum(c * (c - 1) // 2)::BIGINT AS candidate_pairs
    FROM buckets GROUP BY b
    """,
)
def llm_lsh_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning diagnostics: per band, the bucket count, the largest
    bucket, how many buckets collide at all, and the candidate-pair
    bill Σ c·(c−1)/2 — the report that decides band/row parameters
    BEFORE running fuzzy dedup at scale (one hot bucket of 10⁵ docs is
    5×10⁹ candidate pairs; this table is where that shows up as one
    number instead of a dead cluster). Bands through
    cluster_near_duplicates' own :func:`_minhash_bands` at its defaults,
    so the diagnosis describes precisely the join llm_dedup_fuzzy will
    run."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    sh = docs.withColumn("words", F.split("text", " ")).select(
        "doc_id", F.expr(_SHINGLES_EXPR).alias("sh")
    )
    bands = _minhash_bands(sh, n_hashes=16, band_rows=2)
    buckets = bands.groupBy("band_idx", "band_key").agg(
        F.count("*").alias("c")
    )
    return buckets.groupBy(
        F.col("band_idx").cast("long").alias("band_idx")
    ).agg(
        F.count("*").alias("n_buckets"),
        F.max("c").alias("max_bucket"),
        F.count(F.when(F.col("c") > 1, 1)).alias(
            "n_colliding_buckets"
        ),
        F.sum(
            F.floor(F.col("c") * (F.col("c") - 1) / 2)
        ).alias("candidate_pairs"),
    )


@query(
    "llm_query_doc_match",
    oracle="""
    -- the index is per document ROW (rid, same as the llm_bm25
    -- oracle); the RESULT is per doc_id — rows colliding on doc_id
    -- (dup-fact-key axis) each score independently and their scores
    -- sum into the user-facing id, exactly like the op's groupBy over
    -- the per-row index
    WITH d AS (
        SELECT doc_id, text, row_number() OVER () AS rid FROM documents
    ), w AS (
        SELECT rid, doc_id, unnest(str_split(text, ' ')) AS word FROM d
    ), tf AS (
        SELECT rid, any_value(doc_id) AS doc_id, word, count(*) AS tf
        FROM w GROUP BY rid, word
    ), dl AS (
        SELECT rid, len(str_split(text, ' '))::BIGINT AS dl FROM d
    ), dfr AS (
        SELECT word, count(*) AS doc_freq FROM tf GROUP BY word
    ), st AS (
        -- same NULL-text exclusion as the llm_bm25 oracle: corpus
        -- stats over docs that have tokens
        SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
        FROM dl WHERE dl IS NOT NULL
    ), posting AS (
        SELECT tf.doc_id,
               round(
                   ln(1.0 + (st.n_docs - dfr.doc_freq + 0.5)
                            / (dfr.doc_freq + 0.5))
                   * (tf.tf * (1.2 + 1.0))
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
                        / (st.sum_dl / (1.0 * st.n_docs)))), 6) AS bm25
        FROM tf
        JOIN dl ON tf.rid = dl.rid
        JOIN dfr ON tf.word = dfr.word
        CROSS JOIN st
        WHERE tf.word IN ('join', 'shuffle', 'parquet')
    ), scored AS (
        SELECT doc_id, round(sum(bm25), 6) AS score
        FROM posting GROUP BY doc_id
    )
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id NULLS FIRST) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def llm_query_doc_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EXECUTION on the BM25 index: score every document
    against the 3-term query {join, shuffle, parquet} by summing
    per-term BM25 weights and return the top-5 — llm_bm25 builds the
    index, this runs the query against it, closing the retrieval loop.
    The query-term filter lands BEFORE the tf join (only matching
    postings move), which is exactly why inverted retrieval scales:
    work is proportional to the query's posting lists, not the corpus.
    The top-5 is orderBy+limit — TakeOrderedAndProject, a distributed
    5-row heap per task — NOT a rank window over every matching doc
    (a stopword-grade query term would funnel the whole corpus
    through one window task); the rank is then numbered over the
    5-row result. Ranked on round(6) scores with a doc_id tiebreak so
    the top-k set is deterministic in both engines."""
    scored = (
        llm_bm25(spark, sf_dir)
        .where(F.col("word").isin("join", "shuffle", "parquet"))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("bm25")), 6).alias("score"))
    )
    top = scored.orderBy(F.desc("score"), "doc_id").limit(5)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.select(
        "doc_id", "score", F.row_number().over(w).alias("rank")
    )


@query(
    "llm_split_leakage",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN ascii(substring(md5(doc_id::VARCHAR), 1, 1)) % 10 < 8
                    THEN 'train'
                    WHEN ascii(substring(md5(doc_id::VARCHAR), 1, 1)) % 10 = 8
                    THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
    ), texts AS (
        SELECT text,
               count(DISTINCT split)::BIGINT AS n_splits,
               count(*)::BIGINT AS n_copies
        FROM assigned GROUP BY text
    )
    SELECT count(*)::BIGINT AS n_distinct_texts,
           count(*) FILTER (n_splits > 1)::BIGINT AS n_leaked_texts,
           coalesce(sum(n_copies) FILTER (n_splits > 1), 0)::BIGINT
               AS n_leaked_docs
    FROM texts
    """,
)
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: texts whose copies land in MORE THAN ONE
    of train/valid/test — the eval-contamination hole an id-hash split
    leaves open whenever duplicates exist (identical text, different
    ids, different splits). Uses llm_train_test_split's exact
    assignment; one groupBy(text) counts distinct splits per text and
    one global aggregate folds the audit. The fix this audit motivates
    is splitting on a TEXT hash (or post-dedup ids) instead of raw
    ids — run this BEFORE training, not after the benchmark looks
    suspiciously good."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.ascii(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
            )
        )
        % 10
    )
    split = (
        F.when(bucket < 8, "train")
        .when(bucket == 8, "valid")
        .otherwise("test")
    )
    texts = (
        docs.select("text", split.alias("split"))
        .groupBy("text")
        .agg(
            F.count_distinct("split").alias("n_splits"),
            F.count("*").alias("n_copies"),
        )
    )
    leaked = F.col("n_splits") > 1
    return texts.agg(
        F.count("*").alias("n_distinct_texts"),
        F.count(F.when(leaked, 1)).alias("n_leaked_texts"),
        F.coalesce(
            F.sum(F.when(leaked, F.col("n_copies"))), F.lit(0)
        ).alias("n_leaked_docs"),
    )


@query(
    "llm_lang_agreement",
    oracle="""
    WITH pred AS (
        SELECT doc_id, lang AS lang_given,
               (['de','en','es','fr','zh'])[
                   (ascii(substring(md5(text), 1, 1)) % 5) + 1
               ] AS lang_pred
        FROM documents
    )
    SELECT lang_given, lang_pred, count(*)::BIGINT AS n_docs,
           (lang_given = lang_pred) AS agree
    FROM pred GROUP BY lang_given, lang_pred
    """,
)
def llm_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: predicted vs given language with
    per-cell counts and an agreement flag — the evaluation table a
    classifier swap gets judged by (per-language precision/recall fall
    out of the marginals). Reuses llm_lang_id's deterministic
    md5-bucket stub so the oracle replays the prediction; swapping in
    a real LID model changes only the prediction column while this
    evaluation query — one map projection plus one grouped count —
    stays identical."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_given"),
        _md5_lang_id("text").alias("lang_pred"),
    )
    return pred.groupBy("lang_given", "lang_pred").agg(
        F.count("*").alias("n_docs")
    ).withColumn(
        "agree", F.col("lang_given") == F.col("lang_pred")
    )


@query(
    "llm_ngram_entropy",
    oracle="""
    WITH w AS (
        SELECT str_split(text, ' ') AS ws FROM documents
    ), pairs AS (
        SELECT unnest(list_transform(
                   range(1, len(ws)),
                   i -> ws[i] || ' ' || ws[i + 1]
               )) AS bigram
        FROM w WHERE len(ws) >= 2
    ), c AS (
        SELECT bigram, count(*)::BIGINT AS n FROM pairs GROUP BY bigram
    ), t AS (
        SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vocab2 FROM c
    )
    SELECT t.vocab2 AS n_distinct_bigrams,
           t.total AS n_bigrams,
           round(sum(-(c.n / (1.0 * t.total))
                     * ln(c.n / (1.0 * t.total))), 4) AS bigram_entropy,
           round(ln(t.vocab2), 4) AS max_entropy
    FROM c, t
    GROUP BY t.vocab2, t.total
    """,
)
def llm_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram entropy vs its uniform maximum — the
    language-model-difficulty proxy (low entropy = repetitive,
    template-heavy text that a model memorizes instead of learns;
    entropy near ln(V²) = diverse combinations). One bigram-count
    shuffle, then the -Σ p·ln p fold over the bigram DISTRIBUTION
    table (vocabulary-squared rows, not corpus rows); round(4)
    absorbs summation-order ulps exactly as the repo's other double
    reductions do. Read next to llm_vocab_coverage when sizing
    curation thresholds."""
    docs = load_table(spark, sf_dir, "documents")
    # Split ONCE in a projection and reference the array inside the
    # lambda: Catalyst does not common-subexpression-eliminate a
    # split() written inside a higher-order function, so the inline
    # form re-splits the whole text for EVERY index — O(words · bytes)
    # per document, ~40 GB of string work on one 500 KB doc (round-8
    # huge_doc axis: the sweep sat on this op for 25+ CPU-minutes).
    pairs = (
        docs.select(F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(element_at(ws, i), ' ',"
                    "             element_at(ws, i + 1)))"
                )
            ).alias("bigram")
        )
    )
    c = pairs.groupBy("bigram").agg(F.count("*").alias("n"))
    t = c.agg(
        F.sum("n").alias("total"), F.count("*").alias("vocab2")
    )
    p = F.col("n") / (1.0 * F.col("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("vocab2", "total")
        .agg(F.round(F.sum(-p * F.log(p)), 4).alias("bigram_entropy"))
        .select(
            F.col("vocab2").alias("n_distinct_bigrams"),
            F.col("total").alias("n_bigrams"),
            "bigram_entropy",
            F.round(F.log(F.col("vocab2")), 4).alias("max_entropy"),
        )
    )


@query(
    "llm_corpus_report_card",
    oracle="""
    WITH d AS (
        SELECT doc_id, text, lang, n_chars,
               len(str_split(text, ' '))::BIGINT AS n_words
        FROM documents
    ), dup AS (
        SELECT count(*)::BIGINT AS n_docs,
               count(DISTINCT text)::BIGINT AS n_unique_texts
        FROM d
    )
    SELECT dup.n_docs,
           dup.n_unique_texts,
           round((dup.n_docs - dup.n_unique_texts)
                 / (1.0 * nullif(dup.n_docs, 0)), 6) AS dup_rate,
           (SELECT count(DISTINCT lang) FROM d)::BIGINT AS n_langs,
           (SELECT sum(n_words) FROM d)::BIGINT AS total_words,
           ((SELECT sum(n_words) FROM d)::BIGINT
               // (SELECT count(*) FROM d))::BIGINT AS words_per_doc,
           (SELECT min(n_chars) FROM d)::BIGINT AS min_chars,
           (SELECT max(n_chars) FROM d)::BIGINT AS max_chars
    FROM dup
    """,
)
def llm_corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus report card: size, exact-duplicate rate,
    language count, token volume, and length bounds — the header every
    dataset datasheet opens with, and the first thing a curation run
    prints before and after each stage. Two aggregates over one
    logical scan (plain counts plus a distinct-text count); every
    number is an exact integer or a ratio of exact integers, so the
    card is bit-stable across engines and reruns."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("long")
    card = docs.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("text").alias("n_unique_texts"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(n_words).alias("total_words"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return card.select(
        "n_docs",
        "n_unique_texts",
        F.round(
            (F.col("n_docs") - F.col("n_unique_texts"))
            / (1.0 * F.nullif(F.col("n_docs"), F.lit(0))),
            6,
        ).alias("dup_rate"),
        "n_langs",
        "total_words",
        F.floor(
            F.col("total_words") / F.nullif(F.col("n_docs"), F.lit(0))
        ).cast("long").alias("words_per_doc"),
        "min_chars",
        "max_chars",
    )


@query(
    "llm_word_cooccurrence",
    oracle="""
    WITH dw AS (
        SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS word
        FROM documents
    ), df AS (
        SELECT word, count(*)::BIGINT AS df FROM dw GROUP BY word
    ), n AS (
        SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents
    ), pairs AS (
        SELECT a.word AS word_a, b.word AS word_b,
               count(*)::BIGINT AS df_pair
        FROM dw a JOIN dw b
          ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY a.word, b.word
    )
    SELECT p.word_a, p.word_b, p.df_pair,
           round(ln((p.df_pair * n.n_docs)
                    / (1.0 * da.df * db.df)), 4) AS pmi
    FROM pairs p
    JOIN df da ON da.word = p.word_a
    JOIN df db ON db.word = p.word_b
    CROSS JOIN n
    WHERE p.df_pair >= 50
    """,
)
def llm_word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level word co-occurrence with pointwise mutual
    information: for frequently co-occurring pairs, PMI =
    ln(P(a,b)/(P(a)P(b))) — the association statistic behind collocation
    mining and the word2vec training objective (SGNS factorizes a
    shifted PMI matrix). Per-doc DISTINCT words first, so the pair
    join is O(doc_vocab²) per document — bounded by document length,
    never corpus size; the marginal-frequency sides are vocabulary-
    sized broadcasts and PMI divides exact integer counts.

    Hard bound: the pair join enumerates only each document's
    ``_COOC_MAX_DOC_VOCAB`` highest-tf distinct words (ties broken by
    word), so one pathological document with a 100k-word vocabulary
    yields at most N²/2 ≈ 5×10⁷ pairs, never ~10¹⁰. Marginal document
    frequencies (and PMI) still count the FULL vocabulary; fixture
    documents sit far below the cap, so capped and uncapped outputs
    are identical there (the DuckDB oracle is uncapped)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    # ONE tokenize shuffle feeds everything: tf's key set IS the
    # distinct (doc, word) relation, so document frequencies, the
    # capped pair input, and the marginals all derive from it without
    # a second distinct() pass over the exploded corpus.
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    tf = tf.localCheckpoint(eager=True)
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    rk = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "word")
    capped = (
        tf.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= _COOC_MAX_DOC_VOCAB)
        .select("doc_id", "word")
    )
    a = capped.select("doc_id", F.col("word").alias("word_a"))
    b = capped.select("doc_id", F.col("word").alias("word_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.count("*").alias("df_pair"))
        .where(F.col("df_pair") >= 50)
    )
    da = dfreq.select(
        F.col("word").alias("word_a"), F.col("df").alias("df_a")
    )
    db = dfreq.select(
        F.col("word").alias("word_b"), F.col("df").alias("df_b")
    )
    pmi = F.log(
        (F.col("df_pair") * F.col("n_docs"))
        / (1.0 * F.col("df_a") * F.col("df_b"))
    )
    return (
        pairs.join(_vocab_broadcast(da, sf_dir), "word_a")
        .join(_vocab_broadcast(db, sf_dir), "word_b")
        .crossJoin(F.broadcast(n))
        .select(
            "word_a",
            "word_b",
            "df_pair",
            F.round(pmi, 4).alias("pmi"),
        )
    )


@query(
    "llm_ngram_novelty",
    oracle="""
    WITH w AS (
        SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), s AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(words) - 1),
                   i -> concat_ws(' ', words[i], words[i+1], words[i+2])))
                   AS sh
        FROM w
    ), e AS (
        SELECT doc_id, unnest(sh) AS g FROM s
    ), f AS (
        SELECT g, min(doc_id) AS first_doc FROM e GROUP BY g
    )
    SELECT e.doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
           sum(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END)::DOUBLE
               / count(*) AS novelty
    FROM e JOIN f USING (g)
    GROUP BY e.doc_id
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the share of a doc's distinct
    3-word shingles whose FIRST corpus occurrence (min doc_id) is this
    doc. The curation signal behind "is this crawl snapshot adding new
    text or re-serving the corpus": boilerplate-heavy or scraped-again
    documents score near 0, genuinely new text near 1.

    Shape at 100 TB: explode to (doc_id, shingle), one partitioned
    window-min over the shingle key (state bounded per shingle group,
    no global sort), then one re-shuffle back to doc_id — the shingle
    key space is huge but hash-partitioned, exactly the inverted-index
    layout llm_inverted_index already scales. Novelty is an exact
    integer ratio (n_novel / n_shingles), so the division is
    bit-identical across engines with no rounding.

    Doctrine: sub-3-word / NULL texts yield empty shingle sets and drop
    out via the explode (no novelty row — matching unnest). NULL
    doc_ids pool into one group; min(doc_id) ignores NULL, and
    NULL = first_doc is three-valued false in both engines, so a
    NULL-id document is never credited as the first occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    e = (
        docs.withColumn("words", F.split("text", " "))
        .select(
            "doc_id", F.explode(F.expr(_STRICT_SHINGLES_EXPR)).alias("g")
        )
    )
    w = Window.partitionBy("g")
    novel = (
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("is_novel")
    )
    return (
        e.select("doc_id", novel)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("is_novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias(
                "novelty"
            ),
        )
    )
