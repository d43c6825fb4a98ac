"""Self-checks for approximate / non-SQL LLM operators (SURVEY §5.3):
ANN recall vs exact, fuzzy-dedup recall on a synthetic corpus,
approx-aggregate tolerances, fingerprint stability & locality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import pymapreduce_spark  # noqa: F401
from pymapreduce_spark.registry import QUERIES


def test_ann_recall_vs_exact(spark, sf_dir):
    """recall@5 of the LSH path vs brute force must be ≥ 0.9."""
    from pymapreduce_spark.operators.llm_vector import sim_search_ann_rich

    exact = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["llm_sim_search"](spark, sf_dir).collect()
    }
    ann_rows = sim_search_ann_rich(spark, sf_dir).collect()
    ann = {(r.query_id, r.neighbor_id) for r in ann_rows}
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.9, f"ANN recall@5 = {recall:.3f}"
    # the evidence column must agree with the exact set
    for r in ann_rows:
        assert r.in_exact_topk == ((r.query_id, r.neighbor_id) in exact), r
    # the registered summary must agree with the evidence
    for r in QUERIES["llm_sim_search_ann"](spark, sf_dir).collect():
        assert r.n_results == 5 and r.recall_ok, r


def test_fuzzy_dedup_synthetic(spark):
    """Known near-dup families must cluster together; unrelated docs
    must stay apart."""
    from pymapreduce_spark.operators.llm_text import cluster_near_duplicates

    base_a = "the quick brown fox jumps over the lazy dog near the old river bank today".split()
    base_b = "distributed query engines shuffle partition data across many worker nodes for aggregation".split()
    # family A: ids 0-2 (1-word edits of base_a); family B: ids 10-11;
    # singletons: ids 20, 21 (unrelated word sets).
    rows = [
        (0, " ".join(base_a)),
        (1, " ".join(base_a[:-1] + ["tonight"])),
        (2, " ".join(["a"] + base_a[1:])),
        (10, " ".join(base_b)),
        (11, " ".join(base_b[:-1] + ["joins"])),
        (20, "completely different text about cooking pasta with tomato sauce and fresh basil leaves"),
        (21, "astronomy telescopes observe distant galaxies through clear mountain air every winter night"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.cluster_id
        for r in cluster_near_duplicates(docs, 0.5).collect()
    }
    assert got[0] == got[1] == got[2] == 0
    assert got[10] == got[11] == 10
    assert got[20] == 20 and got[21] == 21


def test_approx_count_distinct_tolerance(spark, sf_dir):
    from pymapreduce_spark.operators.aggregates import approx_distinct_rich

    rows = approx_distinct_rich(spark, sf_dir).collect()
    for r in rows:
        rel_err = abs(r.approx_customers - r.exact_customers) / r.exact_customers
        assert rel_err <= 0.06, f"{r.o_orderstatus}: rel_err={rel_err:.3f}"
        assert r.within_tol
    # The registered query must agree with the rich frame's verdict.
    assert all(
        r.within_tol for r in QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    )


def test_percentile_approx_tolerance(spark, sf_dir):
    from pymapreduce_spark.operators.aggregates import percentile_approx_rich

    rows = percentile_approx_rich(spark, sf_dir).collect()
    for r in rows:
        rel_err = abs(r.approx_median - r.exact_median) / r.exact_median
        assert rel_err <= 0.02
        assert r.within_tol


def test_fingerprints_stable_across_runs(spark, sf_dir):
    for op in ["llm_minhash_sig", "llm_simhash", "fn_hash_spark"]:
        a = sorted(map(tuple, QUERIES[op](spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES[op](spark, sf_dir).collect()))
        assert a == b, f"{op} not stable across runs"


def test_simhash_locality(spark):
    """SimHash hamming distance: small for near-dup texts, large for
    unrelated ones."""
    from pymapreduce_spark.io import load_table  # noqa: F401

    base = "the quick brown fox jumps over the lazy dog near the old river bank today and tomorrow morning".split()
    rows = [
        (0, " ".join(base)),
        (1, " ".join(base[:-1] + ["evening"])),  # near-dup of 0
        (2, "astronomy telescopes observe distant galaxies through clear mountain air every winter night in chile"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.createOrReplaceTempView("simhash_probe_docs")
    # Same bit source as the shipped operator (md5 nibbles — the
    # engine-portable permutation llm_simhash hash-checks against
    # DuckDB), expanded to a 64-slot bit array for hamming counting.
    bits = F.expr(
        """
        transform(sequence(0, 63), j ->
            CASE WHEN aggregate(array_distinct(split(text, ' ')), 0L,
                        (acc, w) -> acc + CASE WHEN (shiftright(
                                cast(conv(substr(md5(w),
                                    cast(j DIV 4 AS INT) + 1, 1), 16, 10)
                                    AS INT),
                                j % 4) & 1) = 1
                            THEN 1 ELSE -1 END) > 0
                 THEN 1L ELSE 0L END)
        """
    )
    sigs = {r.doc_id: r.bits for r in docs.select("doc_id", bits.alias("bits")).collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])
    assert ham(sigs[0], sigs[1]) <= 16


def test_dedup_exact_groups_at_sf01(spark):
    """FIXTURES.md golden: sf0.1 has exactly 8 duplicate-text groups."""
    df = QUERIES["llm_dedup_exact"](spark, "/root/testdata/sf0.1")
    assert df.where(F.col("n_copies") > 1).count() == 8


def test_ngram_dedup_recovers_engineered_pairs_at_sf01(spark):
    """FIXTURES.md golden: sf0.1 embeds ~256 shared-prefix near-dup
    pairs; blocked n-gram Jaccard at 0.8 must recover the bulk of them,
    and every pair must actually share the 30-char prefix."""
    df = QUERIES["llm_dedup_ngram"](spark, "/root/testdata/sf0.1")
    rows = df.collect()
    assert len(rows) >= 240, len(rows)
    assert all(r.jaccard >= 0.8 for r in rows)


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF (nprobe=12/16) recall@5 vs brute force must be ≥ 0.9."""
    from pymapreduce_spark.operators.llm_vector import sim_search_ivf_rich

    exact = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["llm_sim_search"](spark, sf_dir).collect()
    }
    ivf_rows = sim_search_ivf_rich(spark, sf_dir).collect()
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.9, f"IVF recall@5 = {recall:.3f}"
    # the self-evidencing column must agree with the exact set
    for r in ivf_rows:
        assert r.in_exact_topk == ((r.query_id, r.neighbor_id) in exact), r
    # the registered hash-checked summary must read (5, true) per query
    for r in QUERIES["llm_sim_search_ivf"](spark, sf_dir).collect():
        assert r.n_results == 5 and r.recall_ok, r


def test_tfidf_ml_agrees_with_sql_form(spark, sf_dir):
    """The ml-pipeline TF-IDF and the SQL TF-IDF use different idf
    smoothing, but per-doc top terms should mostly coincide; the ml
    output must also be deterministic across runs."""
    ml_a = {r.doc_id: r.top_term for r in QUERIES["llm_tfidf_ml"](spark, sf_dir).collect()}
    ml_b = {r.doc_id: r.top_term for r in QUERIES["llm_tfidf_ml"](spark, sf_dir).collect()}
    assert ml_a == ml_b
    sql = QUERIES["llm_tfidf"](spark, sf_dir)
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    sql_top = {
        r.doc_id: r.word
        for r in sql.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    agree = sum(1 for d, t in sql_top.items() if ml_a.get(d) == t)
    assert agree / len(sql_top) >= 0.6, agree / len(sql_top)


def test_hll_mergeable_within_tolerance(spark, sf_dir):
    """Daily-sketch union must estimate distinct users within 5% of the
    exact per-type count (the driver only checks rows for this op)."""
    import pymapreduce_spark  # noqa: F401
    from pymapreduce_spark.io import load_table
    from pymapreduce_spark.registry import QUERIES
    from pyspark.sql import functions as F

    from pymapreduce_spark.operators.aggregates import hll_mergeable_rich

    approx = {
        r["event_type"]: r["approx_distinct_users"]
        for r in hll_mergeable_rich(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(0.05 * n, 2), (t, approx[t], n)


def test_frame_sample_plumbing(spark, sf_dir):
    """Frame sampling invariants: every doc appears, ≤4 frames each,
    offsets stride-aligned, frame lengths positive and ≤ frame size."""
    frames = QUERIES["llm_frame_sample"](spark, sf_dir).collect()
    docs = QUERIES["llm_text_stats"](spark, sf_dir).select("doc_id").count()
    per_doc: dict[int, int] = {}
    for r in frames:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
        assert r.byte_offset == r.frame_idx * 64
        assert 1 <= r.frame_len <= 64
        assert (r.out_w, r.out_h) == (224, 224)
    assert len(per_doc) == docs
    assert max(per_doc.values()) <= 4


def test_audio_features_match_numpy(spark, sf_dir):
    """Spot-check the vectorized feature math against a local reference."""
    import numpy as np

    rows = QUERIES["llm_audio_features"](spark, sf_dir).limit(50).collect()
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for r in rows:
        a = np.frombuffer(texts[r.doc_id].encode(), dtype=np.uint8).astype(
            np.int64
        )
        assert r.n_samples == len(a)
        assert r.peak_amp == int(a.max())
        assert abs(r.mean_amp - a.mean()) < 1e-6


def test_pack_sequences_capacity_bound(spark, sf_dir):
    """Each pack's token total stays under budget + max single doc."""
    rows = QUERIES["llm_pack_sequences"](spark, sf_dir).collect()
    packs: dict[tuple, int] = {}
    max_doc = 0
    for r in rows:
        packs[(r.source, r.pack_id)] = packs.get((r.source, r.pack_id), 0) + r.n_tokens
        max_doc = max(max_doc, r.n_tokens)
    assert all(v < 2048 + max_doc for v in packs.values())
    assert len(packs) > 1


def test_minhash_jaccard_estimate(spark, sf_dir):
    """MinHash signatures must actually estimate word-set Jaccard:
    across doc pairs, mean |estimate − exact| stays under the
    theoretical s.e. envelope for 16 hashes (~0.125) plus slack."""
    from pymapreduce_spark.registry import QUERIES

    sig: dict = {}
    for r in QUERIES["llm_minhash_sig"](spark, sf_dir).collect():
        sig.setdefault(r["doc_id"], [None] * 16)[r["sig_idx"]] = r["sig_hash"]
    docs = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    ids = sorted(docs)[:60]
    errs = []
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        exact = len(docs[a] & docs[b]) / len(docs[a] | docs[b])
        est = sum(x == y for x, y in zip(sig[a], sig[b])) / len(sig[a])
        errs.append(abs(est - exact))
    assert sum(errs) / len(errs) < 0.15, sum(errs) / len(errs)


def test_kll_sketch_quantile_tolerance(spark, duck, sf_dir):
    """KLL (k=200) merged estimates must land within ±3% rank of the
    exact quantile: estimate(q) ∈ [exact(q−.03), exact(q+.03)]."""
    from pymapreduce_spark.registry import QUERIES

    from pymapreduce_spark.operators.aggregates import sketch_quantiles_rich

    est = {
        r["l_returnflag"]: (r["p25_price"], r["p50_price"], r["p75_price"])
        for r in sketch_quantiles_rich(spark, sf_dir).collect()
    }
    for flag, (p25, p50, p75) in est.items():
        for q, v in ((0.25, p25), (0.5, p50), (0.75, p75)):
            lo, hi = duck.execute(
                """
                SELECT quantile_cont(l_extendedprice, ?),
                       quantile_cont(l_extendedprice, ?)
                FROM lineitem WHERE l_returnflag = ?
                """,
                [max(q - 0.03, 0.0), min(q + 0.03, 1.0), flag],
            ).fetchone()
            assert lo <= v <= hi, (flag, q, v, lo, hi)


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def test_knn_self_join_scale_guard(spark, sf_dir, monkeypatch):
    """Above _KNN_TILE_ROWS the kNN self-join must NOT collect the
    whole corpus to the driver — it scans one bounded tile broadcast at
    a time and merges a running best-5. Tiling is exact, so forced to
    several tiles the output must equal the single-tile result row for
    row, cosines included."""
    from pymapreduce_spark.io import table_row_count
    from pymapreduce_spark.operators import llm_vector
    from pymapreduce_spark.registry import QUERIES

    one_tile = _rows(QUERIES["llm_knn_self_join"](spark, sf_dir))
    n = table_row_count(sf_dir, "embeddings")
    monkeypatch.setattr(llm_vector, "_KNN_TILE_ROWS", -(-n // 3))
    assert _rows(QUERIES["llm_knn_self_join"](spark, sf_dir)) == one_tile
    assert len(one_tile) == 5 * n


def test_dedup_embed_scale_guard(spark, duck, sf_dir, monkeypatch):
    """llm_dedup_embed runs one exact path at every size, the tile
    scan: as one tile and forced over three, it must equal the DuckDB
    oracle row for row, cosines included."""
    from pymapreduce_spark.io import table_row_count
    from pymapreduce_spark.operators import llm_vector
    from pymapreduce_spark.registry import ORACLES
    from pymapreduce_spark.testing import compare_frames

    oracle = ORACLES["llm_dedup_embed"]
    compare_frames("one tile", llm_vector.llm_dedup_embed(spark, sf_dir),
                   duck, oracle)
    n = table_row_count(sf_dir, "embeddings")
    monkeypatch.setattr(llm_vector, "_KNN_TILE_ROWS", -(-n // 3))
    compare_frames("three tiles", llm_vector.llm_dedup_embed(spark, sf_dir),
                   duck, oracle)


def test_knn_self_join_construction_jobs(spark, sf_dir, monkeypatch):
    """Building either tile-scan op (llm_knn_self_join, llm_dedup_embed)
    runs only the tile scan's eager side jobs, and neither plan holds a
    BroadcastNestedLoopJoin. A single-tile corpus runs exactly one job,
    the tile fetch, and persists nothing: no cache, merge or checkpoint.
    A forced 3-tile build runs, per tile, one fetch and one checkpoint
    of the merged output. The kNN merge's best-5 window shuffle runs as
    its own job under AQE, so the kNN build runs 3 jobs per tile; the
    near-dup pairs merge without a shuffle, 2 jobs per tile."""
    from pymapreduce_spark.io import table_row_count
    from pymapreduce_spark.operators import llm_vector

    sc = spark.sparkContext
    llm_vector.load_embeddings(spark, sf_dir)  # warm the canonicalization memo
    n = table_row_count(sf_dir, "embeddings")

    def build_jobs(op, group):
        sc.setJobGroup(group, group)
        try:
            df = op(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, (group, plan)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for op, jobs_per_tile in (
        (llm_vector.llm_knn_self_join, 3),
        (llm_vector.llm_dedup_embed, 2),
    ):
        name = op.__name__
        cached = sc._jsc.getPersistentRDDs().size()
        assert build_jobs(op, f"{name}-one-tile") == 1
        assert sc._jsc.getPersistentRDDs().size() == cached  # nothing persisted
        with monkeypatch.context() as m:
            m.setattr(llm_vector, "_KNN_TILE_ROWS", -(-n // 3))
            assert build_jobs(op, f"{name}-three-tiles") == 3 * jobs_per_tile


def test_semdedup_blocked_gemm_matches_oneshot(spark, sf_dir, monkeypatch):
    """A skewed cluster must not materialize an n×n similarity matrix:
    past _GEMM_BLOCK_ELEMS the pair kernel switches to row-blocked
    GEMMs. Force every fixture cluster over the bound and require the
    blocked path's output to be IDENTICAL to the one-shot GEMM."""
    from pymapreduce_spark.operators import llm_vector
    from pymapreduce_spark.registry import QUERIES

    oneshot = sorted(
        tuple(r) for r in QUERIES["llm_semdedup"](spark, sf_dir).collect()
    )
    # block = max(1, 4 // n) = 1 for any real cluster → fully blocked
    monkeypatch.setattr(llm_vector, "_GEMM_BLOCK_ELEMS", 4)
    blocked = sorted(
        tuple(r) for r in QUERIES["llm_semdedup"](spark, sf_dir).collect()
    )
    assert blocked == oneshot
    assert any(r[2] for r in blocked)  # fixture has semantic near-dups


def test_word_cooccurrence_vocab_cap(spark, sf_dir, tmp_path, monkeypatch):
    """The pair self-join must enumerate only each document's top-N
    distinct words by tf: force the cap to 3 on a pathological doc with
    a large vocabulary and check the join input stays bounded while a
    tame doc's pairs survive intact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pymapreduce_spark.operators import llm_text

    # doc 1: 40 distinct words (pathological); doc 2: 3 words, of which
    # {aa, bb} are the shared high-tf pair with doc 1
    big = " ".join(f"w{i:02d}" for i in range(40))
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2], type=pa.int64()),
            "text": pa.array(
                [f"aa aa aa bb bb {big}", "aa aa bb bb cc"],
                type=pa.string(),
            ),
            "lang": pa.array(["en", "en"], type=pa.string()),
            "n_chars": pa.array([10, 10], type=pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(llm_text, "_COOC_MAX_DOC_VOCAB", 3)

    from pymapreduce_spark.io import load_table

    words = load_table(spark, str(tmp_path), "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    from pyspark.sql import Window

    rk = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "word")
    capped = (
        tf.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= llm_text._COOC_MAX_DOC_VOCAB)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    per_doc = {r["doc_id"]: r["n"] for r in capped}
    # the 42-word doc contributes at most 3 words to the pair join
    assert per_doc == {1: 3, 2: 3}, per_doc

    # end-to-end through the operator: executes under the forced cap
    # (two docs sit below the df_pair >= 50 reporting threshold, so the
    # result is empty — the point is the capped path runs, bounded)
    out = llm_text.llm_word_cooccurrence(spark, str(tmp_path))
    assert out.count() == 0


def test_vocab_broadcast_gate(spark, sf_dir, monkeypatch):
    """Word-keyed marginals (doc-frequency / IDF / unigram tables) must
    carry a broadcast hint ONLY while the corpus row count is under
    _VOCAB_BROADCAST_MAX_DOCS — an explicit hint is honored by the
    planner regardless of size, so above the bound the relation must be
    returned un-hinted and the join strategy left to AQE."""
    from pymapreduce_spark.io import load_table
    from pymapreduce_spark.operators import llm_text

    docs = load_table(spark, sf_dir, "documents")
    dfreq = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )

    # fixture corpus is far below the bound → the hint is applied
    hinted = llm_text._vocab_broadcast(dfreq, sf_dir)
    assert hinted is not dfreq
    logical = hinted._jdf.queryExecution().logical().toString()
    assert "broadcast" in logical.lower(), logical

    # above the bound → the relation comes back untouched (no hint node)
    monkeypatch.setattr(llm_text, "_VOCAB_BROADCAST_MAX_DOCS", 0)
    assert llm_text._vocab_broadcast(dfreq, sf_dir) is dfreq

    # end-to-end with the gate forced shut: llm_tfidf still returns the
    # same rows — the hint is a strategy, never a semantics, choice
    gated_off = {
        (r.doc_id, r.word): r.tfidf
        for r in llm_text.llm_tfidf(spark, sf_dir)
        .where(F.col("doc_id") < 50)
        .collect()
    }
    monkeypatch.setattr(llm_text, "_VOCAB_BROADCAST_MAX_DOCS", 2_000_000)
    gated_on = {
        (r.doc_id, r.word): r.tfidf
        for r in llm_text.llm_tfidf(spark, sf_dir)
        .where(F.col("doc_id") < 50)
        .collect()
    }
    assert gated_off == gated_on


def test_knn_tiled_path_matches_exact(spark, sf_dir, monkeypatch):
    """The tile scan is EXACT, not an approximation: forced to 4 tiles
    AND to GEMM row blocks of 7 queries, the kNN self-join must
    reproduce its single-tile, single-block result row for row (same
    tie-break, same rounding) — neither tile nor block boundaries may
    move a neighbor or a cosine."""
    from pymapreduce_spark.io import table_row_count
    from pymapreduce_spark.operators import llm_vector as lv

    exact = _rows(lv.llm_knn_self_join(spark, sf_dir))
    n = table_row_count(sf_dir, "embeddings")
    tile_rows = max(1, n // 4)
    monkeypatch.setattr(lv, "_KNN_TILE_ROWS", tile_rows)
    monkeypatch.setattr(lv, "_GEMM_BLOCK_ELEMS", 7 * tile_rows)
    assert _rows(lv.llm_knn_self_join(spark, sf_dir)) == exact


def test_tiled_paths_tolerate_empty_tiles(spark, sf_dir, tmp_path, monkeypatch):
    """n_tiles derives from the parquet FOOTER count while tiles draw
    from the filtered/canonicalized set — a tile can be empty (heavy
    dup-id collapse, NULL filters). A 20-row corpus hashed over 20
    tiles leaves several empty: both tile-scan operators must skip
    them, and as one tile and as 20 each must equal its DuckDB
    oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pymapreduce_spark.io import table_path
    from pymapreduce_spark.operators import llm_vector as lv
    from pymapreduce_spark.registry import ORACLES
    from pymapreduce_spark.testing import compare_frames

    # 20 vectors holding some of the fixture's >= 0.45 pairs, so the
    # near-dup scan has pairs to find
    pairs = lv.llm_dedup_embed(spark, sf_dir).orderBy("vec_a", "vec_b")
    ids = sorted({v for r in pairs.limit(4).collect() for v in r[:2]})
    full = pq.read_table(table_path(sf_dir, "embeddings"))
    ids += [
        v for v in sorted(full.column("vec_id").to_pylist()) if v not in ids
    ][: 20 - len(ids)]
    small = full.filter(pc.is_in(full.column("vec_id"), pa.array(ids)))
    pq.write_table(small, str(tmp_path / "embeddings.parquet"))
    small_dir = str(tmp_path)
    n_hit = (
        spark.createDataFrame([(v,) for v in ids], "vec_id bigint")
        .select(F.pmod(F.xxhash64("vec_id"), F.lit(20)).alias("t"))
        .distinct()
        .count()
    )
    assert n_hit < 20  # some of the 20 tiles are empty

    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )

    def check(tag):
        for name in ("llm_knn_self_join", "llm_dedup_embed"):
            compare_frames(f"{name} {tag}", QUERIES[name](spark, small_dir),
                           duck, ORACLES[name])

    try:
        check("one tile")
        monkeypatch.setattr(lv, "_KNN_TILE_ROWS", 1)
        check("20 tiles")
    finally:
        duck.close()
