"""Adversarial-input regression tests: NULL-injected and skewed
fixtures, differentially checked against DuckDB on the operators those
audits originally caught.

The round-5 audits ran the FULL 301-query differential on three
adversarial fixtures (all-empty tables, heavy key skew + duplicate
texts, NULL injection into nullable columns) and found:

- NULLs: pandas-UDF ``astype("int64")`` crashes on the NaN a NULL
  arrives as; facade lambdas crashing on None; null-UNSAFE joins
  silently dropping the NULL group (hll merge, batch/stream compare,
  compaction bin lookup); Spark NULLS FIRST vs DuckDB NULLS LAST window
  default; ``count_distinct`` skipping NULL keys; a DuckDB oracle
  crashing on NULL list elements (ewma — both engines now exclude NULL
  observations from the series).
- Skew: the multimodal oracles trusted the ``n_chars`` column while the
  operators measured the payload — two sources of truth.
- Unicode: the multimodal oracles extracted per-CHARACTER codepoints
  (``ascii``/``substring``) where the operators read payload BYTES —
  identical on ASCII only; DuckDB's ``text::BLOB`` cast also rejects
  non-ASCII outright, and squaring an emoji codepoint overflowed INT32.
  The oracles are now byte-exact via ``hex(encode(text))``.

Full-surface sweeps live in the round audits (too slow for CI); these
tests pin the specific fixed operators, which is where regressions
would reappear.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import ADVERSARIAL_SRC as SRC

from pymapreduce_spark.io import TABLES
from pymapreduce_spark.testing import (
    duck_rows, make_duckdb, oracle_mismatches, spark_rows,
)

#: operators the NULL audit caught (crash or divergence), now fixed
NULL_OPS = [
    "agg_hll_mergeable", "api_pipeline", "api_secondary_sort",
    "etl_compact_plan", "etl_compact_execute", "stream_unified_api",
    "ts_ewma", "udaf_pandas_agg", "udf_map_partitions",
]

#: operators the skew audit caught (oracle trusted n_chars), now fixed
SKEW_OPS = ["llm_frame_sample", "llm_multimodal_decode"]

#: operators the unicode audit caught (char-level oracles), now fixed
UNICODE_OPS = [
    "llm_frame_sample", "llm_multimodal_decode", "llm_audio_features",
    "llm_text_stats", "llm_tokenize_wordcount", "fn_string",
]


def _nullify(table: pa.Table, col: str, frac: float, rng) -> pa.Table:
    arr = table[col].to_pylist()
    for i in rng.choice(len(arr), size=max(1, int(len(arr) * frac)),
                        replace=False):
        arr[i] = None
    t = table.schema.field(col).type
    return table.set_column(
        table.schema.get_field_index(col), col, pa.array(arr, type=t)
    )


@pytest.fixture(scope="module")
def nulls_sf(tmp_path_factory) -> str:
    rng = np.random.RandomState(42)
    plans = {
        "events": [("value", 0.10), ("event_type", 0.05)],
        "documents": [("lang", 0.10)],
        "customer": [("c_acctbal", 0.10), ("c_mktsegment", 0.05)],
        "part": [("p_size", 0.05)],
        "orders": [("o_orderpriority", 0.05)],
        "lineitem": [("l_shipdate", 0.02), ("l_discount", 0.05)],
    }
    base = tmp_path_factory.mktemp("sf_nulls")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        for col, frac in plans.get(t, []):
            tb = _nullify(tb, col, frac, rng)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def skew_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_skew")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":  # a third of the corpus is ONE exact text
            tx = tb["text"].to_pylist()
            for i in range(0, len(tx), 3):
                tx[i] = tx[0]
            tb = tb.set_column(
                tb.schema.get_field_index("text"), "text",
                pa.array(tx, type=tb.schema.field("text").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_unicode")
    inserts = [
        "数据 处理 引擎 大规模 分析", "café résumé naïve Zürich",
        "🚀 emoji test 🎉 data 🔥", "Привет мир обработка данных",
    ]
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            tx = tb["text"].to_pylist()
            for i in range(0, len(tx), 5):
                words = tx[i].split(" ")
                extra = inserts[(i // 5) % len(inserts)].split(" ")
                tx[i] = " ".join(words[:3] + extra + words[3:])
            tb = tb.set_column(
                tb.schema.get_field_index("text"), "text",
                pa.array(tx, type=tb.schema.field("text").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_null_injected_fixture_matches_oracle(spark, nulls_sf):
    bad = oracle_mismatches(spark, nulls_sf, NULL_OPS)
    assert not bad, "NULL-input divergence:\n" + "\n".join(bad)


def test_skewed_fixture_matches_oracle(spark, skew_sf):
    bad = oracle_mismatches(spark, skew_sf, SKEW_OPS)
    assert not bad, "skew-input divergence:\n" + "\n".join(bad)


def test_unicode_fixture_matches_oracle(spark, unicode_sf):
    bad = oracle_mismatches(spark, unicode_sf, UNICODE_OPS)
    assert not bad, "unicode-input divergence:\n" + "\n".join(bad)


#: operators the round-6 COMBINED-axis audit caught (skew + NULLs +
#: unicode in one rebuild, including NULL text inside skewed groups of
#: non-ASCII text — an interaction no per-axis fixture produces, since
#: the per-axis NULL plan never nullified documents.text), now fixed:
#: .split()/.encode()/len() on None in Python UDF paths, MLlib
#: Tokenizer on NULL input, element_at(frame, 0) on an all-NULL window
#: frame, corpus stats (n_docs/avgdl) counting token-free docs on one
#: engine only, and the text sink's NULL→'' lossy round trip.
COMBINED_OPS = [
    "api_wordcount", "udtf_python", "llm_lang_id", "llm_lang_agreement",
    "llm_bm25", "llm_query_doc_match", "llm_minhash_sig", "scan_text",
    "win_rolling_median", "llm_multimodal_decode", "llm_frame_sample",
    "llm_audio_features",
    # interaction coverage beyond the original catches: exact-copy +
    # low-norm embeddings exercise the semdedup self-similarity gate
    "llm_semdedup",
]

#: fixed ops with no SQL oracle: no-crash is the pinned contract
COMBINED_ROWS_ONLY = ["llm_tfidf_ml"]


@pytest.fixture(scope="module")
def combined_sf(tmp_path_factory) -> str:
    """All three axes in ONE rebuild, with interactions: the skewed
    document text is unicode-rich AND NULLed inside the skewed
    pattern; events get a giant user group containing NULL event_type
    rows; embeddings get unit-norm exact-copy skew plus LOW-NORM exact
    copies (self-cosine below the semdedup threshold)."""
    rng = np.random.RandomState(20260814)
    base = tmp_path_factory.mktemp("sf_combined")
    null_plans = {
        "events": [("value", 0.10), ("event_type", 0.05)],
        "documents": [("lang", 0.10)],
        "customer": [("c_acctbal", 0.10), ("c_mktsegment", 0.05)],
        "part": [("p_size", 0.05)],
        "orders": [("o_orderpriority", 0.05)],
        "lineitem": [("l_shipdate", 0.02), ("l_discount", 0.05)],
    }
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            tx = tb["text"].to_pylist()
            tx[0] = "数据 引擎 🚀 café " + tx[0] + " Привет 🎉"
            for i in range(0, len(tx), 3):
                tx[i] = tx[0]
            for i in range(0, len(tx), 21):
                tx[i] = None
            for i in range(5, len(tx), 23):
                tx[i] = None
            tb = tb.set_column(
                tb.schema.get_field_index("text"), "text",
                pa.array(tx, type=pa.string()),
            )
        if t == "events":
            uid = tb["user_id"].to_pylist()
            for i in range(0, len(uid), 3):
                uid[i] = uid[0]
            tb = tb.set_column(
                tb.schema.get_field_index("user_id"), "user_id",
                pa.array(uid, type=pa.int64()),
            )
        if t == "embeddings":
            emb = tb["embedding"].to_pylist()
            low = [x * 0.1 for x in emb[1]]
            emb[1] = low
            for i in range(11, len(emb), 17):
                emb[i] = list(low)
            for i in range(3, len(emb), 3):
                emb[i] = list(emb[0])
            tb = tb.set_column(
                tb.schema.get_field_index("embedding"), "embedding",
                pa.array(emb, type=tb.schema.field("embedding").type),
            )
        for col, frac in null_plans.get(t, []):
            tb = _nullify(tb, col, frac, rng)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_combined_fixture_matches_oracle(spark, combined_sf):
    bad = oracle_mismatches(spark, combined_sf, COMBINED_OPS)
    assert not bad, "combined-axis divergence:\n" + "\n".join(bad)


def test_combined_fixture_rows_only_execute(spark, combined_sf):
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in COMBINED_ROWS_ONLY:
        queries[name](spark, combined_sf).collect()


#: round-7 sweep: every llm/ts/graph op that had never earned a driver
#: CORRECTNESS row as of round 6 (the backlog where the next defect
#: cluster would hide — the r6 combined axis found 13 defects in ops
#: the per-axis fixtures passed). All 34 were audited green on the
#: combined fixture first; this pins them against regression.
COMBINED_BACKLOG_OPS = [
    "llm_event_pattern", "llm_simhash", "llm_tfidf_ml",
    "llm_bpe_merge_step", "llm_stopword_candidates", "llm_length_bands",
    "llm_vocab_coverage", "llm_boilerplate_share", "llm_feature_hashing",
    "llm_keyword_extraction", "llm_query_doc_match", "llm_lang_agreement",
    "llm_ngram_entropy", "llm_corpus_report_card", "llm_word_cooccurrence",
    "ts_interpolate_linear", "ts_anomaly_zscore", "ts_rolling_corr",
    "ts_seasonal_naive", "ts_calendar_features", "ts_sessionized_revenue",
    "ts_wow_growth", "ts_cumulative_users", "ts_peak_detection", "ts_rsi",
    "ts_time_to_event", "ts_minmax_normalize", "ts_weekend_lift",
    "ts_repurchase_gap", "ts_burst_detection", "ts_max_drawdown",
    "graph_triangles", "graph_bfs_distance", "graph_common_neighbors",
]


def test_combined_fixture_backlog_ops_match_oracle(spark, combined_sf):
    bad = oracle_mismatches(spark, combined_sf, COMBINED_BACKLOG_OPS)
    assert not bad, "combined-axis backlog divergence:\n" + "\n".join(bad)


#: operators the round-6 DEGENERATE-input audit caught (empty-string /
#: whitespace-only / single-char / 20k-word documents, plus extreme
#: but in-envelope event values incl. -0.0 and the 0.005 half-cent
#: tie), now fixed: O(words²) bigram recompute past an explode (JVM
#: OOM on ONE 20k-word doc), unclamped shingle indices + 0/0 Jaccard
#: under ANSI, divide-by-zero on token-free text, '0x'::INT on empty
#: payloads, empty-clip audio stats, pandas/Arrow half-to-even cents
#: vs the engines' half-away round(), and IEEE -0.0 surviving DuckDB
#: aggregates where Spark normalizes it.
DEGENERATE_OPS = [
    "llm_repetition_filter", "llm_dedup_ngram", "llm_token_count",
    "llm_boilerplate_share", "llm_multimodal_decode", "llm_frame_sample",
    "llm_audio_features", "udaf_pandas_agg", "udf_map_arrow",
    "udf_map_partitions", "ts_ewma", "ts_resample_ohlc",
]


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_degenerate")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            tx = tb["text"].to_pylist()
            tx[2] = ""
            tx[7] = " "
            tx[12] = "   "
            tx[17] = "x"
            tx[22] = "a " * 20000 + "b"
            tx[27] = "same same same same"
            tb = tb.set_column(
                tb.schema.get_field_index("text"), "text",
                pa.array(tx, type=pa.string()),
            )
        if t == "events":
            v = tb["value"].to_pylist()
            v[0] = 1.0e6
            v[1] = -1.0e6
            v[2] = 1.0e-09
            v[3] = -0.0
            v[4] = 0.005  # exact half-cent: the round-half tie
            tb = tb.set_column(
                tb.schema.get_field_index("value"), "value",
                pa.array(v, type=pa.float64()),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_degenerate_fixture_matches_oracle(spark, degenerate_sf):
    bad = oracle_mismatches(spark, degenerate_sf, DEGENERATE_OPS)
    assert not bad, "degenerate-input divergence:\n" + "\n".join(bad)


#: operators the round-6 TIMESTAMP-extreme audit caught (pre-1970
#: events, century-distant outliers, 30 events sharing one
#: microsecond), now fixed: Spark's watermark starts at epoch 0 so
#: pre-1970 events are born late and dropped by every watermarked
#: stateful op (their batch oracles now drop them too); the sliding
#: oracle's `//` truncated toward zero on negative epochs and
#: mis-aligned pre-epoch window starts by one slide (now a floor
#: alignment via non-negative modulus); pandas Timestamp subtraction
#: overflows its ±292-year ns Timedelta on a user's 300-year event
#: span (now datetime subtraction).
TS_EXTREME_OPS = [
    "stream_sliding", "stream_dedup", "stream_watermark",
    "api_secondary_sort",
    # tie-break determinism coverage: 30 equal-microsecond events
    "ts_resample_ohlc", "win_rolling_median", "llm_sessionize",
]


@pytest.fixture(scope="module")
def ts_extreme_sf(tmp_path_factory) -> str:
    import datetime

    base = tmp_path_factory.mktemp("sf_tsx")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            ts = tb["ts"].to_pylist()
            ts[0] = datetime.datetime(1969, 12, 31, 23, 30, 0)
            ts[1] = datetime.datetime(1900, 6, 15, 12, 34, 56, 789012)
            ts[2] = datetime.datetime(2200, 1, 1, 0, 0, 0)
            tie = datetime.datetime(2024, 1, 3, 7, 7, 7, 123456)
            for i in range(10, 40):
                ts[i] = tie
            tb = tb.set_column(
                tb.schema.get_field_index("ts"), "ts",
                pa.array(ts, type=tb.schema.field("ts").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_ts_extreme_fixture_matches_oracle(spark, ts_extreme_sf):
    bad = oracle_mismatches(spark, ts_extreme_sf, TS_EXTREME_OPS)
    assert not bad, "ts-extreme divergence:\n" + "\n".join(bad)


#: operators the round-6 MALFORMED-JSON audit caught (broken /
#: truncated / empty / NULL / wrong-typed / array-shaped props), now
#: fixed: DuckDB json functions ERROR on invalid JSON and plain ::INT
#: errors on non-numeric tokens where Spark yields NULL — oracles now
#: guard with json_valid + TRY_CAST; Spark side uses try_cast (ANSI
#: CAST_INVALID_INPUT otherwise) and try_parse_json (parse_json
#: throws). Raw-token extraction of out-of-int64 numerics and
#: booleans is engine-defined (both engines re-serialize differently)
#: and deliberately NOT part of the contract.
JSON_OPS = ["fn_json", "fn_json_agg", "fn_variant", "scan_jsonl_nested"]


@pytest.fixture(scope="module")
def json_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_json")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            p = tb["props"].to_pylist()
            p[0] = "not json at all"
            p[1] = '{"k": '
            p[2] = ""
            p[3] = None
            p[4] = '{"k": "string-not-int"}'
            p[5] = '{"K": 5}'
            p[6] = '{"k": null}'
            p[7] = '[1, 2, 3]'
            p[8] = '{"m": 7}'
            p[9] = '{"k": {"nested": {"deep": 1}}}'
            tb = tb.set_column(
                tb.schema.get_field_index("props"), "props",
                pa.array(p, type=pa.string()),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_malformed_json_fixture_matches_oracle(spark, json_sf):
    bad = oracle_mismatches(spark, json_sf, JSON_OPS)
    assert not bad, "malformed-JSON divergence:\n" + "\n".join(bad)


#: round-6 ORPHAN-FK audit: broken referential integrity (lineitem →
#: missing orders/parts, orders → missing customers) went 301/301 on
#: first contact — inner joins drop orphans, outer joins NULL-extend
#: them, semi/anti and the decorrelated TPC-H shapes agree, and
#: etl_fk_integrity REPORTS the violations identically on both
#: engines. This pin keeps the representative ops green.
FK_OPS = [
    "join_inner_equi", "join_left", "join_full", "join_anti",
    "etl_fk_integrity", "q13_customer_distribution",
    "q22_sales_opportunity", "join_coverage_report",
]


@pytest.fixture(scope="module")
def orphan_fk_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_fk")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "lineitem":
            ok = tb["l_orderkey"].to_pylist()
            pk = tb["l_partkey"].to_pylist()
            for i in range(0, len(ok), 50):
                ok[i] = 99_000_000 + i
            for i in range(7, len(pk), 60):
                pk[i] = 98_000_000 + i
            tb = tb.set_column(
                tb.schema.get_field_index("l_orderkey"), "l_orderkey",
                pa.array(ok, type=pa.int64()))
            tb = tb.set_column(
                tb.schema.get_field_index("l_partkey"), "l_partkey",
                pa.array(pk, type=pa.int64()))
        if t == "orders":
            ck = tb["o_custkey"].to_pylist()
            for i in range(3, len(ck), 40):
                ck[i] = 97_000_000 + i
            tb = tb.set_column(
                tb.schema.get_field_index("o_custkey"), "o_custkey",
                pa.array(ck, type=pa.int64()))
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_orphan_fk_fixture_matches_oracle(spark, orphan_fk_sf):
    bad = oracle_mismatches(spark, orphan_fk_sf, FK_OPS)
    assert not bad, "orphan-FK divergence:\n" + "\n".join(bad)


#: round-7 NULL-EMBEDDING axis (r6 advisor finding): NULL vectors in
#: the embeddings table hit three distinct semdedup paths — a NULL
#: SEED's cosine must sort LAST in the Spark least() fold exactly as
#: the oracle's ORDER BY cos DESC NULLS LAST does (Spark struct
#: comparison otherwise sorts a NULL field FIRST and the NULL seed
#: wins every assignment), the pair kernel's np.vstack must not see
#: None rows, and exact copies of a NULL vector must yield is_dup =
#: false (not NULL) through the null-safe membership join + coalesced
#: selfdup conjunct.
NULL_EMBED_OPS = ["llm_semdedup"]


@pytest.fixture(scope="module")
def null_embed_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_null_embed")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "embeddings":
            emb = tb["embedding"].to_pylist()
            # a NULL SEED (vec_id < 8) — the least()-fold ordering case
            emb[2] = None
            # NULL rows in the corpus, incl. adjacent "exact copies" of
            # the NULL vector (one groupBy(v) group in the collapse arm)
            for i in range(50, len(emb), 37):
                emb[i] = None
            # exact-copy mass so the adaptive gate picks the COLLAPSE
            # arm (distinct vectors < 98% of rows) and the null-safe
            # membership join is actually on the executed path
            for i in range(9, len(emb), 3):
                emb[i] = list(emb[0])
            tb = tb.set_column(
                tb.schema.get_field_index("embedding"), "embedding",
                pa.array(emb, type=tb.schema.field("embedding").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_null_embedding_fixture_matches_oracle(spark, null_embed_sf):
    bad = oracle_mismatches(spark, null_embed_sf, NULL_EMBED_OPS)
    assert not bad, "NULL-embedding divergence:\n" + "\n".join(bad)


#: round-7 TOTAL-TIE axis: constant measure columns + hour-quantized
#: event times violate the "ordering keys are effectively unique"
#: politeness assumption everywhere at once. Caught: ANSI Spark throws
#: DIVIDE_BY_ZERO even on DOUBLE division (corr's internal m2 ratio,
#: agg_regression's normal-equation determinant — both 0/0 on a
#: zero-variance group) where DuckDB yields NULL, and bare
#: max_by/min_by picks an engine-arbitrary row among tied ordering
#: values (fixed with a total struct ordering key).
TIE_OPS = ["agg_stats", "agg_regression", "agg_minmax_by"]


@pytest.fixture(scope="module")
def ties_sf(tmp_path_factory) -> str:
    import pyarrow.compute as pc

    base = tmp_path_factory.mktemp("sf_ties")

    def const_col(tb, col, value):
        t = tb.schema.field(col).type
        return tb.set_column(
            tb.schema.get_field_index(col), col,
            pa.array([value] * len(tb), type=t),
        )

    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            tb = const_col(tb, "value", 50.0)
            ts = tb["ts"]
            if pa.types.is_integer(ts.type):
                hour = 3_600_000_000_000
                q = pc.multiply(
                    pc.divide(ts.combine_chunks(), hour), hour
                )
                tb = tb.set_column(
                    tb.schema.get_field_index("ts"), "ts",
                    q.cast(ts.type),
                )
            else:
                import pandas as pd  # noqa: F401
                s = ts.to_pandas().dt.floor("h")
                tb = tb.set_column(
                    tb.schema.get_field_index("ts"), "ts",
                    pa.Array.from_pandas(s, type=ts.type),
                )
        if t == "lineitem":
            tb = const_col(tb, "l_quantity", 25.0)
            tb = const_col(tb, "l_extendedprice", 1000.0)
            tb = const_col(tb, "l_discount", 0.05)
        if t == "orders":
            tb = const_col(tb, "o_totalprice", 100000.0)
        if t == "embeddings":
            tb = const_col(tb, "label", 5)
        if t == "customer":
            tb = const_col(tb, "c_acctbal", 1000.0)
        if t == "part":
            tb = const_col(tb, "p_size", 25)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_total_tie_fixture_matches_oracle(spark, ties_sf):
    bad = oracle_mismatches(spark, ties_sf, TIE_OPS)
    assert not bad, "total-tie divergence:\n" + "\n".join(bad)


#: round-7 DUPLICATE-KEY axis: dimension tables get a slice of rows
#: re-appended with the SAME primary keys but different attributes
#: (a CDC feed applied twice / late-arriving dim update). Caught: the
#: facade's reduce-side join picked names.iloc[0] — an engine-arbitrary
#: survivor among duplicate nation rows — and the map-side join's
#: broadcast {key: name} dict kept whichever duplicate it saw last,
#: where the SQL join fans out over all of them.
DUPKEY_OPS = ["api_reduce_side_join", "api_map_side_join"]


@pytest.fixture(scope="module")
def dupkeys_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_dupkeys")

    def dup_slice(tb, every, mutate):
        rows = tb.to_pylist()
        extra = []
        for i in range(0, len(rows), every):
            r = dict(rows[i])
            mutate(r)
            extra.append(r)
        return pa.Table.from_pylist(rows + extra, schema=tb.schema)

    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "region":
            tb = dup_slice(
                tb, len(tb),
                lambda r: r.update(r_name=(r["r_name"] or "") + "_DUP"),
            )
        if t == "nation":
            tb = dup_slice(
                tb, max(1, len(tb) // 3),
                lambda r: r.update(
                    n_regionkey=(r["n_regionkey"] + 1) % 5,
                    n_name=(r["n_name"] or "") + "_DUP",
                ),
            )
        if t == "supplier":
            tb = dup_slice(
                tb, 20,
                lambda r: r.update(
                    s_acctbal=(r["s_acctbal"] or 0.0) + 1000.0
                ),
            )
        if t == "customer":
            tb = dup_slice(
                tb, 20,
                lambda r: r.update(c_mktsegment="DUPLICATE"),
            )
        if t == "part":
            tb = dup_slice(
                tb, 20,
                lambda r: r.update(
                    p_retailprice=(r["p_retailprice"] or 0.0) / 2
                ),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_dupkey_fixture_matches_oracle(spark, dupkeys_sf):
    bad = oracle_mismatches(spark, dupkeys_sf, DUPKEY_OPS)
    assert not bad, "dup-key divergence:\n" + "\n".join(bad)


#: round-7 DUPLICATE-FACT-KEY axis: event_id/doc_id/vec_id collisions
#: with DIFFERENT payloads (id collision across sources). The seven
#: per-row ops below diverged because an id-keyed internal stage
#: silently assumed uniqueness (oracles pooling words GROUP BY doc_id,
#: 2x2 join-back fanouts, first(dl) collapsing collisions, a stream
#: dedup key dropping one of two different events) — all now keyed on
#: a synthetic per-row id / the full delivery identity. The
#: entity-keyed algorithms (graph, kNN/ANN/IVF, semdedup, fuzzy dedup,
#: LSH diagnostics) REQUIRE unique entity ids by documented contract
#: (README robustness doctrine) and are deliberately not pinned here.
DUPFACT_OPS = [
    "llm_simhash", "llm_minhash_sig", "llm_fingerprint",
    "llm_repetition_filter", "llm_bm25", "llm_query_doc_match",
    "stream_dedup",
]


@pytest.fixture(scope="module")
def dupfact_sf(tmp_path_factory) -> str:
    import datetime

    base = tmp_path_factory.mktemp("sf_dupfact")

    def dup_mut(tb, every, mutate):
        rows = tb.to_pylist()
        extra = []
        for i in range(0, len(rows), every):
            r = dict(rows[i])
            mutate(r, i)
            extra.append(r)
        return pa.Table.from_pylist(rows + extra, schema=tb.schema)

    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            def mut_e(r, i):
                r["event_type"] = "collision"
                r["value"] = (r["value"] or 0.0) + 7.25
                if r["ts"] is not None:
                    r["ts"] = (
                        r["ts"] + 3_600_000_000_000
                        if isinstance(r["ts"], int)
                        else r["ts"] + datetime.timedelta(hours=1)
                    )
            tb = dup_mut(tb, 25, mut_e)
        if t == "documents":
            def mut_d(r, i):
                r["text"] = "colliding doc id payload " + str(i)
                r["n_chars"] = len(r["text"])
            tb = dup_mut(tb, 25, mut_d)
        if t == "lineitem":
            def mut_l(r, i):
                r["l_quantity"] = 13.0
                r["l_returnflag"] = "C"
            tb = dup_mut(tb, 50, mut_l)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_dupfact_fixture_matches_oracle(spark, dupfact_sf):
    bad = oracle_mismatches(spark, dupfact_sf, DUPFACT_OPS)
    assert not bad, "dup-fact-key divergence:\n" + "\n".join(bad)


#: round-7 ROW-ORDER-SHUFFLE axis: all tables randomly permuted
#: (content identical). 301/301 green on first contact — pinned here
#: on the ops whose order-invariance is non-trivial by construction:
#: the monotonically_increasing_id consumers (rid values change with
#: layout, results must not), the tie-broken argmax, the facade joins,
#: the delivery-keyed stream dedup, and semdedup's seed election.
ROWORDER_OPS = [
    "llm_repetition_filter", "llm_bm25", "agg_minmax_by",
    "api_reduce_side_join", "api_map_side_join", "stream_dedup",
    "llm_semdedup",
]


@pytest.fixture(scope="module")
def roworder_sf(tmp_path_factory) -> str:
    rng = np.random.RandomState(20260815)
    base = tmp_path_factory.mktemp("sf_roworder")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        perm = rng.permutation(len(tb))
        pq.write_table(tb.take(pa.array(perm)), str(base / f"{t}.parquet"))
    return str(base)


def test_roworder_fixture_matches_oracle(spark, roworder_sf):
    bad = oracle_mismatches(spark, roworder_sf, ROWORDER_OPS)
    assert not bad, "row-order divergence:\n" + "\n".join(bad)


#: round-7 NAN-INF axis: IEEE NaN / ±Infinity injected into
#: events.value (upstream-division damage — routine in 100 TB
#: telemetry). The full-surface sweep (tools/adversarial_audit.py
#: nan_inf) flagged 27 ops: 18 ANSI CAST_OVERFLOW crashes on
#: CAST(double AS BIGINT) — fixed by the try_cast/TRY_CAST cents
#: contract (non-finite → NULL, functions/checked.py:cents) swept
#: through every Spark cast site and all ~100 oracle ::BIGINT sites;
#: 4 Python-side crashes (int(round(inf)), Arrow safe-cast,
#: astype("Int64") on ±Inf); and 5 silent splits — Spark percentile
#: sorts NaN greatest vs DuckDB quantile_cont (robust stats now
#: exclude non-finite via finite()/isfinite in BOTH engines), Spark
#: floor() SATURATING non-finite (floor(NaN)→0!) vs TRY_CAST NULL,
#: and the Arrow boundary coercing a pandas NaN result to NULL
#: (documented per-op; oracles say isnan explicitly).
NAN_INF_OPS = [
    "win_rolling_median", "win_outlier_iqr", "ts_interpolate_linear",
    "ts_rolling_corr", "ts_calendar_features", "ts_sessionized_revenue",
    "ts_rsi", "ts_minmax_normalize", "ts_max_drawdown", "udf_map_arrow",
    "agg_salted_twophase", "sink_jsonl", "fn_json_agg", "ts_forward_fill",
    "api_pipeline", "api_counters", "api_multi_output", "agg_time_window",
    "agg_histogram", "agg_tail_ratio", "agg_share_of_total", "agg_mad",
    "udf_pandas_scalar", "udaf_pandas_agg", "udf_grouped_map",
    "udf_map_partitions",
]


@pytest.fixture(scope="module")
def nan_inf_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_naninf")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            v = tb["value"].to_pylist()
            v[0] = float("nan")
            v[1] = float("inf")
            v[2] = float("-inf")
            v[3] = float("nan")  # two NaNs: grouping must pool them
            tb = tb.set_column(
                tb.schema.get_field_index("value"), "value",
                pa.array(v, type=pa.float64()),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_nan_inf_fixture_matches_oracle(spark, nan_inf_sf):
    bad = oracle_mismatches(spark, nan_inf_sf, NAN_INF_OPS)
    assert not bad, "nan-inf divergence:\n" + "\n".join(bad)


def test_nan_inf_stream_cdc_executes(spark, nan_inf_sf):
    """stream_cdc_apply crashed in its foreachBatch sink on the NaN
    cents cast (a streaming query, so the rows-vs-oracle compare above
    can't cover its crash path deterministically — pin execution)."""
    import __spark_entry__ as entry

    df = entry.queries()["stream_cdc_apply"](spark, nan_inf_sf)
    assert df.count() >= 0


#: round-7 ZERO/EXTREME-EMBEDDING axis: all-zero vectors (a masked or
#: failed encode), exact-duplicate vectors, 1e30-magnitude and
#: 1e-30-magnitude components. The cosine kernels were already robust
#: (zero vectors dot to 0, duplicates tie-break by id); the three
#: finds: (1) round(x, 6) itself PERTURBS ulps at huge magnitude in
#: DuckDB/numpy (multiply-divide through 2^53) but not in Spark
#: (BigDecimal) — all emitted cosines/norms now magnitude-guard the
#: round (checked.round_sane, CASE WHEN abs<1e9 in oracles); (2)
#: int8 quantization overflowed the ANSI q_sum fold on saturated
#: floor(±∞·127) — a real quantizer CLAMPS to [-128,127], now both
#: engines do; (3) radius-parameterized ANN (BRP-LSH cutoff, IVF
#: probes) is contractually unit-scale — a 1e30 vector finds no
#: neighbors inside a unit-scale radius (README doctrine; enforce
#: upstream with llm_embedding_norm_audit), so ANN is exercised for
#: crash-freedom via the registry, not pinned here.
ZERO_EMBED_OPS = [
    "llm_dedup_embed", "llm_embed_quantize", "llm_multimodal_cols",
    "llm_sim_search", "llm_knn_self_join", "llm_semdedup",
    "llm_knn_label", "llm_embed_centroid", "llm_embedding_norm_audit",
    # round-8 find: the [1e30]*dim query sits ~1e30 L2 from everything,
    # drew zero bucket-join candidates and VANISHED from the ANN result
    # — fixed with the starved-query exact fallback in llm_vector.py
    "llm_sim_search_ann",
]


@pytest.fixture(scope="module")
def zero_embed_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_zeroembed")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "embeddings":
            e = tb["embedding"].to_pylist()
            dim = len(e[0])
            e[0] = [0.0] * dim
            e[1] = [0.0] * dim           # duplicate zero vector
            e[2] = [1e30] * dim          # dot overflows f32 range
            e[3] = [1e-30] * dim         # subnormal after squaring
            e[5] = list(e[4])            # exact duplicate pair
            tb = tb.set_column(
                tb.schema.get_field_index("embedding"), "embedding",
                pa.array(e, type=tb.schema.field("embedding").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_zero_embed_fixture_matches_oracle(spark, zero_embed_sf):
    bad = oracle_mismatches(spark, zero_embed_sf, ZERO_EMBED_OPS)
    assert not bad, "zero-embed divergence:\n" + "\n".join(bad)


#: round-7 TINY-TABLE axis: every table truncated to 3 rows (and the
#: single-row variant) — the small-n regime where sample statistics,
#: index structures, and interpolation all degenerate at once. Finds:
#: sample covariance divided by n-1=0 (ANSI DIVIDE_BY_ZERO crash →
#: try_divide NULL, matching DuckDB x/0.0); population skewness of two
#: distinct points is exactly 0 in Spark while sample G1 needs n>=3
#: (NULL) — oracle now states the n=2 case; approximate percentiles
#: answer with an actual DATA value, which at even n is rank-perfect
#: yet a full order-statistic gap from the INTERPOLATED exact median —
#: within_tol now accepts rank-correctness (approx within the middle
#: pair) at any n; range partitioning fills AT MOST the requested
#: partitions (3 rows → 3 non-empty of 8) and never guaranteed all 8 —
#: the checked claim is now the bound, not the count; MLlib KMeans
#: throws fitting 16 centers to 3 rows (k now clamps to the corpus,
#: which degrades IVF to exact all-cells search — correct) and rejects
#: k=1 outright (a 1-vector corpus has no neighbor pairs); and the
#: BRP-LSH radius is a corpus-scale envelope, so ANN brute-forces
#: below 64 rows like any production ANN index. The ANN/IVF summary
#: oracles now derive n_results = least(5, n-1) from the data instead
#: of hardcoding 5.
TINY_OPS = [
    "llm_sim_search_ivf", "llm_sim_search_ann", "mr_total_order_sort",
    "agg_percentile_approx", "agg_stats", "agg_sketch_quantiles",
    "agg_covariance_matrix", "llm_knn_self_join", "llm_sim_search",
    "agg_mad", "win_outlier_iqr",
]


def _tiny_fixture(tmp_path_factory, rows: int) -> str:
    base = tmp_path_factory.mktemp(f"sf_tiny{rows}")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        pq.write_table(tb.slice(0, rows), str(base / f"{t}.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def tiny3_sf(tmp_path_factory) -> str:
    return _tiny_fixture(tmp_path_factory, 3)


@pytest.fixture(scope="module")
def tiny1_sf(tmp_path_factory) -> str:
    return _tiny_fixture(tmp_path_factory, 1)


def test_tiny3_fixture_matches_oracle(spark, tiny3_sf):
    bad = oracle_mismatches(spark, tiny3_sf, TINY_OPS)
    assert not bad, "tiny-3 divergence:\n" + "\n".join(bad)


def test_tiny1_fixture_matches_oracle(spark, tiny1_sf):
    bad = oracle_mismatches(spark, tiny1_sf, TINY_OPS)
    assert not bad, "tiny-1 divergence:\n" + "\n".join(bad)


#: round-7 UNICODE-KEY axis: the round-5 unicode axis mutated only the
#: text PAYLOAD; this one puts CJK / astral-plane emoji / combining
#: marks / case-fold traps (ß→SS, dotted İ) / empty string / padded
#: whitespace into the GROUP/JOIN/ORDER KEY columns (event_type, lang,
#: source, c_mktsegment, c_name, o_orderpriority). 299/301 on first
#: contact — both engines group, join, and tie-break on binary UTF-8
#: identically. The two finds were Unicode-awareness asymmetries:
#: Spark's mask() classifies with Character.isUpperCase & co.
#: (Unicode) while the oracle's [A-Z] regexes were ASCII — oracles now
#: say \p{Lu}/\p{Ll}/\p{Nd}; and ONE whitespace-bearing source CRASHED
#: parse_url's java.net.URI parse — fn_url now uses try_parse_url with
#: the oracle mirroring the URI parser's observable rules (whitespace
#: voids all components; a non-[A-Za-z0-9.-] host label, including
#: Java's '_' quirk, nulls HOST while PATH/QUERY still extract).
UNICODE_KEY_OPS = [
    "fn_mask", "fn_url", "fn_string", "fn_regex", "fn_char_classes",
    "llm_lang_id", "llm_domain_mix", "agg_basic", "win_ranking",
]


@pytest.fixture(scope="module")
def unicode_keys_sf(tmp_path_factory) -> str:
    uni = ["购买事件", "café́", "🛒🔥", "ßße", "İstanbul", "",
           " padded ", "ключ"]
    base = tmp_path_factory.mktemp("sf_unikeys")

    def cycle(tb, col, every):
        vals = tb[col].to_pylist()
        for j, i in enumerate(range(0, len(vals), every)):
            vals[i] = uni[j % len(uni)]
        t = tb.schema.field(col).type
        return tb.set_column(
            tb.schema.get_field_index(col), col, pa.array(vals, type=t)
        )

    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            tb = cycle(tb, "event_type", 29)
        if t == "documents":
            tb = cycle(tb, "lang", 17)
            tb = cycle(tb, "source", 23)
        if t == "customer":
            tb = cycle(tb, "c_mktsegment", 13)
            tb = cycle(tb, "c_name", 11)
        if t == "orders":
            tb = cycle(tb, "o_orderpriority", 19)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_unicode_keys_fixture_matches_oracle(spark, unicode_keys_sf):
    bad = oracle_mismatches(spark, unicode_keys_sf, UNICODE_KEY_OPS)
    assert not bad, "unicode-key divergence:\n" + "\n".join(bad)


#: round-7 COMBINED-V2 axis: non-finite measures + unicode keys +
#: duplicate fact keys + NULL injection in ONE rebuild (the r6
#: combined axis proved defects hide in interactions every per-axis
#: fixture passes). 300/301 on first contact; the one find was real
#: interaction: a duplicated event_id colliding at the SAME
#: microsecond with a DIFFERENT event type left the journey-string
#: concat order ill-defined in the ORACLE only (Spark array_sorts the
#: whole struct(ts, event_id, initial); the oracle ordered by just
#: (ts, event_id)) — the initial is now the third sort key both ways.
COMBINED2_OPS = [
    "llm_event_pattern", "llm_sessionize", "llm_event_funnel",
    "stream_dedup", "api_secondary_sort", "agg_tail_ratio",
    "udaf_pandas_agg", "fn_mask",
]


@pytest.fixture(scope="module")
def combined2_sf(tmp_path_factory) -> str:
    uni = ["购买事件", "café́", "🛒🔥", "ßße", "İstanbul", "",
           " padded ", "ключ"]
    rng = np.random.RandomState(20260815)
    base = tmp_path_factory.mktemp("sf_combined2")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            v = tb["value"].to_pylist()
            v[0] = float("nan")
            v[1] = float("inf")
            v[2] = float("-inf")
            for i in rng.choice(len(v), size=len(v) // 20, replace=False):
                v[i] = None
            tb = tb.set_column(
                tb.schema.get_field_index("value"), "value",
                pa.array(v, type=pa.float64()),
            )
            et = tb["event_type"].to_pylist()
            for j, i in enumerate(range(0, len(et), 29)):
                et[i] = uni[j % len(uni)]
            tb = tb.set_column(
                tb.schema.get_field_index("event_type"), "event_type",
                pa.array(et, type=pa.string()),
            )
            rows_l = tb.to_pylist()
            extra = []
            for i in range(0, len(rows_l), 41):
                r = dict(rows_l[i])  # same event_id AND ts, new payload
                r["value"] = float("nan") if i % 82 else 7.25
                r["event_type"] = "collision"
                extra.append(r)
            tb = pa.Table.from_pylist(rows_l + extra, schema=tb.schema)
        if t == "documents":
            lg = tb["lang"].to_pylist()
            for j, i in enumerate(range(0, len(lg), 17)):
                lg[i] = uni[j % len(uni)]
            for i in rng.choice(len(lg), size=len(lg) // 20, replace=False):
                lg[i] = None
            tb = tb.set_column(
                tb.schema.get_field_index("lang"), "lang",
                pa.array(lg, type=pa.string()),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_combined2_fixture_matches_oracle(spark, combined2_sf):
    bad = oracle_mismatches(spark, combined2_sf, COMBINED2_OPS)
    assert not bad, "combined-v2 divergence:\n" + "\n".join(bad)


#: round-7 NEGATIVE-VALUE axis: refund rows (negative value), negative
#: quantities/prices, zero prices. 301/301 on first contact — the
#: log/sqrt positivity guards (geometric mean, Gini, entropy), the
#: signed-cents arithmetic, and sign-sensitive bucketing all hold.
#: Pinned on the ops whose positivity assumptions are structural.
NEGATIVE_OPS = [
    "agg_geometric_mean", "agg_gini", "agg_entropy", "agg_histogram",
    "q1_pricing_summary", "agg_weighted_avg", "win_running",
]


@pytest.fixture(scope="module")
def negative_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_negative")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))

        def setcol(tbl, col, vals):
            ty = tbl.schema.field(col).type
            return tbl.set_column(
                tbl.schema.get_field_index(col), col,
                pa.array(vals, type=ty),
            )

        if t == "events":
            v = tb["value"].to_pylist()
            for i in range(0, len(v), 13):
                if v[i] is not None:
                    v[i] = -abs(v[i])
            v[3] = 0.0
            tb = setcol(tb, "value", v)
        if t == "lineitem":
            q = tb["l_quantity"].to_pylist()
            p = tb["l_extendedprice"].to_pylist()
            for i in range(0, len(q), 17):
                q[i] = -abs(q[i])
                p[i] = -abs(p[i])
            p[5] = 0.0
            tb = setcol(tb, "l_quantity", q)
            tb = setcol(tb, "l_extendedprice", p)
        if t == "orders":
            tp = tb["o_totalprice"].to_pylist()
            for i in range(0, len(tp), 19):
                tp[i] = -abs(tp[i])
            tp[7] = 0.0
            tb = setcol(tb, "o_totalprice", tp)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_negative_fixture_matches_oracle(spark, negative_sf):
    bad = oracle_mismatches(spark, negative_sf, NEGATIVE_OPS)
    assert not bad, "negative-value divergence:\n" + "\n".join(bad)


#: round-7 CONTROL-CHARS axis: CSV/JSON metacharacters and control
#: characters in string fields — commas/quotes/newlines/CRLF/tabs/
#: backslashes in nation.n_name (the scan_csv round-trip column),
#: metacharacters in documents.text (no raw newlines — the line
#: format's documented no-newline contract), raw control characters
#: inside events.props JSON strings (RFC-invalid). Finds: Spark's CSV
#: WRITER trims leading/trailing whitespace by default and a quoted
#: embedded newline needs multiLine on read or the record splits into
#: NULL-padded fragments (25 rows came back as 27); and
#: get_json_object's Jackson parser LENIENTLY extracts from JSON with
#: raw control chars inside strings where every strict parser
#: (DuckDB json_valid, Spark's own try_parse_json) rejects it —
#: k_str is now gated on try_parse_json validity, which matches
#: json_valid on every observed class including VALID inter-token
#: control whitespace.
CONTROL_OPS = [
    "scan_csv", "fn_json", "fn_json_agg", "scan_jsonl_nested",
    "scan_text", "scan_jsonl", "sink_jsonl", "fn_variant", "sink_csv",
]


@pytest.fixture(scope="module")
def control_sf(tmp_path_factory) -> str:
    tricky = ['comma, name', 'quo"ted', 'line\nbreak', 'crlf\r\nname',
              'tab\tname', 'back\\slash', ' lead/trail ', 'semi;colon']
    base = tmp_path_factory.mktemp("sf_control")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))

        def setcol(tbl, col, vals):
            ty = tbl.schema.field(col).type
            return tbl.set_column(
                tbl.schema.get_field_index(col), col,
                pa.array(vals, type=ty),
            )

        if t == "nation":
            nm = tb["n_name"].to_pylist()
            for j in range(min(len(nm), len(tricky))):
                nm[j] = tricky[j]
            tb = setcol(tb, "n_name", nm)
        if t == "documents":
            tx = tb["text"].to_pylist()
            tx[4] = 'a "quoted" doc, with tab\there and back\\slash'
            tx[9] = "commas, everywhere, in, this, doc"
            tb = setcol(tb, "text", tx)
        if t == "events":
            p = tb["props"].to_pylist()
            p[0] = '{"k": "raw\ttab"}'
            p[1] = '{"k": "ok\\ttab"}'
            tb = setcol(tb, "props", p)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_control_chars_fixture_matches_oracle(spark, control_sf):
    bad = oracle_mismatches(spark, control_sf, CONTROL_OPS)
    assert not bad, "control-chars divergence:\n" + "\n".join(bad)


#: round-7 NULL-EVENT-TIME axis: 2% NULL events.ts (an un-parseable
#: upstream clock) — the round-5 NULL axis nullified measures and dims
#: but never the time column, and time ordering/windowing/watermarking
#: is a third of the registry. 29 ops diverged, zero crashed, all one
#: doctrine: **a row with NULL event time is excluded from time-keyed
#: computation in both engines** — Spark default-orders NULLS FIRST
#: where DuckDB orders NULLS LAST (silently shifting every window
#: neighbor/rank/lag pair), Spark's window()/session_window() bucketing
#: silently drops NULL times while SQL GROUP BY keeps a NULL bucket,
#: count(DISTINCT day) skips NULL while groupBy keeps the NULL-day
#: group, and the event-time replay layout (one file per day) leaked
#: NULL-ts rows into day=__HIVE_DEFAULT_PARTITION__ as a phantom last
#: batch (replay marker bumped to v3; every stream oracle states the
#: exclusion). Route un-timestamped rows with etl_dq_rules.
NULL_TS_OPS = [
    "win_rolling_median", "win_lag_lead", "win_distinct_running",
    "ts_rolling_corr", "ts_rsi", "ts_forward_fill", "ts_resample_ohlc",
    "ts_wow_growth", "ts_peak_detection", "ts_burst_detection",
    "ts_max_drawdown", "ts_repurchase_gap", "ts_sessionized_revenue",
    "llm_sessionize", "llm_event_pattern", "join_asof",
    "join_asof_forward", "join_asof_nearest", "agg_bounce_rate",
    "agg_first_last_any", "agg_hll_mergeable", "mr_sort_within",
    "etl_rowcount_drift", "stream_tumbling", "stream_sliding",
    "stream_session", "stream_dedup", "stream_progress_audit",
    "stream_unified_api", "stream_cdc_apply",
]


@pytest.fixture(scope="module")
def null_ts_sf(tmp_path_factory) -> str:
    rng = np.random.RandomState(99)
    base = tmp_path_factory.mktemp("sf_nullts")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            ts = tb["ts"].to_pylist()
            for i in rng.choice(len(ts), size=max(1, len(ts) // 50),
                                replace=False):
                ts[i] = None
            tb = tb.set_column(
                tb.schema.get_field_index("ts"), "ts",
                pa.array(ts, type=tb.schema.field("ts").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_null_ts_fixture_matches_oracle(spark, null_ts_sf):
    bad = oracle_mismatches(spark, null_ts_sf, NULL_TS_OPS)
    assert not bad, "null-event-time divergence:\n" + "\n".join(bad)


#: round-7 ONE-KEY axis (monster-partition extreme): EVERY event on
#: one user, every document one lang+source, every lineitem one
#: supplier — per-key windows hold the whole table, every group-by
#: collapses to one group. 301/301 clean on first contact (the skew
#: axis covered "half on one key"; this is the degenerate end).
#: Pinned on the ops whose per-key state is the whole table here.
ONE_KEY_OPS = [
    "llm_sessionize", "win_lag_lead", "ts_forward_fill",
    "mr_sort_within", "agg_mode_deterministic", "llm_bm25",
    "join_asof",
]


@pytest.fixture(scope="module")
def one_key_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_onekey")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))

        def const(tbl, col, val):
            ty = tbl.schema.field(col).type
            return tbl.set_column(
                tbl.schema.get_field_index(col), col,
                pa.array([val] * len(tbl), type=ty),
            )

        if t == "events":
            tb = const(tb, "user_id", 42)
        if t == "documents":
            tb = const(tb, "lang", "en")
            tb = const(tb, "source", "src0")
        if t == "lineitem":
            tb = const(tb, "l_suppkey", 7)
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_one_key_fixture_matches_oracle(spark, one_key_sf):
    bad = oracle_mismatches(spark, one_key_sf, ONE_KEY_OPS)
    assert not bad, "one-key divergence:\n" + "\n".join(bad)


#: Round-8 CLOCK/TIMEZONE axis, pinned. Two fronts:
#:
#: 1. DATA: DST/year/ISO-week/leap boundary wall-clocks injected into
#:    events.ts (the list mirrors tools/adversarial_audit._CLOCK_TS) —
#:    under the NTZ doctrine (io._fix_events) every one is just a naive
#:    value both engines bucket identically. Full 301-query sweep under
#:    TZ=Asia/Kathmandu + hostile session tz: 0 divergent after the two
#:    fixes below.
#:
#: 2. SESSION TZ: the sweep's ordering-dependent find — load_table's
#:    self-heal ran only on the cache-MISS path, so a hostile session
#:    timezone set between queries survived into any query whose tables
#:    were already cached: fn_date's DATE→TIMESTAMP epoch resolved to
#:    midnight-Kathmandu (−20700 s), and the streaming window ops
#:    aligned hour buckets to :45. read_stream had the same hole when
#:    the replay copy was already materialized. Both now heal
#:    unconditionally; the tests below pin the CACHED paths.
CLOCK_TS = [
    "2023-12-31 23:59:59.999999",
    "2024-01-01 00:00:00",
    "2023-12-31 00:00:00",
    "2024-02-29 12:00:00",
    "2024-01-14 02:30:00",   # Pacific/Fiji fall-back ambiguous wall-clock
    "2024-01-07 00:00:00",
    "2024-01-08 00:00:00",
    "2024-01-31 23:59:59.999999",
]

CLOCK_OPS = [
    "agg_time_window", "ts_resample_ohlc", "ts_gapfill", "ts_wow_growth",
    "agg_cohort_retention", "llm_sessionize", "join_asof", "fn_date",
    "ts_weekend_lift", "win_range_frame", "fn_timezone", "ts_isoweek_rollup",
]


@pytest.fixture(scope="module")
def clock_sf(tmp_path_factory) -> str:
    from datetime import datetime

    base = tmp_path_factory.mktemp("sf_clock")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            ts = tb["ts"].to_pylist()
            for j, v in enumerate(CLOCK_TS):
                if j < len(ts):
                    ts[j] = datetime.fromisoformat(v)
            for j, v in enumerate(CLOCK_TS):
                k = len(ts) // 2 + j * 7
                if k < len(ts):
                    ts[k] = datetime.fromisoformat(v)
            tb = tb.set_column(
                tb.schema.get_field_index("ts"), "ts",
                pa.array(ts, type=tb.schema.field("ts").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_clock_boundary_fixture_matches_oracle(spark, clock_sf):
    bad = oracle_mismatches(spark, clock_sf, CLOCK_OPS)
    assert not bad, "clock-boundary divergence:\n" + "\n".join(bad)


def test_session_tz_self_heal_covers_cached_tables(spark, sf_dir):
    """The regression pin for the round-8 sweep find: poison the
    session timezone AFTER a table is already in load_table's cache —
    the next query touching that table must still heal to UTC, or its
    DATE→TIMESTAMP epoch shifts by the zone offset (the cache-hit path
    used to skip ensure_runtime_configs)."""
    from pymapreduce_spark.io import load_table
    from pymapreduce_spark.registry import QUERIES

    load_table(spark, sf_dir, "orders")  # ensure the cache is warm
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        row = (
            QUERIES["fn_date"](spark, sf_dir)
            .select("order_epoch")
            .first()
        )
        assert row["order_epoch"] % 86400 == 0, (
            "DATE→TIMESTAMP resolved at non-UTC midnight: the session-tz "
            f"self-heal missed the cached-table path (epoch {row['order_epoch']})"
        )
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_no_registered_query_outputs_zoned_timestamps(spark, sf_dir):
    """NTZ doctrine gate, enforced at the surface compare_frames can't
    reach (rows-only paths are covered by assert_driver_canonicalizable
    — this pins the sampled ts-heavy heads end-to-end): a zoned
    TimestampType output column is collected through the driver HOST's
    OS timezone and silently shifts on any non-UTC machine."""
    from pyspark.sql import types as T

    from pymapreduce_spark.registry import QUERIES

    for name in CLOCK_OPS + ["stream_tumbling_schema_only"]:
        if name not in QUERIES:
            continue
        df = QUERIES[name](spark, sf_dir)
        zoned = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.TimestampType)
        ]
        assert not zoned, f"{name}: zoned timestamp outputs {zoned}"


# ---------------------------------------------------------------------------
# Round-8 huge_doc axis: monster text payloads (a ~200 KB natural doc, a
# single 50 KB unbroken token, thousands of identical tokens, empty and
# whitespace-only texts). The sweep caught a QUADRATIC, not a divergence:
# InferFiltersFromGenerate infers `size(generator) > 0` from every explode
# and predicate pushdown rewrites that filter through the projection chain,
# substituting the hoisted `words` alias back into the lambda body — so
# `split(text)` runs once PER transform ITERATION, interpreted, at the scan
# (O(words · bytes) per document; llm_boilerplate_share went from ~6 s to
# >15 min on one 500 KB doc). ensure_runtime_configs now excludes the rule
# (session.EXCLUDED_OPTIMIZER_RULES) — Generate already skips empty arrays
# for non-outer explode, so exclusion can never change results.
# ---------------------------------------------------------------------------

#: operators the huge_doc sweep timed out on, now fixed: the first four
#: via the InferFiltersFromGenerate exclusion + lambda hoists; llm_bm25
#: via moving the doc-length computation BELOW its explode (as a sibling
#: of explode(split(text)) it planned into a Project above the Generate,
#: re-splitting the full text once per exploded word)
HUGE_DOC_OPS = [
    "llm_bigram_lm", "llm_bpe_merge_step", "llm_ngram_entropy",
    "llm_boilerplate_share", "llm_bm25",
]


@pytest.fixture(scope="module")
def huge_doc_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_hugedoc")
    words = ("the quick brown fox jumps over the lazy dog "
             "pack my box with five dozen liquor jugs ").split()
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            tx = tb["text"].to_pylist()
            # shrunk from the sweep's 500 KB so the LINEAR plan stays
            # CI-fast while the quadratic one would still take minutes
            tx[0] = " ".join(words[i % len(words)] for i in range(30_000))
            tx[1] = "x" * 50_000          # one unbroken 50 KB token
            tx[2] = "spam " * 5_000       # every shingle identical
            tx[3] = ""                    # empty text
            tx[4] = "   "                 # whitespace-only
            tb = tb.set_column(
                tb.schema.get_field_index("text"), "text",
                pa.array(tx, type=tb.schema.field("text").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_huge_doc_fixture_matches_oracle(spark, huge_doc_sf):
    bad = oracle_mismatches(spark, huge_doc_sf, HUGE_DOC_OPS)
    assert not bad, "huge-doc divergence:\n" + "\n".join(bad)


def test_generate_filter_inference_stays_excluded(spark, sf_dir):
    """The self-heal pin: a driver-built session carries no optimizer
    exclusions, so the first load_table must install
    EXCLUDED_OPTIMIZER_RULES (merging, not clobbering, anything already
    there) — and the resulting physical plan of an explode-over-transform
    operator must contain no Filter that re-evaluates split(text) inside
    the lambda (the quadratic signature)."""
    from pymapreduce_spark.registry import QUERIES
    from pymapreduce_spark.session import (
        EXCLUDED_OPTIMIZER_RULES,
        ensure_runtime_configs,
    )

    # simulate the driver session: pre-seed a foreign exclusion, drop ours
    foreign = "org.apache.spark.sql.catalyst.optimizer.CombineFilters"
    spark.conf.set("spark.sql.optimizer.excludedRules", foreign)
    try:
        ensure_runtime_configs(spark)
        merged = spark.conf.get("spark.sql.optimizer.excludedRules")
        assert foreign in merged, "merge clobbered a pre-existing exclusion"
        for rule in EXCLUDED_OPTIMIZER_RULES:
            assert rule in merged, f"self-heal dropped {rule}"

        plan = (
            QUERIES["llm_boilerplate_share"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        quadratic = [
            ln for ln in plan.splitlines()
            if "Filter" in ln and "split(" in ln and "lambda" in ln
        ]
        assert not quadratic, (
            "generator filter re-inlined split into the lambda:\n"
            + "\n".join(quadratic)
        )
    finally:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            ",".join(EXCLUDED_OPTIMIZER_RULES),
        )


# ---------------------------------------------------------------------------
# Round-8 ragged_embed axis: present-but-malformed vectors — wrong
# dimension (truncated writes, mixed model versions), NULL elements
# inside a vector (failed casts), empty vectors — planted in BOTH the
# query region (vec_id < 10: sim-search queries, semdedup seeds) and
# mid-corpus. Before the doctrine (llm_vector._well_formed /
# load_embeddings + the _wf() oracle splice) the sweep failed 11/13:
# Spark ML's LSH hasher crashed on dimension mismatch, the numpy GEMM
# kernels lost rectangularity, every DuckDB list_inner_product oracle
# crashed on NULL elements, and centroid/topics diverged. Whole-NULL
# vectors keep their established per-op handling (null_embed fixture
# above).
# ---------------------------------------------------------------------------

RAGGED_EMBED_OPS = [
    "llm_knn_label", "llm_multimodal_cols", "llm_sim_search",
    "llm_sim_search_ann", "llm_dedup_embed", "llm_knn_self_join",
    "llm_semdedup", "llm_cluster_topics", "llm_embed_centroid",
    "llm_embed_quantize", "llm_embedding_norm_audit",
    "llm_multimodal_decode", "llm_sim_search_ivf",
    # the similarity-graph family: Spark side already flows through the
    # doctrine via llm_knn_self_join, but each oracle re-declares the
    # kNN edge set from raw embeddings and needed the _wf() splice too
    "graph_components", "graph_pagerank", "graph_degrees",
    "graph_triangles", "graph_bfs_distance", "graph_common_neighbors",
]


@pytest.fixture(scope="module")
def ragged_embed_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_ragged_embed")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "embeddings":
            e = tb["embedding"].to_pylist()
            e[0] = e[0][:32]                     # short QUERY vector
            e[1] = e[1] + e[1][:8]               # long (72-dim) query
            e[2] = []                            # empty query vector
            v = list(e[3])
            v[5] = None
            v[40] = None
            e[3] = v                             # NULL elements, query
            e[17] = list(e[0])                   # duplicate of the short
            w = list(e[100])
            w[0] = None
            e[100] = w                           # NULL element, corpus
            e[101] = e[101][:16]                 # short corpus vector
            e[102] = []                          # empty corpus vector
            tb = tb.set_column(
                tb.schema.get_field_index("embedding"), "embedding",
                pa.array(e, type=tb.schema.field("embedding").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_ragged_embedding_fixture_matches_oracle(spark, ragged_embed_sf):
    bad = oracle_mismatches(spark, ragged_embed_sf, RAGGED_EMBED_OPS)
    assert not bad, "ragged-embedding divergence:\n" + "\n".join(bad)


# ---------------------------------------------------------------------------
# Round-8 dup_ids axis: duplicate primary keys with DIFFERENT payloads —
# a dirty upstream join or replayed ingest. The sweep failed 20/305 in
# three classes, each now a doctrine:
# 1. id-indexed vector kernels (knn GEMM, LSH buckets, k-means seeds,
#    the whole graph family) — fixed by load_embeddings' canonical row
#    per vec_id (lexicographically smallest (embedding, label), NULLS
#    LAST pinned: Spark defaults NULLS FIRST, DuckDB NULLS LAST).
# 2. order-sensitive event accumulations (ewma/rsi/rolling corr/
#    drawdown/rolling median/OHLC picks) — (ts, event_id) is not a
#    total order under id collisions; the measure column is now the
#    FINAL tie-break on both sides.
# 3. doc_id-keyed text pipelines — tfidf_ml pools rows into one
#    document per id before the fit (and its oracle counts DISTINCT
#    ids); dedup_fuzzy canonicalizes min(text) per id;
#    lsh_diagnostics' oracle moved to per-ROW signatures (rid), the
#    unit its Spark side always had.
# ---------------------------------------------------------------------------

DUP_IDS_OPS = [
    "llm_knn_self_join", "llm_lsh_diagnostics", "llm_semdedup",
    "llm_cluster_topics", "llm_sim_search_ann", "llm_sim_search_ivf",
    "graph_components", "graph_pagerank", "graph_degrees",
    "graph_triangles", "graph_bfs_distance", "graph_common_neighbors",
    "ts_ewma", "ts_resample_ohlc", "ts_rolling_corr", "ts_rsi",
    "ts_max_drawdown", "win_rolling_median",
    "llm_tfidf_ml", "llm_dedup_fuzzy",
]


@pytest.fixture(scope="module")
def dup_ids_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_dup_ids")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            dup = tb.slice(0, 5).to_pylist()
            for i, r in enumerate(dup):
                r["text"] = (r["text"] or "") + f" dup{i}"
                r["n_chars"] = len(r["text"])
            tb = pa.concat_tables(
                [tb, pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        elif t == "embeddings":
            dup = tb.slice(0, 5).to_pylist()
            for r in dup:
                r["embedding"] = [-x for x in r["embedding"]]
                r["label"] = (r["label"] + 1) % 3
            tb = pa.concat_tables(
                [tb, pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        elif t == "events":
            dup = tb.slice(0, 8).to_pylist()
            for i, r in enumerate(dup):
                r["value"] = (r["value"] or 0) + 1000 + i
            tb = pa.concat_tables(
                [tb, pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        elif t == "orders":
            dup = tb.slice(0, 5).to_pylist()
            for r in dup:
                r["o_totalprice"] = round((r["o_totalprice"] or 0) + 1, 2)
            tb = pa.concat_tables(
                [tb, pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_dup_ids_fixture_matches_oracle(spark, dup_ids_sf):
    bad = oracle_mismatches(spark, dup_ids_sf, DUP_IDS_OPS)
    assert not bad, "duplicate-id divergence:\n" + "\n".join(bad)


# ---------------------------------------------------------------------------
# Round-8 null_ids axis: NULL primary keys (doc_id / vec_id / event_id),
# with ORDER ties engineered (NULL-id events share their ts with a real
# neighbor). 23/305 failed, four mechanisms, each now a doctrine:
# - Spark defaults ASC to NULLS FIRST, DuckDB to NULLS LAST — every
#   oracle window/order id key is now explicitly pinned (25 sites), and
#   sample_fixed_k pins NULLS LAST on BOTH sides at its LIMIT boundary.
# - A NULL vec_id is malformed (id IS the identity): excluded by
#   _well_formed on both engines; numpy int64 had coerced None to
#   Long.MIN_VALUE and the Pregel kernel crashed on a NULL node.
# - NULL doc_ids carry no document frequency / postings / tfidf N:
#   inverted_index, stopword_candidates, tfidf_ml filter them on both
#   sides (collect_set skips NULLs where DuckDB's list() keeps them;
#   count(DISTINCT) skips them where row counts don't).
# - Arrow->pandas dtype poisoning: ONE NULL id flips int64 to float64
#   and str(5.0) != str(5) changed EVERY row's hash in the
#   batch-inference stub; jsonl writing rendered Python None instead of
#   JSON null, silently reclassifying good lines as corrupt.
# ---------------------------------------------------------------------------

NULL_IDS_OPS = [
    "llm_knn_self_join", "llm_semdedup", "graph_components",
    "graph_pagerank", "graph_degrees", "graph_bfs_distance",
    "mr_sort_within", "win_lag_lead", "ts_resample_ohlc",
    "ts_max_drawdown", "ts_repurchase_gap", "ts_rolling_corr", "ts_rsi",
    "win_rolling_median", "llm_pack_sequences", "llm_batch_inference",
    "llm_inverted_index", "llm_stopword_candidates", "llm_tfidf_ml",
    "scan_jsonl_permissive", "sample_fixed_k",
    # round-10 debut defect, fixed same round: win_moving_slope's frame
    # order ties on NULL event_ids split engines (Spark ASC = NULLS
    # FIRST, DuckDB = NULLS LAST) until the oracle pinned NULLS FIRST
    "win_moving_slope",
]


@pytest.fixture(scope="module")
def null_ids_sf(tmp_path_factory) -> str:
    base = tmp_path_factory.mktemp("sf_null_ids")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            ids = tb["event_id"].to_pylist()
            ts = tb["ts"].to_pylist()
            for j in (3, 40, 41, 200, 201):
                ids[j] = None
            ts[3] = ts[2]
            ts[41] = ts[40]
            ts[200] = ts[199]
            ts[201] = ts[199]
            tb = tb.set_column(
                tb.schema.get_field_index("event_id"), "event_id",
                pa.array(ids, type=tb.schema.field("event_id").type),
            )
            tb = tb.set_column(
                tb.schema.get_field_index("ts"), "ts",
                pa.array(ts, type=tb.schema.field("ts").type),
            )
        elif t == "documents":
            ids = tb["doc_id"].to_pylist()
            ids[7] = None
            ids[8] = None
            tb = tb.set_column(
                tb.schema.get_field_index("doc_id"), "doc_id",
                pa.array(ids, type=tb.schema.field("doc_id").type),
            )
        elif t == "embeddings":
            ids = tb["vec_id"].to_pylist()
            ids[30] = None
            ids[31] = None
            tb = tb.set_column(
                tb.schema.get_field_index("vec_id"), "vec_id",
                pa.array(ids, type=tb.schema.field("vec_id").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


def test_null_ids_fixture_matches_oracle(spark, null_ids_sf):
    bad = oracle_mismatches(spark, null_ids_sf, NULL_IDS_OPS)
    assert not bad, "NULL-id divergence:\n" + "\n".join(bad)


def test_combined_id_corruption_matches_oracle(spark, tmp_path_factory):
    """Composition pin: the three id doctrines interacting on the SAME
    rows (a ragged duplicate of a real id — well-formed filter must run
    BEFORE the canonical pick; a whole-NULL duplicate — NULLS LAST must
    prefer the real vector; a NULL id that is also ragged; NULL-id
    events tied on ts both with identical and different payloads; a
    duplicated doc_id with NULL text). Reuses the combined_ids axis
    builder from tools/adversarial_audit.py; the full 305-query sweep
    ran 0/305 on round 8 — this pins the doctrine-owning ops in CI."""
    aa = _audit_module()
    out = str(tmp_path_factory.mktemp("sf_combined_ids"))
    aa.build_combined_ids(out, 3)
    bad = oracle_mismatches(spark, out, [
        "llm_knn_self_join", "llm_semdedup", "graph_components",
        "ts_resample_ohlc", "win_rolling_median", "llm_dedup_fuzzy",
        "llm_tfidf_ml", "sample_fixed_k", "llm_sim_search",
    ])
    assert not bad, "combined id-corruption divergence:\n" + "\n".join(bad)


def _audit_module():
    """tools/adversarial_audit.py, whose axis builders write the
    hostile fixtures these tests pin."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "adversarial_audit",
        os.path.join(
            os.path.dirname(__file__), "..", "tools", "adversarial_audit.py"
        ),
    )
    aa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(aa)
    return aa


# ---------------------------------------------------------------------------
# Round-8 hostile_json axis: the props payloads a scraped event stream
# carries, restricted to classes with a DEFINABLE cross-engine outcome
# (single-quoted JSON, bare scalars, empty/whitespace, null/missing k,
# deep nesting, unicode escapes, -0, double/bool/string-typed k, int32
# overflow, malformed, array roots). Four ops failed: Jackson's
# get_json_object/from_json leniently parse single-quoted JSON that
# every strict parser rejects, and the engines' JSON->int coercions
# disagree per class (DuckDB TRY_CAST rounds '1.9' to 2 and casts
# true to 1; Spark NULLs both). Doctrine: typed JSON extraction is
# gated on strict validity AND int-typedness on BOTH engines (Spark:
# valid-gated from_json k INT / schema_of_variant == 'BIGINT'; oracle:
# json_valid + json_type IN ('BIGINT','UBIGINT')). The undefinable
# classes — trailing commas, duplicate keys, NaN/Infinity literals,
# out-of-int64 numbers — are documented out-of-envelope in
# tools/adversarial_audit.py:_HOSTILE_JSON (engines disagree
# irreconcilably; Spark's own three JSON APIs even disagree with each
# other on duplicate keys).
# ---------------------------------------------------------------------------

HOSTILE_JSON_OPS = [
    "fn_json", "fn_json_agg", "fn_variant", "scan_jsonl_nested",
]


def test_hostile_json_fixture_matches_oracle(spark, tmp_path_factory):
    aa = _audit_module()
    out = str(tmp_path_factory.mktemp("sf_hostile_json"))
    aa.build_hostile_json(out, 3)
    bad = oracle_mismatches(spark, out, HOSTILE_JSON_OPS)
    assert not bad, "hostile-JSON divergence:\n" + "\n".join(bad)


# ---------------------------------------------------------------------------
# Round-8 extreme_measures axis: NaN / ±Inf / 5e-324 subnormals in EVERY
# money column (the nan_inf axis poisons events.value only). 12/305
# failed: DuckDB 1.0's TRY_CAST(NaN AS DECIMAL) throws (worked around
# with an isnan CASE — nullif can't catch it, NaN != NaN under `=`),
# Spark's ceil/floor return LONG so NaN collapsed to 0 where DuckDB
# stays DOUBLE, the dialect-shared SQL front-end needed TRY_CAST, the
# MapReduce-facade mapper needed a math.isfinite guard, and the order-
# statistics family (percentile/stats/gini/weighted-median/KLL) now
# defines moments and quantiles over FINITE observations on both sides
# (the agg_histogram doctrine, corpus-wide). Biggest structural find:
# global_sort_index's mapInPandas pass silently turned NaN into NULL on
# the pandas->Arrow return trip (pa.Array.from_pandas semantics) — the
# position pass is now a pure-Catalyst window + broadcast offset join,
# so data columns never leave the JVM. Huge-but-FINITE magnitudes
# (1e17+) are documented out-of-envelope: beyond exact-integer-cents
# range a cross-engine double SUM is undefined by IEEE accumulation
# order itself.
# ---------------------------------------------------------------------------

EXTREME_MEASURE_OPS = [
    "mr_map", "proj_select", "fn_map", "fn_math", "sort_multikey",
    "agg_percentile", "agg_stats", "agg_gini", "agg_weighted_median",
    "agg_sketch_quantiles", "api_reduce_side_join", "sql_frontend",
]


def test_extreme_measures_fixture_matches_oracle(spark, tmp_path_factory):
    aa = _audit_module()
    out = str(tmp_path_factory.mktemp("sf_extreme_measures"))
    aa.build_extreme_measures(out, 3)
    bad = oracle_mismatches(spark, out, EXTREME_MEASURE_OPS)
    assert not bad, "extreme-measure divergence:\n" + "\n".join(bad)


def test_infinite_supplier_balance_facade_joins_match_oracle(
    spark, tmp_path_factory
):
    """±Inf in ``supplier.s_acctbal`` carries no cents on either facade
    join, as the oracles' TRY_CAST yields NULL. The extreme_measures
    axis plants its values at rows 5, 16, 27 and 38, past the end of a
    10-row supplier table, so it never reached the map-side join's
    mapper, which overflowed on ``int(round(inf * 100))``."""
    base = tmp_path_factory.mktemp("sf_inf_acctbal")
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "supplier":
            bal = tb["s_acctbal"].to_pylist()
            bal[1] = float("inf")
            bal[2] = float("-inf")
            tb = tb.set_column(
                tb.schema.get_field_index("s_acctbal"), "s_acctbal",
                pa.array(bal, type=tb.schema.field("s_acctbal").type),
            )
        pq.write_table(tb, str(base / f"{t}.parquet"))
    bad = oracle_mismatches(
        spark, str(base), ["api_map_side_join", "api_reduce_side_join"]
    )
    assert not bad, "infinite-balance divergence:\n" + "\n".join(bad)


# ---------------------------------------------------------------------------
# Streaming ops under hostile axes (round-8 verdict task 4): the 17-axis
# sweep covers the batch registry; the incremental path (file-stream
# replay → watermarked state → sink) has its OWN semantics for NULL
# event times (no position against the watermark → excluded by the
# replay layout), duplicate event ids under dropDuplicatesWithinWatermark
# (the delivery-key doctrine), and boundary wall-clocks under a hostile
# session timezone (read_stream self-heals to UTC per query). Pin the
# four stateful ops the verdict names on each axis. The full 15-op
# streaming sweep stays in tools/adversarial_audit.py --only.

STREAM_AXIS_OPS = [
    "stream_tumbling", "stream_watermark", "stream_dedup",
    "stream_stateful",
]




def test_streaming_null_ts_matches_oracle(spark, tmp_path_factory):
    """NULL event times through the incremental path: the replay layout
    IS the event-time axis (one file per day), so a row with no event
    time has no day — every stream oracle states the exclusion."""
    aa = _audit_module()
    out = str(tmp_path_factory.mktemp("sf_stream_nullts"))
    aa.build_null_ts(out, 4)
    bad = oracle_mismatches(spark, out, STREAM_AXIS_OPS)
    assert not bad, "stream null-ts divergence:\n" + "\n".join(bad)


def test_streaming_dup_ids_matches_oracle(spark, tmp_path_factory):
    """Colliding event_ids through the watermarked dedup/state path:
    dropDuplicatesWithinWatermark keys on the DELIVERY
    (event_id, ts, event_type), so two different events sharing an id
    both survive — the oracle replays that key exactly."""
    aa = _audit_module()
    out = str(tmp_path_factory.mktemp("sf_stream_dupids"))
    aa.build_dup_ids(out, 4)
    bad = oracle_mismatches(spark, out, STREAM_AXIS_OPS)
    assert not bad, "stream dup-ids divergence:\n" + "\n".join(bad)


def test_streaming_clock_tz_matches_oracle(spark, tmp_path_factory):
    """Boundary wall-clocks (year/ISO-week/leap/DST-ambiguous) replayed
    under a hostile +05:45 session timezone, re-poisoned before EVERY
    query: read_stream's ensure_runtime_configs must re-pin UTC each
    time, or epoch-aligned window buckets shift to :45 alignment."""
    import __spark_entry__ as entry

    aa = _audit_module()
    out = str(tmp_path_factory.mktemp("sf_stream_clock"))
    aa.build_clock_tz(out, 4)
    con = make_duckdb(out)
    queries, oracles = entry.queries(), entry.oracle_sql()
    prior = spark.conf.get("spark.sql.session.timeZone")
    bad = []
    try:
        for name in STREAM_AXIS_OPS:
            spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
            got = spark_rows(queries[name](spark, out))
            want = duck_rows(con, oracles[name])
            if got != want:
                bad.append(f"{name}: {len(got)} vs {len(want)} rows")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
        con.close()
    assert not bad, "stream clock-tz divergence:\n" + "\n".join(bad)


def test_extreme_ids_fixture_matches_oracle(spark, tmp_path_factory):
    """Int64-BOUNDARY ids (round-9 axis): ±Long.MAX/MIN-adjacent values
    in every id column — the class that found four id-arithmetic
    overflows (graph convergence Σ label, the stream fingerprint Σ id,
    DuckDB's << raising where Spark's wraps, and the upsert insert-key
    mint key + max(key)). Pin the fixed ops plus the id-heavy surface
    around them."""
    aa = _audit_module()
    out = str(tmp_path_factory.mktemp("sf_extreme_ids"))
    aa.build_extreme_ids(out, 4)
    ops = [
        "fn_bitwise", "sink_upsert", "stream_source",
        "agg_bitmap_distinct", "fn_hash", "mr_partition",
        "agg_salted_twophase", "llm_dedup_exact", "win_ranking",
        "join_inner_equi",
    ]
    bad = oracle_mismatches(spark, out, ops)
    assert not bad, "extreme-id divergence:\n" + "\n".join(bad)
    # graph_components' oracle needs the graph edge derivation —
    # covered by the full-registry audit sweep; here pin that the
    # decimal convergence sum at least executes on boundary ids
    import __spark_entry__ as entry

    assert entry.queries()["graph_components"](spark, out).count() > 0


def test_statestore_stderr_classifier():
    """Round-11 ADVICE #4: the streamstate smoke's stderr scan must be
    LEVEL-anchored — benign INFO lines that merely mention an error,
    class names containing 'Error', or the coordinator's snapshot-lag
    WARN report must not count; real WARN/ERROR
    headers and JVM exception headers (even 2-3 lines below the
    provider tag) must."""
    from scale_smoke import _count_statestore_hits

    benign = "\n".join([
        # INFO mentioning an error-ish word near a store tag
        "25/08/16 10:00:00 INFO RocksDBStateStoreProvider: loaded, "
        "0 errors recovered",
        "25/08/16 10:00:01 INFO StateStore: Error-free maintenance tick",
        # class NAME containing Error at non-header position
        "25/08/16 10:00:02 INFO TaskSetManager: scheduled "
        "org.apache.spark.util.ErrorHandlerStateStore probe",
        # WARN with no store context anywhere nearby
        "25/08/16 10:00:03 WARN Utils: your hostname resolves to a "
        "loopback address",
        # adjudicated-benign shutdown noise (temp checkpoint deleted)
        "25/08/16 10:00:04 WARN StateStoreMaintenance: Ignoring error "
        "while performing maintenance",
        "25/08/16 10:00:05 WARN HDFSBackedStateStoreProvider: "
        "java.io.FileNotFoundException: /tmp/temporary-abc "
        "FileNotFoundException on gone dir",
        # the coordinator's periodic snapshot-lag report
        "25/08/16 10:00:06 WARN StateStoreCoordinator: "
        "StateStoreCoordinator Snapshot Lag Report for "
        "queryRunId=0b9e2f4c-1d2a-4c1e-9a57-1f0e3c2d4b6a - "
        "Number of state stores falling behind: 4",
    ])
    n, lines = _count_statestore_hits(benign)
    assert n == 0, lines

    real = "\n".join([
        "25/08/16 10:01:00 WARN HDFSBackedStateStoreProvider: Error "
        "cleaning up files for operator 0",
        "some informational continuation line",
        "another continuation",
        "java.lang.IllegalStateException: Unexpected list of delta "
        "files for version 7",
        "25/08/16 10:01:02 ERROR RocksDB: commit failed for state "
        "store provider",
    ])
    n, lines = _count_statestore_hits(real)
    # header WARN + exception header 3 lines below the tag + ERROR line
    assert n == 3, lines
    assert any("IllegalStateException" in ln for ln in lines)
