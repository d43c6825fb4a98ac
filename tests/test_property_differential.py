"""Property-based differential testing (SURVEY §5.3, final leg):
hypothesis generates random query specs — filter conjunctions, group
keys, aggregate sets — which are compiled TWICE from the same spec:
once to a Spark DataFrame plan, once to DuckDB SQL. Both run over the
events fixture and must agree exactly (strict stringified compare,
harsher than the driver's canonical hash).

Spec-space design keeps every generated query inside the repo's
cross-engine determinism rules (SURVEY §5.4): aggregates are exact
(counts, integer-cents sums, min/max of 2-decimal doubles) — no
rounded averages, no FP-summation-order hazards; filters use literals
both engines parse to the identical IEEE double; group keys are exact
integer/string derivations. Examples are derandomized so CI is stable;
bump max_examples locally for a deeper fuzz. Depth record: a one-off
randomized (derandomize=False) run of 2026-08-16 (round 10) pushed
1008 examples through ALL SIXTEEN spaces at 2.5× the CI budgets —
including the round-10 additions (set-op chains over intersect/
intersect-all/except/except-all/union-distinct, and the Arrow-crossing
mapInPandas chains), each on the clean sf0.01 fixture AND its
NULL-and-non-finite-poisoned hostile twin — with ZERO divergences, so
the CI example counts are a budget choice, not the edge of what the
spaces survive. (The r9 record was 900 examples over the then-12
spaces, also 0 divergences.)
"""

from __future__ import annotations

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings

from pyspark.sql import functions as F

from pymapreduce_spark.io import TABLES
from pymapreduce_spark.testing import duck_rows, make_duckdb, spark_rows

EVENT_TYPES = ["view", "click", "purchase", "error", "login"]

#: (name, spark builder, sql fragment) — filters over events
_FILTERS = [
    (
        "value_gt",
        lambda v: F.col("value") > v,
        lambda v: f"value > {v}",
    ),
    (
        "value_le",
        lambda v: F.col("value") <= v,
        lambda v: f"value <= {v}",
    ),
    (
        "type_in",
        lambda ts: F.col("event_type").isin(ts),
        lambda ts: "event_type IN ({})".format(
            ", ".join(f"'{t}'" for t in ts)
        ),
    ),
    (
        "user_mod",
        lambda kr: (F.col("user_id") % kr[0]) == kr[1],
        lambda kr: f"user_id % {kr[0]} = {kr[1]}",
    ),
]

#: (name, spark col builder, sql expr) — exact group keys (builders are
#: lazy: a Column can only be constructed once a SparkContext is live)
_KEYS = [
    ("event_type", lambda: F.col("event_type"), "event_type"),
    ("user_bucket", lambda: (F.col("user_id") % 10).alias("user_bucket"),
     "user_id % 10"),
    ("hour_of_day", lambda: F.hour("ts").alias("hour_of_day"),
     "hour(ts::TIMESTAMP)"),
]

#: (name, spark agg builder, sql agg) — exact aggregates only (§5.4)
_AGGS = [
    ("n", lambda: F.count(F.lit(1)).alias("n"), "count(*)::BIGINT AS n"),
    (
        "cents",
        # try_cast/TRY_CAST: the cents contract (checked.cents) — a
        # non-finite value is NULL, never an ANSI CAST_OVERFLOW abort,
        # so the hostile-fixture twin below can draw the same specs
        lambda: F.coalesce(
            F.sum(F.round(F.col("value") * 100).try_cast("long")), F.lit(0)
        ).alias("cents"),
        "coalesce(sum(TRY_CAST(round(value * 100) AS BIGINT)), 0)"
        "::BIGINT AS cents",
    ),
    ("vmin", lambda: F.min("value").alias("vmin"), "min(value) AS vmin"),
    ("vmax", lambda: F.max("value").alias("vmax"), "max(value) AS vmax"),
    (
        "users",
        lambda: F.count_distinct("user_id").alias("users"),
        "count(DISTINCT user_id)::BIGINT AS users",
    ),
]


@st.composite
def query_spec(draw):
    filters = []
    if draw(st.booleans()):
        v = draw(st.integers(0, 300))
        which = draw(st.sampled_from(["value_gt", "value_le"]))
        filters.append((which, float(v)))
    if draw(st.booleans()):
        ts = draw(
            st.lists(
                st.sampled_from(EVENT_TYPES), min_size=1, max_size=4,
                unique=True,
            )
        )
        filters.append(("type_in", ts))
    if draw(st.booleans()):
        k = draw(st.integers(2, 7))
        filters.append(("user_mod", (k, draw(st.integers(0, 1)))))
    keys = draw(
        st.lists(
            st.sampled_from([k[0] for k in _KEYS]),
            min_size=0, max_size=2, unique=True,
        )
    )
    aggs = draw(
        st.lists(
            st.sampled_from([a[0] for a in _AGGS]),
            min_size=1, max_size=3, unique=True,
        )
    )
    return filters, sorted(keys), sorted(aggs)


def _run_spec(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    filters, keys, aggs = spec
    fmap = {f[0]: f for f in _FILTERS}
    kmap = {k[0]: k for k in _KEYS}
    amap = {a[0]: a for a in _AGGS}

    df = load_table(spark, sf_dir, "events")
    conds_sql = []
    for name, arg in filters:
        _, build, sql = fmap[name]
        df = df.where(build(arg))
        conds_sql.append(sql(arg))
    key_cols = [kmap[k][1]() for k in keys]
    agg_cols = [amap[a][1]() for a in aggs]
    sdf = (
        df.groupBy(*key_cols).agg(*agg_cols) if keys else df.agg(*agg_cols)
    )

    sql = "SELECT "
    sql += ", ".join(
        [f"{kmap[k][2]} AS {k}" for k in keys] + [amap[a][2] for a in aggs]
    )
    sql += " FROM events"
    if conds_sql:
        sql += " WHERE " + " AND ".join(conds_sql)
    if keys:
        sql += " GROUP BY " + ", ".join(kmap[k][2] for k in keys)

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=query_spec())
def test_random_agg_queries_match_duckdb(spark, duck, sf_dir, spec):
    _run_spec(spark, duck, sf_dir, spec)


# ---- documents-table twin: the text-analytics spec space ----------

LANGS = ["de", "en", "es", "fr", "zh"]

_DOC_FILTERS = [
    (
        "chars_gt",
        lambda v: F.col("n_chars") > v,
        lambda v: f"n_chars > {v}",
    ),
    (
        "chars_le",
        lambda v: F.col("n_chars") <= v,
        lambda v: f"n_chars <= {v}",
    ),
    (
        "lang_in",
        lambda ls: F.col("lang").isin(ls),
        lambda ls: "lang IN ({})".format(
            ", ".join(f"'{x}'" for x in ls)
        ),
    ),
    (
        "doc_mod",
        lambda kr: (F.col("doc_id") % kr[0]) == kr[1],
        lambda kr: f"doc_id % {kr[0]} = {kr[1]}",
    ),
]

_DOC_KEYS = [
    ("lang", lambda: F.col("lang"), "lang"),
    ("source", lambda: F.col("source"), "source"),
    # exact integer length band — identical derivation both engines
    # (n_chars is non-negative, so DIV == floor-div == DuckDB //)
    ("len_band", lambda: F.expr("n_chars DIV 100").alias("len_band"),
     "n_chars // 100"),
]

_DOC_AGGS = [
    ("n", lambda: F.count(F.lit(1)).alias("n"), "count(*)::BIGINT AS n"),
    (
        "chars",
        lambda: F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars"),
        "coalesce(sum(n_chars), 0)::BIGINT AS chars",
    ),
    (
        "words",
        # whitespace word count via the same split on both engines
        lambda: F.coalesce(
            F.sum(F.size(F.split("text", " ")).cast("long")), F.lit(0)
        ).alias("words"),
        "coalesce(sum(len(str_split(text, ' '))), 0)::BIGINT AS words",
    ),
    (
        "id_min",
        lambda: F.min("doc_id").alias("id_min"),
        "min(doc_id) AS id_min",
    ),
    (
        "langs",
        lambda: F.count_distinct("lang").alias("langs"),
        "count(DISTINCT lang)::BIGINT AS langs",
    ),
]


@st.composite
def doc_query_spec(draw):
    filters = []
    if draw(st.booleans()):
        v = draw(st.integers(0, 600))
        which = draw(st.sampled_from(["chars_gt", "chars_le"]))
        filters.append((which, v))
    if draw(st.booleans()):
        ls = draw(
            st.lists(st.sampled_from(LANGS), min_size=1, max_size=3,
                     unique=True)
        )
        filters.append(("lang_in", ls))
    if draw(st.booleans()):
        k = draw(st.integers(2, 7))
        filters.append(("doc_mod", (k, draw(st.integers(0, 1)))))
    keys = draw(
        st.lists(st.sampled_from([k[0] for k in _DOC_KEYS]),
                 min_size=0, max_size=2, unique=True)
    )
    aggs = draw(
        st.lists(st.sampled_from([a[0] for a in _DOC_AGGS]),
                 min_size=1, max_size=3, unique=True)
    )
    return filters, sorted(keys), sorted(aggs)


def _run_doc_spec(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    filters, keys, aggs = spec
    fmap = {f[0]: f for f in _DOC_FILTERS}
    kmap = {k[0]: k for k in _DOC_KEYS}
    amap = {a[0]: a for a in _DOC_AGGS}

    df = load_table(spark, sf_dir, "documents")
    conds_sql = []
    for name, arg in filters:
        _, build, sql = fmap[name]
        df = df.where(build(arg))
        conds_sql.append(sql(arg))
    key_cols = [kmap[k][1]() for k in keys]
    agg_cols = [amap[a][1]() for a in aggs]
    sdf = (
        df.groupBy(*key_cols).agg(*agg_cols) if keys else df.agg(*agg_cols)
    )

    sql = "SELECT "
    sql += ", ".join(
        [f"{kmap[k][2]} AS {k}" for k in keys] + [amap[a][2] for a in aggs]
    )
    sql += " FROM documents"
    if conds_sql:
        sql += " WHERE " + " AND ".join(conds_sql)
    if keys:
        sql += " GROUP BY " + ", ".join(kmap[k][2] for k in keys)

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=doc_query_spec())
def test_random_doc_queries_match_duckdb(spark, duck, sf_dir, spec):
    _run_doc_spec(spark, duck, sf_dir, spec)


# ---- generic runner for the round-7 spec spaces --------------------


def _diff_spec(spark, duck, spec, space, base_df):
    """Compile one (filters, keys, aggs) spec to a Spark plan AND a
    DuckDB statement from the same table mappings, run both, strict
    stringified compare (the same harshness as the driver-sim)."""
    filters, keys, aggs = spec
    fmap = {f[0]: f for f in space["filters"]}
    kmap = {k[0]: k for k in space["keys"]}
    amap = {a[0]: a for a in space["aggs"]}

    df = base_df
    conds_sql = []
    for name, arg in filters:
        _, build, sql = fmap[name]
        df = df.where(build(arg))
        conds_sql.append(sql(arg))
    key_cols = [kmap[k][1]() for k in keys]
    agg_cols = [amap[a][1]() for a in aggs]
    sdf = (
        df.groupBy(*key_cols).agg(*agg_cols) if keys else df.agg(*agg_cols)
    )

    sql = "SELECT " + ", ".join(
        [f"{kmap[k][2]} AS {k}" for k in keys] + [amap[a][2] for a in aggs]
    )
    sql += f" FROM {space['from_sql']}"
    if conds_sql:
        sql += " WHERE " + " AND ".join(conds_sql)
    if keys:
        sql += " GROUP BY " + ", ".join(kmap[k][2] for k in keys)

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


def _spec_strategy(space):
    """Spec strategy over a space: optional draw per filter family,
    0-2 group keys, 1-3 aggregates (all unique, sorted → stable ids)."""

    @st.composite
    def spec(draw):
        filters = []
        for fam in space["filter_families"]:
            if draw(st.booleans()):
                name = draw(st.sampled_from(fam["names"]))
                filters.append((name, draw(fam["arg"])))
        keys = draw(
            st.lists(st.sampled_from([k[0] for k in space["keys"]]),
                     min_size=0, max_size=2, unique=True)
        )
        aggs = draw(
            st.lists(st.sampled_from([a[0] for a in space["aggs"]]),
                     min_size=1, max_size=3, unique=True)
        )
        return filters, sorted(keys), sorted(aggs)

    return spec()


# ---- embeddings: array columns + higher-order functions ------------
#
# Spec-space determinism notes: element/threshold comparisons are exact
# (identical float32 bits promote to the identical double on both
# engines); every aggregate is an exact integer derivation (counts,
# HOF-filter sizes) — no FP summation anywhere. Spark arrays and DuckDB
# lists are both 1-indexed, so element_at(embedding, i) == embedding[i].

_EMB_SPACE = {
    "from_sql": "embeddings",
    "filters": [
        (
            "vec_mod",
            lambda kr: (F.col("vec_id") % kr[0]) == kr[1],
            lambda kr: f"vec_id % {kr[0]} = {kr[1]}",
        ),
        (
            "label_in",
            lambda ls: F.col("label").isin(ls),
            lambda ls: "label IN ({})".format(
                ", ".join(str(x) for x in ls)
            ),
        ),
        (
            "first_elem_gt",
            lambda v: F.element_at("embedding", 1) > v,
            lambda v: f"embedding[1] > {v!r}",
        ),
        (
            "elem_i_pos",
            lambda i: F.element_at("embedding", i) > 0.0,
            lambda i: f"embedding[{i}] > 0.0",
        ),
    ],
    "filter_families": [
        {
            "names": ["vec_mod"],
            "arg": st.tuples(st.integers(2, 7), st.integers(0, 1)),
        },
        {
            "names": ["label_in"],
            "arg": st.lists(st.integers(0, 9), min_size=1, max_size=4,
                            unique=True),
        },
        {
            "names": ["first_elem_gt", "elem_i_pos"],
            # both interpretations are valid draws: first_elem_gt gets a
            # small float-exact threshold, elem_i_pos an index — the
            # strategy yields an int 1..32 usable as either (as a
            # threshold it is never met by unit-norm-ish floats, which
            # exercises the empty-result path)
            "arg": st.integers(1, 32),
        },
    ],
    "keys": [
        ("label", lambda: F.col("label"), "label"),
        ("vec_band", lambda: F.expr("vec_id DIV 100").alias("vec_band"),
         "vec_id // 100"),
    ],
    "aggs": [
        ("n", lambda: F.count(F.lit(1)).alias("n"),
         "count(*)::BIGINT AS n"),
        (
            # total dimensionality: exact integer HOF-free array op
            "dims",
            lambda: F.coalesce(
                F.sum(F.size("embedding").cast("long")), F.lit(0)
            ).alias("dims"),
            "coalesce(sum(len(embedding)), 0)::BIGINT AS dims",
        ),
        (
            # HOF lambda filter: count of strictly-positive elements
            "n_pos",
            lambda: F.coalesce(
                F.sum(
                    F.size(
                        F.filter("embedding", lambda x: x > F.lit(0.0))
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_pos"),
            "coalesce(sum(len(list_filter(embedding, x -> x > 0.0))), 0)"
            "::BIGINT AS n_pos",
        ),
        (
            # HOF transform→filter chain: elements whose square > 0.01
            "n_big",
            lambda: F.coalesce(
                F.sum(
                    F.size(
                        F.filter(
                            F.transform("embedding", lambda x: x * x),
                            lambda s: s > F.lit(0.01),
                        )
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_big"),
            "coalesce(sum(len(list_filter(list_transform(embedding, "
            "x -> x * x), s -> s > 0.01))), 0)::BIGINT AS n_big",
        ),
        (
            "id_min",
            lambda: F.min("vec_id").alias("id_min"),
            "min(vec_id) AS id_min",
        ),
        (
            "labels",
            lambda: F.count_distinct("label").alias("labels"),
            "count(DISTINCT label)::BIGINT AS labels",
        ),
    ],
}


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=_spec_strategy(_EMB_SPACE))
def test_random_embedding_queries_match_duckdb(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    _diff_spec(
        spark, duck, spec, _EMB_SPACE,
        load_table(spark, sf_dir, "embeddings"),
    )


# ---- orders ⋈ lineitem: the join spec space ------------------------
#
# Every spec runs over the equi-join (the first differential coverage
# of a JOIN in the property suite — the per-table spaces can never
# catch a join-shape defect). Aggregates stay exact: counts, integer
# cents, count-distinct over join keys.

_JOIN_SPACE = {
    "from_sql": "orders JOIN lineitem ON l_orderkey = o_orderkey",
    "filters": [
        (
            "status_in",
            lambda ss: F.col("o_orderstatus").isin(ss),
            lambda ss: "o_orderstatus IN ({})".format(
                ", ".join(f"'{s}'" for s in ss)
            ),
        ),
        (
            "qty_gt",
            lambda v: F.col("l_quantity") > v,
            lambda v: f"l_quantity > {v}",
        ),
        (
            "qty_le",
            lambda v: F.col("l_quantity") <= v,
            lambda v: f"l_quantity <= {v}",
        ),
        (
            "ship_year_ge",
            lambda y: F.year("l_shipdate") >= y,
            lambda y: f"year(l_shipdate) >= {y}",
        ),
        (
            "flag_in",
            lambda fs: F.col("l_returnflag").isin(fs),
            lambda fs: "l_returnflag IN ({})".format(
                ", ".join(f"'{s}'" for s in fs)
            ),
        ),
    ],
    "filter_families": [
        {
            "names": ["status_in"],
            "arg": st.lists(st.sampled_from(["P", "O", "F"]),
                            min_size=1, max_size=2, unique=True),
        },
        {
            "names": ["qty_gt", "qty_le"],
            "arg": st.integers(0, 50),
        },
        {"names": ["ship_year_ge"], "arg": st.integers(1995, 2002)},
        {
            "names": ["flag_in"],
            "arg": st.lists(st.sampled_from(["A", "N", "R"]),
                            min_size=1, max_size=2, unique=True),
        },
    ],
    "keys": [
        ("l_returnflag", lambda: F.col("l_returnflag"), "l_returnflag"),
        ("o_orderpriority", lambda: F.col("o_orderpriority"),
         "o_orderpriority"),
        ("l_linestatus", lambda: F.col("l_linestatus"), "l_linestatus"),
    ],
    "aggs": [
        ("n", lambda: F.count(F.lit(1)).alias("n"),
         "count(*)::BIGINT AS n"),
        (
            "price_cents",
            lambda: F.coalesce(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ),
                F.lit(0),
            ).alias("price_cents"),
            "coalesce(sum(round(l_extendedprice * 100)::BIGINT), 0)"
            "::BIGINT AS price_cents",
        ),
        (
            "qty_total",
            lambda: F.coalesce(
                F.sum(F.col("l_quantity").cast("long")), F.lit(0)
            ).alias("qty_total"),
            "coalesce(sum(l_quantity::BIGINT), 0)::BIGINT AS qty_total",
        ),
        (
            "orders",
            lambda: F.count_distinct("o_orderkey").alias("orders"),
            "count(DISTINCT o_orderkey)::BIGINT AS orders",
        ),
        (
            "key_min",
            lambda: F.min("l_orderkey").alias("key_min"),
            "min(l_orderkey) AS key_min",
        ),
    ],
}


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=_spec_strategy(_JOIN_SPACE))
def test_random_join_queries_match_duckdb(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    base = load_table(spark, sf_dir, "orders").join(
        load_table(spark, sf_dir, "lineitem"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    _diff_spec(spark, duck, spec, _JOIN_SPACE, base)


# ---- hostile-fixture twin: the same generated spec space over a ----
# rebuild carrying every round-7 hostile-input class at once (NaN /
# ±Inf / NULL values, unicode + empty group keys, duplicate fact keys
# with divergent payloads). Each drawn spec composes filters × keys ×
# aggregates over the damage — generative coverage of the interactions
# the hand-written axes sample pointwise. Works because the spec space
# is already hostile-closed: cents goes through try_cast (the checked
# contract), min/max/comparisons agree on NaN (both engines sort it
# greatest), and COUNT/DISTINCT are content-agnostic.


@pytest.fixture(scope="module")
def hostile_events_sf(tmp_path_factory):
    import os as _os

    import numpy as _np
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from conftest import ADVERSARIAL_SRC as src

    rng = _np.random.RandomState(7)
    base = tmp_path_factory.mktemp("sf_hostile_prop")
    for t in TABLES:
        tb = _pq.read_table(_os.path.join(src, f"{t}.parquet"))
        if t == "events":
            v = tb["value"].to_pylist()
            v[0] = float("nan")
            v[1] = float("inf")
            v[2] = float("-inf")
            for i in rng.choice(len(v), size=len(v) // 20, replace=False):
                v[i] = None
            tb = tb.set_column(
                tb.schema.get_field_index("value"), "value",
                _pa.array(v, type=_pa.float64()),
            )
            et = tb["event_type"].to_pylist()
            uni = ["购买事件", "🛒🔥", "ßße", "", " padded "]
            for j, i in enumerate(range(0, len(et), 31)):
                et[i] = uni[j % len(uni)]
            tb = tb.set_column(
                tb.schema.get_field_index("event_type"), "event_type",
                _pa.array(et, type=_pa.string()),
            )
            rows = tb.to_pylist()
            extra = []
            for i in range(0, len(rows), 47):
                r = dict(rows[i])
                r["value"] = 7.25
                r["event_type"] = "collision"
                extra.append(r)
            tb = _pa.Table.from_pylist(rows + extra, schema=tb.schema)
        _pq.write_table(tb, str(base / f"{t}.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def hostile_duck(hostile_events_sf):
    con = make_duckdb(hostile_events_sf)
    yield con
    con.close()


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=query_spec())
def test_random_agg_queries_match_duckdb_hostile(
    spark, hostile_duck, hostile_events_sf, spec
):
    _run_spec(spark, hostile_duck, hostile_events_sf, spec)


# ---- window-spec space: the subtlest engine-divergence surface -----
#
# Round-7 verdict task 6. Specs draw partition keys × an order key with
# EXPLICIT direction and NULLS FIRST/LAST × ranking/offset/frame
# functions (rows + range frames). The assembled text is ONE ANSI SQL
# string executed by BOTH engines (spark.sql over a temp view, duckdb
# over the parquet view) — any divergence is a genuine engine-semantics
# split, not a translation artifact. Determinism rules: row_number/
# lag/lead/frame counts always carry an event_id total-order tie-break;
# rank/dense_rank deliberately order by the primary key ALONE (their
# values are tie-insensitive); range frames order by the numeric key
# alone (peers share the frame by definition).

_WIN_FUNCS = {
    "rn": "row_number() OVER ({total}) AS rn",
    "rk": "rank() OVER ({primary}) AS rk",
    "drk": "dense_rank() OVER ({primary}) AS drk",
    "lagv": "lag(value, 1) OVER ({total}) AS lagv",
    "leadv": "lead(value, 1) OVER ({total}) AS leadv",
    "runc": "count(*) OVER ({total} ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) AS runc",
    "runsum": "sum(TRY_CAST(round(value * 100) AS BIGINT)) OVER ({total}"
              " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum",
    "slidec": "count(*) OVER ({total} ROWS BETWEEN 3 PRECEDING"
              " AND 1 FOLLOWING) AS slidec",
    "rangesum": "sum(TRY_CAST(round(value * 100) AS BIGINT)) OVER"
                " ({range_w}) AS rangesum",
}


@st.composite
def window_spec(draw):
    parts = draw(
        st.lists(
            st.sampled_from(["event_type", "user_id % 10"]),
            max_size=2,
            unique=True,
        )
    )
    primary = draw(st.sampled_from(["value", "ts", "event_id"]))
    direction = draw(st.sampled_from(["ASC", "DESC"]))
    nulls = draw(st.sampled_from(["NULLS FIRST", "NULLS LAST"]))
    funcs = draw(
        st.lists(
            st.sampled_from(sorted(_WIN_FUNCS)),
            min_size=1,
            max_size=3,
            unique=True,
        )
    )
    if "rangesum" in funcs and primary != "value":
        funcs = [f for f in funcs if f != "rangesum"] or ["rn"]
    return sorted(parts), primary, direction, nulls, sorted(funcs)


def _window_sql(spec, table: str) -> str:
    parts, primary, direction, nulls, funcs = spec
    part_clause = f"PARTITION BY {', '.join(parts)} " if parts else ""
    primary_w = f"{part_clause}ORDER BY {primary} {direction} {nulls}"
    total_w = f"{primary_w}, event_id ASC"
    range_w = (
        f"{part_clause}ORDER BY value {direction} {nulls}"
        " RANGE BETWEEN 50.0 PRECEDING AND CURRENT ROW"
    )
    cols = [
        _WIN_FUNCS[f].format(total=total_w, primary=primary_w, range_w=range_w)
        for f in funcs
    ]
    return f"SELECT event_id, {', '.join(cols)} FROM {table}"


def _run_window_spec(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_winprop"
    )
    sdf = spark.sql(_window_sql(spec, "events_winprop"))
    got = spark_rows(sdf)
    want = duck_rows(duck, _window_sql(spec, "events"))
    assert got == want, (
        f"spec {spec}\nsql {_window_sql(spec, 'events')}\n"
        f"{got[:3]} vs {want[:3]}"
    )


@settings(
    max_examples=30,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=window_spec())
def test_random_window_queries_match_duckdb(spark, duck, sf_dir, spec):
    _run_window_spec(spark, duck, sf_dir, spec)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=window_spec())
def test_random_window_queries_match_duckdb_hostile(
    spark, hostile_duck, hostile_events_sf, spec
):
    """The window spec space over the NaN/±Inf/NULL-injected events
    twin: non-finite values and NULLs land in order keys, so this is
    where NULLS FIRST/LAST defaults, NaN sort position (greatest in
    both engines), and range-frame NULL/NaN peer groups would split."""
    _run_window_spec(spark, hostile_duck, hostile_events_sf, spec)


# ---- time-bucketing spec space: the round-8 clock-doctrine surface --
#
# Every bucketer is a (Spark DataFrame builder, DuckDB SQL expr) pair
# PROVEN aligned: date_trunc goes through the engine's trunc_ntz helper
# (stays NTZ; both engines truncate weeks to Monday), and tumbling
# window() matches time_bucket for sub-day sizes because both origins
# are midnight-aligned. The one genuine split is MULTI-DAY tumbling:
# Spark's window() aligns to the 1970-01-01 epoch (a THURSDAY) while
# DuckDB's time_bucket aligns to 2000-01-03 (a Monday, chosen for ISO
# weeks) — measured: 2024-01-05 lands in [2024-01-04,..) vs
# [2024-01-01,..). The 7-day bucketer therefore pins the doctrine:
# cross-engine multi-day tumbling REQUIRES an explicit common origin
# (Spark startTime='4 days' shifts the epoch-Thursday to a Monday).
# NULL event times are excluded uniformly (Spark's window() silently
# drops NULL-ts rows while date_trunc keeps a NULL group — the null-ts
# doctrine's known asymmetry).

_BUCKETERS = [
    ("trunc_hour",
     lambda: F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz"),
     "date_trunc('hour', ts)"),
    ("trunc_day",
     lambda: F.date_trunc("day", F.col("ts")).cast("timestamp_ntz"),
     "date_trunc('day', ts)::TIMESTAMP"),
    ("trunc_week",
     lambda: F.date_trunc("week", F.col("ts")).cast("timestamp_ntz"),
     "date_trunc('week', ts)::TIMESTAMP"),
    ("trunc_month",
     lambda: F.date_trunc("month", F.col("ts")).cast("timestamp_ntz"),
     "date_trunc('month', ts)::TIMESTAMP"),
    ("trunc_quarter",
     lambda: F.date_trunc("quarter", F.col("ts")).cast("timestamp_ntz"),
     "date_trunc('quarter', ts)::TIMESTAMP"),
    ("win_15m",
     lambda: F.window("ts", "15 minutes").getField("start"),
     "time_bucket(INTERVAL '15 minutes', ts)"),
    ("win_1h",
     lambda: F.window("ts", "1 hour").getField("start"),
     "time_bucket(INTERVAL '1 hour', ts)"),
    ("win_6h",
     lambda: F.window("ts", "6 hours").getField("start"),
     "time_bucket(INTERVAL '6 hours', ts)"),
    ("win_1d",
     lambda: F.window("ts", "1 day").getField("start"),
     "time_bucket(INTERVAL '1 day', ts)"),
    ("win_7d_monday",
     lambda: F.window("ts", "7 days", "7 days", "4 days").getField("start"),
     "time_bucket(INTERVAL '7 days', ts)"),
]


@st.composite
def bucket_spec(draw):
    bucketer = draw(st.sampled_from([b[0] for b in _BUCKETERS]))
    with_type = draw(st.booleans())
    aggs = draw(
        st.lists(
            st.sampled_from([a[0] for a in _AGGS]),
            min_size=1, max_size=2, unique=True,
        )
    )
    vfilter = draw(st.one_of(st.none(), st.integers(0, 300)))
    return bucketer, with_type, sorted(aggs), vfilter


def _run_bucket_spec(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    bucketer, with_type, aggs, vfilter = spec
    bmap = {b[0]: b for b in _BUCKETERS}
    amap = {a[0]: a for a in _AGGS}

    df = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    conds = ["ts IS NOT NULL"]
    if vfilter is not None:
        df = df.where(F.col("value") > float(vfilter))
        conds.append(f"value > {vfilter}")
    keys = [bmap[bucketer][1]().alias("bucket")]
    sql_keys = [f"{bmap[bucketer][2]} AS bucket"]
    if with_type:
        keys.append(F.col("event_type"))
        sql_keys.append("event_type")
    sdf = df.groupBy(*keys).agg(*[amap[a][1]() for a in aggs])

    sql = "SELECT " + ", ".join(sql_keys + [amap[a][2] for a in aggs])
    sql += " FROM events WHERE " + " AND ".join(conds)
    sql += " GROUP BY " + ", ".join(
        [bmap[bucketer][2]] + (["event_type"] if with_type else [])
    )

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=30,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=bucket_spec())
def test_random_time_bucket_queries_match_duckdb(spark, duck, sf_dir, spec):
    _run_bucket_spec(spark, duck, sf_dir, spec)


# ---- string-expression space: the llm family's most-used surface ---
# Generated CHAINS of string transforms (1-3 deep) over documents.text,
# reduced to a small exact terminal (length / find-position / an md5
# nibble) and group-counted. Each op carries BOTH engines' SQL fragment
# builders because the dialects name things differently (instr/strpos,
# md5-over-binary vs md5-over-text); semantics were probed to be
# identical on ASCII corpus text (unicode case-folding splits engines —
# that hazard is pinned separately by the unicode axis, so the space
# stays inside ASCII fixtures by construction).

_STR_TRANSFORMS = [
    ("upper", lambda e: f"upper({e})", lambda e: f"upper({e})"),
    ("lower", lambda e: f"lower({e})", lambda e: f"lower({e})"),
    ("reverse", lambda e: f"reverse({e})", lambda e: f"reverse({e})"),
    ("trim", lambda e: f"trim({e})", lambda e: f"trim({e})"),
    ("sub5", lambda e: f"substr({e}, 3, 12)", lambda e: f"substr({e}, 3, 12)"),
    ("left7", lambda e: f"left({e}, 7)", lambda e: f"left({e}, 7)"),
    ("repl", lambda e: f"replace({e}, 'a', '#')",
     lambda e: f"replace({e}, 'a', '#')"),
    ("lpad9", lambda e: f"lpad({e}, 9, '_')",
     lambda e: f"lpad({e}, 9, '_')"),
]

_STR_TERMINALS = [
    ("len", lambda e: f"length({e})", lambda e: f"length({e})"),
    ("findpos", lambda e: f"instr({e}, 'data')",
     lambda e: f"strpos({e}, 'data')"),
    ("md5nib", lambda e: f"substr(md5(cast({e} AS binary)), 1, 2)",
     lambda e: f"substr(md5({e}), 1, 2)"),
]


@st.composite
def string_chain_spec(draw):
    chain = draw(
        st.lists(
            st.sampled_from([t[0] for t in _STR_TRANSFORMS]),
            min_size=1, max_size=3,
        )
    )
    terminal = draw(st.sampled_from([t[0] for t in _STR_TERMINALS]))
    return chain, terminal


@settings(
    max_examples=30,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=string_chain_spec())
def test_random_string_chains_match_duckdb(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    chain, terminal = spec
    tmap = {t[0]: t for t in _STR_TRANSFORMS}
    mmap = {t[0]: t for t in _STR_TERMINALS}
    s_expr, d_expr = "text", "text"
    for name in chain:
        _, s_fn, d_fn = tmap[name]
        s_expr, d_expr = s_fn(s_expr), d_fn(d_expr)
    _, s_fn, d_fn = mmap[terminal]
    s_expr, d_expr = s_fn(s_expr), d_fn(d_expr)

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    sdf = (
        docs.select(F.expr(s_expr).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    sql = (
        f"SELECT {d_expr} AS k, count(*) AS n FROM documents "
        "WHERE text IS NOT NULL GROUP BY 1"
    )
    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nspark {s_expr}\nduck {d_expr}"


# ---------------------------------------------------------------------------
# Composed-pipeline chains (round-8 verdict task 6): random 2-4-op
# chains — lineitem filter → ⋈ orders (optionally filtered) → exact
# aggregate → optional ranking window — compiled twice from ONE spec.
# The single-op spaces above can't see cross-stage interactions (a
# push-down filter changing join selectivity that feeds a window's tie
# structure); chains exercise exactly that composition surface.

_CH_LI_FILTERS = {
    "qty_gt": (
        lambda v: F.col("l_quantity") > v,
        lambda v: f"l_quantity > {v}",
    ),
    "flag_eq": (
        lambda s: F.col("l_returnflag") == s,
        lambda s: f"l_returnflag = '{s}'",
    ),
    "disc_ge": (
        # literals from a fixed small set both engines parse to the
        # identical IEEE double (§5.4)
        lambda d: F.col("l_discount") >= d,
        lambda d: f"l_discount >= {d}",
    ),
}

_CH_O_FILTERS = {
    "ostatus_eq": (
        lambda s: F.col("o_orderstatus") == s,
        lambda s: f"o_orderstatus = '{s}'",
    ),
    "cust_mod": (
        lambda kr: (F.col("o_custkey") % kr[0]) == kr[1],
        lambda kr: f"o_custkey % {kr[0]} = {kr[1]}",
    ),
}

_CH_KEYS = {
    "l_linestatus": (lambda: F.col("l_linestatus"), "l_linestatus"),
    "o_status": (
        lambda: F.col("o_orderstatus").alias("o_status"),
        "o_orderstatus",
    ),
    "cust_b": (
        lambda: (F.col("o_custkey") % 10).alias("cust_b"),
        "o_custkey % 10",
    ),
    "prio": (
        lambda: F.col("o_orderpriority").alias("prio"),
        "o_orderpriority",
    ),
}

_CH_AGGS = {
    "n": (lambda: F.count(F.lit(1)).alias("n"), "count(*)::BIGINT AS n"),
    "cents": (
        lambda: F.coalesce(
            F.sum(F.round(F.col("l_extendedprice") * 100).try_cast("long")),
            F.lit(0),
        ).alias("cents"),
        "coalesce(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)), 0)"
        "::BIGINT AS cents",
    ),
    "qmax": (lambda: F.max("l_quantity").alias("qmax"),
             "max(l_quantity) AS qmax"),
    "orders_n": (
        lambda: F.count_distinct("o_orderkey").alias("orders_n"),
        "count(DISTINCT o_orderkey)::BIGINT AS orders_n",
    ),
}


@st.composite
def chain_spec(draw):
    li_filters = []
    if draw(st.booleans()):
        li_filters.append(("qty_gt", float(draw(st.integers(1, 45)))))
    if draw(st.booleans()):
        li_filters.append(("flag_eq", draw(st.sampled_from("ANR"))))
    if draw(st.booleans()):
        li_filters.append(
            ("disc_ge", draw(st.sampled_from([0.02, 0.05, 0.08])))
        )
    o_filters = []
    if draw(st.booleans()):
        o_filters.append(("ostatus_eq", draw(st.sampled_from("POF"))))
    if draw(st.booleans()):
        o_filters.append(
            ("cust_mod", (draw(st.integers(2, 7)), draw(st.integers(0, 1))))
        )
    keys = sorted(
        draw(
            st.lists(
                st.sampled_from(sorted(_CH_KEYS)),
                min_size=1, max_size=2, unique=True,
            )
        )
    )
    aggs = sorted(
        draw(
            st.lists(
                st.sampled_from(sorted(_CH_AGGS)),
                min_size=1, max_size=2, unique=True,
            )
        )
    )
    use_window = draw(st.booleans())
    rank_by = draw(st.sampled_from(aggs))
    return li_filters, o_filters, keys, aggs, use_window, rank_by


def _run_chain_spec(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table
    from pyspark.sql import Window

    li_filters, o_filters, keys, aggs, use_window, rank_by = spec
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li_sql, o_sql = [], []
    for name, arg in li_filters:
        build, sql = _CH_LI_FILTERS[name]
        li = li.where(build(arg))
        li_sql.append(sql(arg))
    for name, arg in o_filters:
        build, sql = _CH_O_FILTERS[name]
        o = o.where(build(arg))
        o_sql.append(sql(arg))
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    sdf = j.groupBy(*[_CH_KEYS[k][0]() for k in keys]).agg(
        *[_CH_AGGS[a][0]() for a in aggs]
    )
    if use_window:
        # rank groups globally: the agg column may tie, so the full key
        # list tie-breaks to a total (deterministic) order in BOTH
        # engines. The window input is the aggregate (group-cardinality
        # rows), so the single-partition window is bounded by design.
        w = Window.orderBy(F.desc(rank_by), *keys)
        sdf = sdf.withColumn("rk", F.row_number().over(w))

    conds = " AND ".join(li_sql + o_sql)
    base = "SELECT "
    base += ", ".join(
        [f"{_CH_KEYS[k][1]} AS {k}" for k in keys]
        + [_CH_AGGS[a][1] for a in aggs]
    )
    base += " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    if conds:
        base += f" WHERE {conds}"
    base += " GROUP BY " + ", ".join(_CH_KEYS[k][1] for k in keys)
    if use_window:
        order = ", ".join([f"{rank_by} DESC"] + keys)
        sql = (
            f"SELECT *, row_number() OVER (ORDER BY {order}) AS rk"
            f" FROM ({base})"
        )
    else:
        sql = base

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=30,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=chain_spec())
def test_random_chain_pipelines_match_duckdb(spark, duck, sf_dir, spec):
    _run_chain_spec(spark, duck, sf_dir, spec)


@st.composite
def event_chain_spec(draw):
    """filter → agg → window over events, reusing the single-op agg
    space: ranks grouped results by one drawn aggregate."""
    filters, keys, aggs = draw(query_spec())
    if not keys:
        keys = ["event_type"]  # the window needs keys for a total order
    rank_by = draw(st.sampled_from(aggs))
    return filters, keys, aggs, rank_by


def _run_event_chain_spec(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table
    from pyspark.sql import Window

    filters, keys, aggs, rank_by = spec
    fmap = {f[0]: f for f in _FILTERS}
    kmap = {k[0]: k for k in _KEYS}
    amap = {a[0]: a for a in _AGGS}

    df = load_table(spark, sf_dir, "events")
    conds = []
    for name, arg in filters:
        _, build, sql = fmap[name]
        df = df.where(build(arg))
        conds.append(sql(arg))
    sdf = df.groupBy(*[kmap[k][1]() for k in keys]).agg(
        *[amap[a][1]() for a in aggs]
    )
    # NULL group keys are real groups (a NULL ts hour, etc.): order
    # them identically in both engines (Spark ASC = NULLS FIRST;
    # DuckDB defaults NULLS LAST) — pin NULLS FIRST in the SQL.
    w = Window.orderBy(F.desc(rank_by), *[F.asc(k) for k in keys])
    sdf = sdf.withColumn("rk", F.row_number().over(w))

    base = "SELECT "
    base += ", ".join(
        [f"{kmap[k][2]} AS {k}" for k in keys] + [amap[a][2] for a in aggs]
    )
    base += " FROM events"
    if conds:
        base += " WHERE " + " AND ".join(conds)
    base += " GROUP BY " + ", ".join(kmap[k][2] for k in keys)
    order = ", ".join(
        [f"{rank_by} DESC"] + [f"{k} ASC NULLS FIRST" for k in keys]
    )
    sql = (
        f"SELECT *, row_number() OVER (ORDER BY {order}) AS rk"
        f" FROM ({base})"
    )

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=event_chain_spec())
def test_random_event_chain_pipelines_match_duckdb(spark, duck, sf_dir, spec):
    _run_event_chain_spec(spark, duck, sf_dir, spec)


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=event_chain_spec())
def test_random_event_chain_pipelines_match_duckdb_hostile(
    spark, hostile_duck, hostile_events_sf, spec
):
    """The chain space over the hostile events fixture: NULL keys/
    measures and non-finite values flowing through filter → agg →
    rank compositions — the interaction the per-op hostile twins
    can't see (a NULL group surviving the filter changes every
    downstream rank)."""
    _run_event_chain_spec(spark, hostile_duck, hostile_events_sf, spec)


# ---------------------------------------------------------------------------
# Round-10 (round-9 verdict task 6): the two surfaces with the subtlest
# cross-engine semantics enter random composition — set operations (bag
# vs set) and an Arrow-crossing mapInPandas stage (the NaN→NULL hazard).


def _draw_event_filters(draw):
    """The event filter block of query_spec, reusable by the composed
    spaces below."""
    filters = []
    if draw(st.booleans()):
        v = draw(st.integers(0, 300))
        which = draw(st.sampled_from(["value_gt", "value_le"]))
        filters.append((which, float(v)))
    if draw(st.booleans()):
        ts = draw(
            st.lists(
                st.sampled_from(EVENT_TYPES), min_size=1, max_size=4,
                unique=True,
            )
        )
        filters.append(("type_in", ts))
    if draw(st.booleans()):
        k = draw(st.integers(2, 7))
        filters.append(("user_mod", (k, draw(st.integers(0, 1)))))
    return filters


#: Spark set-op method ↔ DuckDB set-op keyword. Spark's intersect /
#: subtract are SET semantics (dedup both sides), *All are BAG
#: semantics — exactly the split SQL draws with/without ALL. union()
#: is UNION ALL, so the distinct variant composes .distinct().
_SETOPS = {
    "intersect": ("intersect", "INTERSECT"),
    "intersect_all": ("intersectAll", "INTERSECT ALL"),
    "except": ("exceptAll", None),  # placeholder; see runner
    "except_distinct": ("subtract", "EXCEPT"),
    "except_all": ("exceptAll", "EXCEPT ALL"),
    "union_distinct": (None, "UNION"),
}


@st.composite
def setop_chain_spec(draw):
    """Two independently filtered branches of events, projected to an
    exact (event_type, integer-cents) row shape, composed through a
    drawn set operation. NULL keys/cents are real rows: set ops treat
    NULL = NULL in BOTH engines (distinct-equality, not predicate
    equality), which is precisely the semantics worth fuzzing."""
    fa = _draw_event_filters(draw)
    fb = _draw_event_filters(draw)
    op = draw(
        st.sampled_from(
            ["intersect", "intersect_all", "except_distinct",
             "except_all", "union_distinct"]
        )
    )
    return fa, fb, op


def _run_setop_chain_spec(spark, duck, sf_dir, spec):
    from pymapreduce_spark.io import load_table

    fa, fb, op = spec
    fmap = {f[0]: f for f in _FILTERS}

    def branch(filters):
        df = load_table(spark, sf_dir, "events")
        conds = []
        for name, arg in filters:
            _, build, sql = fmap[name]
            df = df.where(build(arg))
            conds.append(sql(arg))
        proj = df.select(
            F.col("event_type"),
            F.round(F.col("value") * 100).try_cast("long").alias("cents"),
        )
        sql_txt = (
            "SELECT event_type,"
            " TRY_CAST(round(value * 100) AS BIGINT) AS cents FROM events"
        )
        if conds:
            sql_txt += " WHERE " + " AND ".join(conds)
        return proj, sql_txt

    a, sql_a = branch(fa)
    b, sql_b = branch(fb)
    if op == "union_distinct":
        sdf = a.union(b).distinct()
        sql = f"({sql_a}) UNION ({sql_b})"
    else:
        method, kw = {
            "intersect": ("intersect", "INTERSECT"),
            "intersect_all": ("intersectAll", "INTERSECT ALL"),
            "except_distinct": ("subtract", "EXCEPT"),
            "except_all": ("exceptAll", "EXCEPT ALL"),
        }[op]
        sdf = getattr(a, method)(b)
        sql = f"({sql_a}) {kw} ({sql_b})"

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=setop_chain_spec())
def test_random_setop_chains_match_duckdb(spark, duck, sf_dir, spec):
    _run_setop_chain_spec(spark, duck, sf_dir, spec)


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=setop_chain_spec())
def test_random_setop_chains_match_duckdb_hostile(
    spark, hostile_duck, hostile_events_sf, spec
):
    """Set ops over the hostile fixture: NULL keys and non-finite
    cents (TRY_CAST → NULL) flowing into distinct-equality — the
    NULL-pooling behavior per set-op variant, fuzzed."""
    _run_setop_chain_spec(spark, hostile_duck, hostile_events_sf, spec)


@st.composite
def arrow_chain_spec(draw):
    """filter → mapInPandas (Arrow boundary) → groupBy → exact aggs.
    The pandas stage derives scaled integer cents the doctrine way:
    non-finite/overflow → nullable-Int64 NA, never a bare float NaN —
    the exact hazard class extreme_measures documented (a NaN that
    crosses Arrow as DOUBLE NaN instead of NULL poisons every
    downstream sum)."""
    filters, keys, _aggs = draw(query_spec())
    scale = draw(st.integers(2, 9))
    return filters, keys, scale


def _run_arrow_chain_spec(spark, duck, sf_dir, spec):
    import numpy as np
    import pandas as pd

    from pymapreduce_spark.io import load_table

    filters, keys, scale = spec
    fmap = {f[0]: f for f in _FILTERS}
    kmap = {k[0]: k for k in _KEYS}

    df = load_table(spark, sf_dir, "events")
    conds = []
    for name, arg in filters:
        _, build, sql = fmap[name]
        df = df.where(build(arg))
        conds.append(sql(arg))
    narrow = df.select("event_type", "user_id", "ts", "value")

    mult = scale * 100

    def stage(batches):
        for pdf in batches:
            out = pdf[["event_type", "user_id", "ts"]].copy()
            v = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
            # half-away-from-zero, matching Spark F.round / DuckDB
            # round (np.round's half-even is the documented engine
            # split); overflow and non-finite become NA, the TRY_CAST
            # contract
            cents = np.sign(v) * np.floor(np.abs(v * mult) + 0.5)
            ok = np.isfinite(cents) & (np.abs(cents) < 2.0**63)
            out["cents_scaled"] = pd.array(
                [int(c) if good else None for c, good in zip(cents, ok)],
                dtype="Int64",
            )
            yield out

    staged = narrow.mapInPandas(
        stage,
        "event_type string, user_id bigint, ts timestamp_ntz,"
        " cents_scaled bigint",
    )
    sdf = staged.groupBy(*[kmap[k][1]() for k in keys]).agg(
        F.coalesce(F.sum("cents_scaled"), F.lit(0)).alias("cs_sum"),
        F.count(F.lit(1)).alias("n"),
    )

    sel = [f"{kmap[k][2]} AS {k}" for k in keys] + [
        f"coalesce(sum(TRY_CAST(round(value * {mult}) AS BIGINT)), 0)"
        "::BIGINT AS cs_sum",
        "count(*)::BIGINT AS n",
    ]
    sql = "SELECT " + ", ".join(sel) + " FROM events"
    if conds:
        sql += " WHERE " + " AND ".join(conds)
    if keys:
        sql += " GROUP BY " + ", ".join(kmap[k][2] for k in keys)

    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=arrow_chain_spec())
def test_random_arrow_chains_match_duckdb(spark, duck, sf_dir, spec):
    _run_arrow_chain_spec(spark, duck, sf_dir, spec)


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=arrow_chain_spec())
def test_random_arrow_chains_match_duckdb_hostile(
    spark, hostile_duck, hostile_events_sf, spec
):
    """The Arrow boundary under hostile measures: NULL and non-finite
    values cross mapInPandas as numpy NaN/inf and MUST come back as
    SQL NULLs (nullable Int64), or every downstream sum diverges."""
    _run_arrow_chain_spec(spark, hostile_duck, hostile_events_sf, spec)


# ---- cogrouped-map chains (round 11, r10 verdict #8) ----------------
# The r10-debut cogroup surface had exactly one green row and no
# randomized coverage. The subtle parts per udfs.udf_cogrouped_map:
# the key set is the UNION of both sides (full-outer; the absent side
# arrives as an EMPTY frame) and a NULL key is ONE cogroup — the SQL
# twin must join per-side aggregates with IS NOT DISTINCT FROM.

_CG_KEYS = {
    "user_bucket": (
        lambda: (F.col("user_id") % 7).alias("k"),
        "user_id % 7",
        "bigint",
    ),
    "user_id": (lambda: F.col("user_id").alias("k"), "user_id", "bigint"),
    "event_type": (
        lambda: F.col("event_type").alias("k"),
        "event_type",
        "string",
    ),
}

#: clamp |cents| below 2^36 in BOTH engines: cogroup hands pandas the
#: nullable-long cents column as float64, so per-key sums must stay
#: exactly representable (≤10k rows × 2^36 ≪ 2^53); the clamp only
#: binds on hostile extreme values, never on fixture money
_CG_CENTS_BOUND = 1 << 36


@st.composite
def cogroup_chain_spec(draw):
    """Two independently filtered branches of events, cogrouped on a
    drawn key; the pandas merge emits one reconciliation row per key
    (counts + exact cents sums per side)."""
    fa = _draw_event_filters(draw)
    fb = _draw_event_filters(draw)
    key = draw(st.sampled_from(sorted(_CG_KEYS)))
    return fa, fb, key


def _run_cogroup_chain_spec(spark, duck, sf_dir, spec):
    import pandas as pd

    from pymapreduce_spark.io import load_table

    fa, fb, key = spec
    fmap = {f[0]: f for f in _FILTERS}
    kbuild, ksql, ktype = _CG_KEYS[key]

    def branch(filters):
        df = load_table(spark, sf_dir, "events")
        conds = []
        for name, arg in filters:
            _, build, sql = fmap[name]
            df = df.where(build(arg))
            conds.append(sql(arg))
        c = F.round(F.col("value") * 100).try_cast("long")
        proj = df.select(
            kbuild(),
            F.when(F.abs(c) < F.lit(_CG_CENTS_BOUND), c).alias("c"),
        )
        inner = (
            f"SELECT {ksql} AS k, CASE WHEN"
            " abs(TRY_CAST(round(value * 100) AS BIGINT)) <"
            f" {_CG_CENTS_BOUND} THEN"
            " TRY_CAST(round(value * 100) AS BIGINT) END AS c"
            " FROM events"
        )
        if conds:
            inner += " WHERE " + " AND ".join(conds)
        return proj, inner

    a, sql_a = branch(fa)
    b, sql_b = branch(fb)

    def merge(k, adf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        (kv,) = k
        return pd.DataFrame(
            {
                "k": [kv],
                "n_a": [len(adf)],
                "n_b": [len(bdf)],
                "ca": [int(adf["c"].sum())],
                "cb": [int(bdf["c"].sum())],
            }
        )

    sdf = (
        a.groupBy("k")
        .cogroup(b.groupBy("k"))
        .applyInPandas(
            merge,
            f"k {ktype}, n_a bigint, n_b bigint, ca bigint, cb bigint",
        )
    )
    sql = f"""
    WITH a AS (
        SELECT k, count(*)::BIGINT AS n_a,
               coalesce(sum(c), 0)::BIGINT AS ca
        FROM ({sql_a}) GROUP BY k
    ), b AS (
        SELECT k, count(*)::BIGINT AS n_b,
               coalesce(sum(c), 0)::BIGINT AS cb
        FROM ({sql_b}) GROUP BY k
    )
    SELECT coalesce(a.k, b.k) AS k,
           coalesce(n_a, 0)::BIGINT AS n_a, coalesce(n_b, 0)::BIGINT AS n_b,
           coalesce(ca, 0)::BIGINT AS ca, coalesce(cb, 0)::BIGINT AS cb
    FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """
    got = spark_rows(sdf)
    want = duck_rows(duck, sql)
    assert got == want, f"spec {spec}\nsql {sql}\n{got[:3]} vs {want[:3]}"


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=cogroup_chain_spec())
def test_random_cogroup_chains_match_duckdb(spark, duck, sf_dir, spec):
    _run_cogroup_chain_spec(spark, duck, sf_dir, spec)


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=cogroup_chain_spec())
def test_random_cogroup_chains_match_duckdb_hostile(
    spark, hostile_duck, hostile_events_sf, spec
):
    """Cogroup under hostile inputs: NULL keys must form ONE cogroup
    on each side and line up across sides (IS NOT DISTINCT FROM in the
    twin); non-finite/overflow cents arrive as NULL and pandas sums
    skip them exactly like SQL sum."""
    _run_cogroup_chain_spec(spark, hostile_duck, hostile_events_sf, spec)
