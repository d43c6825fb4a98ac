"""Differential-check helpers mirroring the driver's correctness gate.

The driver compares each Spark query against its DuckDB oracle with
row-count + schema + order-insensitive value-hash over columns sorted by
name (SURVEY §5.2). This module reproduces that check locally so every
operator is validated before the driver ever sees it.

Canonicalization notes: both result sets are fetched as Python objects
(``collect()`` / ``fetchall()`` — never pandas, which coerces nullable
ints to floats), cells are rendered to stable strings, rows sorted.
Queries are responsible for rounding doubles (SURVEY §5.4.2) — the
canonical form does NOT hide precision drift beyond float repr.
"""

from __future__ import annotations

import datetime
import math
from typing import Any

import duckdb
from pyspark.sql import DataFrame, SparkSession


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with fixture views registered the way the driver does."""
    from pymapreduce_spark.io import TABLES, table_path

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def strict_rows(columns: list[str], rows) -> list[tuple[str, ...]]:
    """The strict differential form (``tools/driver_sim.py``'s rule):
    columns ordered by name, every cell rendered with ``str``, rows
    sorted. Harsher than :func:`canon_cell` on purpose — a DATE and a
    TIMESTAMP holding the same day, or a Decimal and a float holding
    the same value, render differently, so engine type skew fails
    here even when the values agree. Duplicate rows stay distinct."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(str(row[i]) for i in order) for row in rows)


def spark_rows(sdf: DataFrame) -> list[tuple[str, ...]]:
    """:func:`strict_rows` of a collected Spark DataFrame."""
    return strict_rows(sdf.columns, sdf.collect())


def duck_rows(
    con: duckdb.DuckDBPyConnection, sql: str
) -> list[tuple[str, ...]]:
    """:func:`strict_rows` of a DuckDB query's fetched rows."""
    cur = con.execute(sql)
    return strict_rows([d[0] for d in cur.description], cur.fetchall())


def oracle_mismatches(
    spark: SparkSession, sf_dir: str, names, log=None
) -> list[str]:
    """Run each named registered op on ``sf_dir`` and strict-compare it
    with its DuckDB oracle over the dir's fixture views. Returns one
    ``"<name>: <spark rows> vs <oracle rows> rows"`` line per mismatch.
    ``log``, when given, gets each mismatch line as it is found and a
    progress line every 50 ops."""
    from pymapreduce_spark.registry import ORACLES, QUERIES

    names = list(names)
    con = make_duckdb(sf_dir)
    bad: list[str] = []
    try:
        for i, name in enumerate(names):
            got = spark_rows(QUERIES[name](spark, sf_dir))
            want = duck_rows(con, ORACLES[name])
            if got != want:
                bad.append(f"{name}: {len(got)} vs {len(want)} rows")
                if log:
                    log(f"MISMATCH {bad[-1]}")
            if log and (i + 1) % 50 == 0:
                log(f"  ... {i + 1}/{len(names)} ({len(bad)} bad)")
    finally:
        con.close()
    return bad


def canon_cell(v: Any) -> str:
    """Render one cell to a canonical, engine-independent string."""
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return f"f:{float(v)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if isinstance(v, datetime.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return "t:" + datetime.datetime(v.year, v.month, v.day).isoformat(
            timespec="microseconds"
        )
    if isinstance(v, datetime.timedelta):
        return f"dt:{v.total_seconds()!r}"
    if isinstance(v, dict):
        items = sorted((str(k), canon_cell(x)) for k, x in v.items())
        return "m:{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "a:[" + ",".join(canon_cell(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return canon_cell(v.asDict())
    if hasattr(v, "tolist"):  # numpy scalar/array
        return canon_cell(v.tolist())
    return f"?:{v!r}"


def _canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon_cell(row[i]) for i in order) for row in rows)


def assert_driver_canonicalizable(name: str, spark_df: DataFrame) -> None:
    """The driver canonicalizes results with a pandas ``sort_values``
    over every column; array/map/struct cells arrive as numpy arrays or
    dicts and crash ``factorize`` (``TypeError: unhashable type`` — the
    llm_minhash_sig r3 failure). Checked-query outputs must therefore be
    scalar-only: flatten lists with array_join, structs with explicit
    column selection. (Local canon_cell handles nesting, so only this
    guard catches the class before the driver does.)"""
    from pyspark.sql import types as T

    complex_cols = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"[{name}] output has complex-typed columns the driver's pandas "
        f"canonicalizer cannot sort/hash (flatten them): {complex_cols}"
    )
    # Round-8 clock/timezone doctrine: NO query output may carry the
    # zoned TimestampType — collect() converts zoned values through the
    # driver HOST's OS timezone (datetime.fromtimestamp), silently
    # shifting every timestamp by the host's UTC offset on a non-UTC
    # machine while the DuckDB oracle stays naive. Timestamps are naive
    # wall-clock data here: emit TimestampNTZType (cast, or the
    # trunc_ntz/epoch_micros helpers in functions/checked.py).
    zoned_cols = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, T.TimestampType)
    ]
    assert not zoned_cols, (
        f"[{name}] output has zoned TimestampType columns whose collected "
        f"value depends on the driver host's OS timezone (cast to "
        f"timestamp_ntz): {zoned_cols}"
    )


def compare_frames(
    name: str,
    spark_df: DataFrame,
    duck_rel: duckdb.DuckDBPyConnection,
    oracle_sql: str,
    max_diff_report: int = 5,
    min_rows: int = 1,
) -> None:
    """Assert Spark result == DuckDB oracle result (driver-equivalent).

    ``min_rows`` defaults to 1: an empty result matching an empty
    oracle is a hash "pass" that checks nothing (the q11
    fixed-fraction lesson) — callers comparing at a scale where a
    query is legitimately empty pass ``min_rows=0`` explicitly."""
    assert_driver_canonicalizable(name, spark_df)
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    # Single oracle execution: the Arrow table serves both the schema
    # audit and the row values (to_pylist keeps ints as ints — no pandas
    # nullable-int→float coercion; no oracle emits map/struct columns,
    # so object shapes match what fetchall() produced).
    arrow_tbl = duck_rel.execute(oracle_sql).fetch_arrow_table()
    d_cols = list(arrow_tbl.schema.names)
    d_rows = [tuple(d[c] for c in d_cols) for d in arrow_tbl.to_pylist()]

    # Driver-faithful type audit: the driver fetches DuckDB results via
    # Arrow, where HUGEINT (DuckDB's sum(BIGINT) result type) becomes
    # decimal128(38,0) and hashes differently from Spark's bigint even
    # when every value is equal — any decimal column in the oracle
    # output must be cast (::BIGINT / ::DOUBLE) in the oracle SQL.
    leaks = [
        f"{f.name}:{f.type}"
        for f in arrow_tbl.schema
        if str(f.type).startswith("decimal")
    ]
    assert not leaks, (
        f"[{name}] oracle yields Arrow decimal columns (HUGEINT leak — "
        f"add ::BIGINT/::DOUBLE casts in the oracle SQL): {leaks}"
    )

    assert sorted(s_cols) == sorted(d_cols), (
        f"[{name}] column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"[{name}] row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    )
    assert len(s_rows) >= min_rows, (
        f"[{name}] vacuously empty result ({len(s_rows)} rows < "
        f"{min_rows}): an empty-vs-empty compare verifies nothing — "
        f"make the query self-normalizing or exempt it at this scale"
    )
    sc = _canon_rows(s_cols, s_rows)
    dc = _canon_rows(d_cols, d_rows)
    if sc != dc:
        diffs = []
        for i, (a, b) in enumerate(zip(sc, dc)):
            if a != b:
                diffs.append(f"  row {i}:\n    spark={a}\n    duck ={b}")
            if len(diffs) >= max_diff_report:
                break
        raise AssertionError(
            f"[{name}] value mismatch ({len(sc)} rows, cols(sorted)="
            f"{sorted(s_cols)}):\n" + "\n".join(diffs)
        )
