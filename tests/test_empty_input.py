"""Empty-input robustness: every registered query must EXECUTE on a
fixture whose tables all have zero rows (schemas identical to the real
fixtures). An empty partition, day, route, or filter result is routine
at 100 TB — an engine that crashes on it is not production-grade.

This audit originally found 25 crashing operators across five classes:
schema inference on an empty written directory (streaming replay, sink
read-backs — fixed by io.read_back + the explicit replay schema), ANSI
divide-by-zero on empty aggregates (fixed with nullif both engines),
driver-side int(None) on observed/collected sums, MLlib .fit on an
empty corpus, and crosstab's observed-values-only columns.

Result VALUES on empty input are not asserted against DuckDB here: six
queries differ by documented engine/oracle-contract semantics (DuckDB
emits the SQL-standard grand-total row for CUBE/ROLLUP/GROUPING SETS
over empty input while Spark emits none; write-audit-publish correctly
REFUSES to publish an empty table while its oracle hardcodes the
published state; mr_total_order_sort's oracle hardcodes 8 partitions;
stream_source's zero files run zero batches). No-crash is the contract.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from pymapreduce_spark.io import TABLES


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory, sf_dir) -> str:
    base = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.read_schema(os.path.join(sf_dir, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(base / f"{t}.parquet"))
    return str(base)


def test_every_query_executes_on_empty_tables(spark, empty_sf):
    import __spark_entry__ as entry

    failures = []
    for name, fn in sorted(entry.queries().items()):
        try:
            fn(spark, empty_sf).collect()
        except Exception as exc:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(exc).splitlines()[0][:120]}")
    assert not failures, "crash on empty input:\n" + "\n".join(failures)
