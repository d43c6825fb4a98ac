"""The strict differential form every oracle harness shares
(``testing.strict_rows``): no SparkSession, no DuckDB, plain tuples."""

from __future__ import annotations

import datetime
from decimal import Decimal

from pymapreduce_spark.testing import canon_cell, strict_rows


def test_columns_are_ordered_by_name():
    got = strict_rows(["b", "a", "c"], [(2, "x", None)])
    assert got == [("x", "2", "None")]
    assert got == strict_rows(["c", "a", "b"], [(None, "x", 2)])


def test_date_and_timestamp_render_differently():
    day = datetime.date(2024, 2, 29)
    midnight = datetime.datetime(2024, 2, 29)
    # the canonical form forgives this skew; the strict form must not
    assert canon_cell(day) == canon_cell(midnight)
    assert strict_rows(["d"], [(day,)]) != strict_rows(["d"], [(midnight,)])
    assert strict_rows(["v"], [(Decimal("1.50"),)]) != strict_rows(
        ["v"], [(1.5,)]
    )


def test_row_order_is_ignored_but_duplicates_count():
    cols = ["k", "n"]
    rows = [("a", 1), ("b", 2), ("a", 1)]
    assert strict_rows(cols, rows) == strict_rows(cols, rows[::-1])
    assert strict_rows(cols, rows) != strict_rows(cols, rows[:2])
    assert strict_rows(cols, [("a", 1)]) != strict_rows(cols, [("a", 1)] * 2)
