"""SQL front-end (SURVEY §3.2 entry point E2): run SQL text against the
fixture tables.

`register_views` publishes every fixture table as a temp view (through
`load_table`, so the events timestamp fix and split layout apply), and
`run_sql` is then one `spark.sql(...)` — the ANTLR parse feeds the same
Catalyst analyzer/optimizer pipeline as the DataFrame builder, so every
optimization the E1 operators rely on (pushdown, pruning, broadcast,
partial aggregation, AQE) applies to ad-hoc SQL identically.

The `sql_frontend` registry op makes the strongest possible parity
statement: its Spark query and its DuckDB oracle are the SAME string —
one dialect-shared ANSI text executed by both engines and hash-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pymapreduce_spark.io import TABLES, load_table
from pymapreduce_spark.registry import query


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Publish all fixture tables of ``sf_dir`` as temp views. Runs on
    every call: the view names are shared by every fixture dir, so a
    "registered already" memo would leave them on the last dir
    registered (A, then B, then A would query B)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(sql)


#: Dialect-shared ANSI SQL — parses and returns identical results on
#: Spark SQL and DuckDB: CAST(..) not ::, exact integer-cents money
#: arithmetic (o_totalprice is an exact 2-decimal double, so
#: round(x*100) has no .5 ties), explicit aliases everywhere. The
#: divisor is the exponent literal 1e2 because Spark SQL types the
#: plain literal 100.0 as DECIMAL(4,1) (the DataFrame API would make
#: it DOUBLE) while both dialects type 1e2 as DOUBLE.
_SHARED_SQL = """
    SELECT n_name,
           count(*) AS n_orders,
           sum(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) / 1e2
               AS revenue
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY n_name
"""


@query("sql_frontend", oracle=_SHARED_SQL)
def sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The E2 entry point, closed loop: ONE dialect-shared SQL string is
    submitted verbatim to Spark SQL (here) and to DuckDB (as its own
    oracle) and must hash-match — SQL users get the same engine,
    optimizer, and correctness guarantees as DataFrame users. The plan
    is the usual star shape: dims broadcast onto the orders scan, date
    filter pushed to parquet, partial/final aggregation."""
    return run_sql(spark, sf_dir, _SHARED_SQL)


#: Correlated subqueries, same dialect-shared contract: Catalyst's
#: RewritePredicateSubquery turns the EXISTS into a left-semi join and
#: decorrelates the scalar subquery into an aggregate-join — the user
#: writes textbook SQL, the engine plans distributed joins.
_SUBQUERY_SQL = """
    SELECT c_mktsegment,
           count(*) AS n_big_spenders,
           CAST(max((SELECT count(*) FROM orders o2
                     WHERE o2.o_custkey = c.c_custkey)) AS BIGINT)
               AS max_orders_one_customer
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    GROUP BY c_mktsegment
"""


@query("sql_subquery", oracle=_SUBQUERY_SQL)
def sql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery surface through the SQL front-end: one
    dialect-shared string with a correlated EXISTS (→ left-semi join
    after RewritePredicateSubquery) and a correlated scalar COUNT
    (→ decorrelated aggregate join), hash-matched against DuckDB
    executing the same text. Proves subquery-heavy BI SQL ports
    unchanged and still plans as distributed joins, never per-row
    subquery execution."""
    return run_sql(spark, sf_dir, _SUBQUERY_SQL)
