"""r14 VERDICT #8 probe: capture the PLAN of join_bloom's eagerly
collected build-side job (the ≤1024-row (word, bits) aggregation over
the filtered dim keys) — it runs inside query construction, so the
op's own explain never shows it. Writes
plans/$SPARK_GRAFT_PLAN_DIR/join_bloom_build_<tag>.txt.

    python tools/probe_bloom_build.py --tag before
"""

from __future__ import annotations

import os
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    tag = "before"
    args = sys.argv[1:]
    if args and args[0] == "--tag":
        tag = args[1]
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from pymapreduce_spark.io import load_table
    from pymapreduce_spark.session import get_spark

    spark = get_spark(app_name=f"probe-bloom-build-{tag}")
    spark.sparkContext.setLogLevel("ERROR")

    # Mirror join_bloom's build side exactly (operators/scale.py).
    n_bits = 64 * 1024
    k = 3
    orders = load_table(spark, SF_DIR, "orders")
    dim = orders.where(
        "o_orderpriority = '1-URGENT'"
        " AND o_orderdate >= CAST('1997-01-01' AS TIMESTAMP)"
        " AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP)"
    ).select("o_orderkey")
    positions = ", ".join(
        f"pmod(xxhash64(o_orderkey, {i}), {n_bits})" for i in range(k)
    )
    words = (
        dim.selectExpr(f"explode(array({positions})) AS pos")
        .groupBy(F.expr("cast(floor(pos / 64) AS int)").alias("word"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(pmod(pos, 64) AS int)))")
             .alias("bits"))
    )
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = words._jdf.queryExecution().explainString(
        explain_mode.fromString("formatted")
    )
    plan_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r14")
    )
    os.makedirs(plan_dir, exist_ok=True)
    path = os.path.join(plan_dir, f"join_bloom_build_{tag}.txt")
    with open(path, "w") as fh:
        fh.write(plan)
    print(path)
    for line in plan.splitlines():
        if "ReadSchema" in line or "PushedFilters" in line:
            print(line.strip()[:300])


if __name__ == "__main__":
    main()
