#!/usr/bin/env python
"""Driver simulation: the exact correctness gate, runnable locally.

Creates a PLAIN SparkSession (no engine configs — exercising
``ensure_runtime_configs`` self-healing, the driver's environment),
then runs every ``__spark_entry__.oracle_sql()`` entry through BOTH
engines at the given SF and strict-stringify-compares the sorted rows
(``pymapreduce_spark.testing.oracle_mismatches``). Harsher than the
driver's canonical hash: engine type skew (DATE vs TIMESTAMP, Decimal
vs float) fails here even when values agree.

Run:  python tools/driver_sim.py [sf_dir] [--only n1,n2,...]
      (default sf_dir /root/testdata/sf0.01; --only filters to the
      named queries — the debut protocol's per-SF spot check)
Exit: number of mismatched queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf: str = "/root/testdata/sf0.01", only: str | None = None) -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    import __spark_entry__ as entry
    from pymapreduce_spark.testing import oracle_mismatches

    print("entry rows:", len(entry.entry(spark).collect()), flush=True)
    names = set(entry.oracle_sql())
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        missing = wanted - names
        if missing:
            print("unknown --only names:", sorted(missing), flush=True)
            return 98
        names = wanted
    bad = oracle_mismatches(
        spark, sf, sorted(names), log=lambda line: print(line, flush=True)
    )
    print("mismatches:", bad or "NONE", flush=True)
    return len(bad)


if __name__ == "__main__":
    argv = sys.argv[1:]
    only_arg = None
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            print("usage: driver_sim.py [sf_dir] --only n1,n2,...",
                  file=sys.stderr)
            sys.exit(98)
        only_arg = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sys.exit(min(main(*argv, only=only_arg), 99))
