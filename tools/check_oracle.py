"""Run every queries() entry on Spark AND its oracle_sql() on DuckDB at a
given sf and compare them with the shared oracle helper
(batch3dfier_spark/plans/oracle.py); tests/test_oracle_contract.py runs
the same contract under pytest.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from batch3dfier_spark.plans.oracle import compare, connect
    from batch3dfier_spark.session import get_spark

    spark = get_spark(cores=8, shuffle_partitions=8)
    con = connect(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        problems = compare(got, exp)
        if problems:
            failures += 1
            print(f"FAIL {name}:")
            for p in problems:
                print(f"   {p}")
        else:
            print(f"OK   {name}: {len(got)} rows")
    con.close()
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
