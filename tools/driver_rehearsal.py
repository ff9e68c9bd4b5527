"""Exact pre-round rehearsal of the driver's correctness gate.

Runs ``__spark_entry__`` the way the round driver does: a PLAIN
SparkSession (none of the engine's ``session.get_spark`` conf —
anything the engine needs must be applied inside ``sources/tables.py``
at read time), ``entry()`` smoke, then each windowed query against its
DuckDB oracle at sf0.01 with the STRICT comparator from
``tools/oracle_check.py`` (rows + column names + value hash + the
driver-safe oracle type check).

Usage:
    python tools/driver_rehearsal.py              # first 50 (the window)
    python tools/driver_rehearsal.py --all        # whole registry
    python tools/driver_rehearsal.py q1 q2 ...    # named queries

Exit 0 only when everything matches — run this before handing off a
change; it repeats the contract's correctness check locally.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DRIVER = "/root/testdata/sf0.01"


def main() -> int:
    from pyspark.sql import SparkSession

    from tools.oracle_check import (
        compare_query,
        duckdb_connection,
        unsafe_oracle_types,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-rehearsal")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    entry_rows = entrymod.entry(spark).collect()
    print(f"entry(): {len(entry_rows)} rows")
    assert entry_rows, "entry() returned no rows"

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    args = sys.argv[1:]
    if args == ["--all"]:
        names = list(queries)
    elif args:
        names = args
    else:
        names = list(queries)[:50]

    con = duckdb_connection(SF_DRIVER)
    bad = []
    t0 = time.time()
    try:
        for name in names:
            if name not in oracles:
                print(f"skip {name} (no oracle — driver does rows-only)")
                continue
            unsafe = unsafe_oracle_types(con, oracles[name])
            r = compare_query(queries[name](spark, SF_DRIVER), con, oracles[name])
            ok = (
                r["rows_match"]
                and r["cols_match"]
                and r["values_match"]
                and not unsafe
            )
            if not ok:
                bad.append(name)
                print(f"FAIL {name}: {r} unsafe_types={unsafe}")
    finally:
        con.close()
    print(
        f"{len(names) - len(bad)}/{len(names)} match in {time.time() - t0:.0f}s"
        + (f"; FAILURES: {bad}" if bad else "")
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
