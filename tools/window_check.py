#!/usr/bin/env python
"""Driver-sim: oracle-compare catalog entries exactly the way the round
driver does (first 50 of ``queries()`` = the verification window).

Usage:
    python tools/window_check.py                # the 50-entry driver window
    python tools/window_check.py --rest         # the entries OUTSIDE the window
    python tools/window_check.py --all          # every catalog entry
    python tools/window_check.py name1 name2    # specific entries

Runs each builder at sf0.01, executes its DuckDB oracle, and compares with
tests/oracle_harness.py's canonicalizer (the same sort-columns-by-name /
sort-rows / dtype-strict rules the driver hashes under). Exit code 1 if any
entry is red. ~2-4 min for a 50-entry slice on local[32].
"""

from __future__ import annotations

import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main(argv: list[str]) -> int:
    import __spark_entry__ as e
    from automotive_data_pipeline_demo_spark.session import get_spark
    from oracle_harness import compare, duckdb_conn

    qs = e.queries()
    osql = e.oracle_sql()
    if argv and argv[0] == "--all":
        names = list(qs)
    elif argv and argv[0] == "--rest":
        names = list(qs)[50:]
    elif argv:
        names = argv
    else:
        names = list(qs)[:50]

    spark = get_spark()
    con = duckdb_conn(SF)
    reds: list[str] = []
    for name in names:
        t0 = time.time()
        err = None
        try:
            sdf = qs[name](spark, SF).toPandas()
            odf = con.execute(osql[name]).fetchdf()
            problems = compare(sdf, odf)
            if problems:
                err = "; ".join(problems[:3])
        except Exception as ex:  # noqa: BLE001 — report, keep checking the rest
            err = f"{type(ex).__name__}: {ex}"[:300]
        if err:
            reds.append(name)
        status = "RED" if err else "OK"
        print(f"{status:4} {name:34} {time.time() - t0:5.1f}s {err or ''}",
              flush=True)
    print(json.dumps({"red": reds, "checked": len(names), "sf": SF}))
    return 1 if reds else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
