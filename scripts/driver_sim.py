"""Local replica of the driver's CORRECTNESS_r{N} run.

Runs the FIRST 50 registry queries (the driver window) under a VANILLA
SparkSession — the driver's session, not the repo factory — at sf0.01,
and applies the driver-faithful compare from tests/parity.py (row count,
column names, order-insensitive values with int/float distinguished).

Usage: python scripts/driver_sim.py [n_queries] [start]  (default 50 0;
pass e.g. "212 0" to sweep the full inventory, "162 50" for the tail)
Exit code 0 iff every checked row is green or no-oracle-by-design.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
# Python WORKERS don't inherit the driver's sys.path edits — geometry
# UDFs that reference package functions fail with ModuleNotFoundError
# when the sim is launched from outside the repo root unless the repo is
# on PYTHONPATH before the JVM (and its worker daemon) starts.
os.environ["PYTHONPATH"] = (
    REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def main() -> int:
    n_window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .appName("driver-sim")
             .config("spark.ui.enabled", "false")
             # no \r progress bars: they overwrite the per-query
             # PASS rows in captured artifact logs (cost three
             # re-captures in round 15); cosmetic-only config,
             # no effect on any compared value
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from parity import compare, duckdb_connection

    qs, osql = E.queries(), E.oracle_sql()
    con = duckdb_connection(SF)

    names = list(qs)[start:start + n_window]
    n_window = len(names)  # requested slice may extend past the inventory
    failures: list[str] = []
    for i, name in enumerate(names, 1):
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF)
            if name not in osql:
                n = sdf.count()
                status = f"no-oracle rows={n}"
                assert n >= 0
            else:
                compare(sdf, con.sql(osql[name]).df(), name)
                status = "PASS"
        except Exception as exc:  # keep going; report all reds at once
            status = f"FAIL {type(exc).__name__}: {str(exc)[:160]}"
            failures.append(name)
        print(f"[{i:2d}/{n_window}] {name:36s} {status}  "
              f"({time.time() - t0:.1f}s)", file=sys.stderr)

    print(f"driver-sim: {n_window - len(failures)}/{n_window} green; "
          f"failures={failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
