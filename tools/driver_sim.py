#!/usr/bin/env python3
"""Fresh-process driver simulation — the correctness gate, runnable
outside pytest: for each requested registry key, run the Spark query
AND its DuckDB oracle over the same parquet and compare exactly
(sorted columns, sorted rows, bit-equal floats — ``tests.parity_util``
semantics, the driver's own check).

Usage:
    python tools/driver_sim.py [key ...]        # default: ALL keys
    SIM_SF_DIR=/root/testdata/sf0.1 python tools/driver_sim.py q_rfm

Builds a PLAIN SparkSession with a hostile time zone (America/New_York)
to prove ``ensure_oracle_confs`` protects oracle parity, exactly as the
repo's verify recipe (.claude/skills/verify) prescribes. Exit 0 iff
every requested key passes. All 163 keys take ~25 min at sf0.01 on
local[8]."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from tests.parity_util import TABLES, compare  # noqa: E402


def duckdb_conn_glob(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """Views over single-file fixtures OR Spark directory-parquet."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")
    qs, oracles = E.queries(), E.oracle_sql()
    keys = sys.argv[1:] or list(qs)
    con = duckdb_conn_glob(sf_dir)
    bad = []
    for k in keys:
        if k not in qs:
            print(f"{k}: NOT A KEY")
            bad.append(k)
            continue
        t0 = time.time()
        try:
            df = qs[k](spark, sf_dir)
            if k in oracles:
                compare(df, con, oracles[k], k)
                print(f"{k}: OK ({time.time() - t0:.2f}s)")
            else:
                n = df.count()
                print(f"{k}: rows-only {n} rows ({time.time() - t0:.2f}s)")
        except Exception as e:  # noqa: BLE001 - report and keep sweeping
            print(f"{k}: FAIL {type(e).__name__}: {str(e)[:300]}")
            bad.append(k)
    print("BAD:", bad if bad else "none")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
