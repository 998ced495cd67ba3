"""Run a slice of the query registry the way the registry bench does.

Usage: python3 perfbench/launch.py perfbench/inventory.py SF_DIR OUT.json QUERY...

Warm-up first: one small job, so JVM and code-generation start-up is not
billed to the first query, and one pandas UDF per core, so the Python
worker pool is up before the first query that leaves the JVM (the
registry bench's table scans are left out to fit the run). Then per
query: ``drop_leftover_state``, build the plan
(``plans.QUERIES[name](spark, SF_DIR)``, timed: construction including
any eager barriers), ``count()`` it (timed: the action). After the timed
loop, each query's expected row count is taken: its ``plans.ORACLE_SQL``
entry counted on DuckDB over the same parquet files, or a recorded count
(``RECORDED_ROWS``).
"""

from __future__ import annotations

import json
import sys
import time

import pandas as pd
from pyspark.sql import functions as F

from dwds_livestream_spark.plans.registry import ORACLE_SQL, QUERIES, TABLES
from dwds_livestream_spark.session import build_session, drop_leftover_state

# Entries checked against a recorded row count instead of their oracle.
# dedup_yield_curve has one row per crawl snapshot (doc_id % 3) whatever
# the documents hold; its oracle unrolls the MinHash ledger replay in SQL
# and takes ~10 s on DuckDB.
RECORDED_ROWS = {"dedup_yield_curve": 3}


def main() -> None:
    sf_dir, out, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = build_session(app_name="perfbench-inventory")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    @F.pandas_udf("double")
    def warm(v: pd.Series) -> pd.Series:
        return v * 1.0

    (spark.range(10_000).repartition(spark.sparkContext.defaultParallelism)
     .select(warm(F.col("id").cast("double")).alias("x")).agg(F.sum("x")).collect())

    results = []
    for name in names:
        drop_leftover_state(spark)
        t0 = time.time()
        try:
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            n = df.count()
            t2 = time.time()
            results.append({"name": name, "construct_s": t1 - t0, "action_s": t2 - t1,
                            "rows": n, "start": t0, "end": t2})
        except Exception as e:  # noqa: BLE001 — a failing query is a finding
            results.append({"name": name, "error": f"{type(e).__name__}: {e}"[:500]})
    drop_leftover_state(spark)

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for r in results:
        if "error" in r:
            continue
        sql = ORACLE_SQL.get(r["name"])
        if r["name"] in RECORDED_ROWS:
            r["expected_rows"] = RECORDED_ROWS[r["name"]]
        elif sql is not None:
            r["expected_rows"] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        else:
            r["expected_rows"] = None
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(results, fh)


if __name__ == "__main__":
    main()
