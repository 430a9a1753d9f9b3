"""Regenerate ``expected_queries.json``: row count and content hash of
every query in the mix, on the benchmark's copy of the sf0.01 tables.

    python3 perfbench/make_expectations.py

Where the registry has DuckDB oracle SQL, the Spark result is
cross-checked against DuckDB on the same files before it is written; a
mismatch aborts. Run it only when the tables or the mix change: the
committed file is the reference the benchmark checks every run against.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

from run import pin_environment, shutdown, spark_conf  # noqa: E402


def main() -> int:
    work = HERE.parent / ".perfbench" / "work" / f"expectations-{os.getpid()}"
    pin_environment(work)
    import duckdb

    from dlt_salesforce_iceberg_rest_demo_spark.plans import oracle_sqls, query_fns
    from dlt_salesforce_iceberg_rest_demo_spark.session import get_spark, ensure_package_on_workers
    from queries import DATA, EXPECTED, MIX, content_hash

    spark = get_spark("perfbench-expectations", extra_conf=spark_conf(work))
    ensure_package_on_workers(spark)
    fns, oracles = query_fns(), oracle_sqls()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for table in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
    out = {}
    for name in sorted(MIX):
        df = fns[name](spark, str(DATA))
        rows = df.collect()
        entry = {"rows": len(rows), "hash": content_hash(df.columns, rows), "oracle": False}
        sql = oracles.get(name)
        if sql:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if (len(orows), content_hash(cols, orows)) != (entry["rows"], entry["hash"]):
                print(f"{name}: Spark and the DuckDB oracle disagree", file=sys.stderr)
                return 1
            entry["oracle"] = True
        out[name] = entry
        print(name, entry, file=sys.stderr)
    shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)
    EXPECTED.write_text(json.dumps({"data": "data/sf0.01", "queries": out}, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
