"""Table inspection utility - the reference's ``check_tables.py``
(S4/S5/A1/A3: catalog listing, locations, schema field counts, row
counts, 3-row samples; reference check_tables.py:14-66) over the lake.

Run: ``python -m dlt_salesforce_iceberg_rest_demo_spark.check_tables <lake_root>``
"""

from __future__ import annotations

import sys
from typing import Any

from pyspark.sql import Observation
from pyspark.sql import functions as F

from .session import concurrently
from .sinks.dispositions import ParquetLake


def check_tables(lake: ParquetLake, sample_rows: int = 3, sample_cols: int = 5) -> dict[str, Any]:
    """Inspect every table: location, field count, row count, head
    sample (first ``sample_rows`` rows x first ``sample_cols`` columns,
    ordered by the first column for determinism).

    The tables are inspected side by side (:func:`session.concurrently`),
    and the report keeps ``list_tables()`` order. Each table costs one
    Spark job: the row count is an ``Observation`` under the sample's
    ``orderBy().limit()``, a top-k that reads every partition in full,
    so the count is exact (live rows: guard tombstones are filtered
    below it by ``lake.read``)."""
    names = lake.list_tables()
    inspected = concurrently(
        lambda name: _inspect(lake, name, sample_rows, sample_cols), names
    )
    return dict(zip(names, inspected))


def _inspect(lake: ParquetLake, name: str, sample_rows: int, sample_cols: int) -> dict[str, Any]:
    df = lake.read(name)
    cols = df.columns[:sample_cols]
    rows = Observation()
    sample = (
        df.observe(rows, F.count(F.lit(1)).alias("n"))
        .select(cols)
        .orderBy(df.columns[0])
        .limit(sample_rows)
        .collect()
    )
    return {
        "location": lake.table_location(name),
        "n_fields": len(lake.schema(name).fields),
        "n_rows": rows.get["n"],
        "sample_columns": cols,
        "sample": [tuple(row) for row in sample],
    }


def main() -> None:
    from .session import get_spark

    root = sys.argv[1] if len(sys.argv) > 1 else "./lake"
    spark = get_spark("check_tables")
    lake = ParquetLake(spark, root)
    report = check_tables(lake)
    if not report:
        print(f"no tables in {root}")
        return
    for name, info in report.items():
        print(f"table {name} @ {info['location']}")
        print(f"  fields: {info['n_fields']}  rows: {info['n_rows']:,}")
        print(f"  sample {info['sample_columns']}: {info['sample']}")


if __name__ == "__main__":
    main()
