"""PySpark-native analytics engine with the data-processing capabilities of
buun-ch/dlt-salesforce-iceberg-rest-demo, rebuilt Spark-first.

The reference (read-only at /root/reference) is a dlt-based Salesforce ->
Iceberg ELT pipeline: typed ingestion with SOQL pushdown, three write
dispositions (append / replace / merge-upsert), cursor-based incremental
loading, schema alignment, and DuckDB-oracle verification
(see SURVEY.md for the full operator inventory).

This package re-expresses that surface on Spark primitives:

- ``session``      : SparkSession factory tuned for local[32] and for scale.
- ``sources``      : Salesforce reader (mock-transport testable, SOQL
                     pushdown), its Python Data Source, the parquet fixture loader.
- ``normalize``    : dlt-normalize parity (snake_case, the cursor format,
                     schema alignment, nullable-everything schemas).
- ``sinks``        : disposition writer (append / replace / merge) on a
                     parquet-backed lake with Iceberg's table semantics.
- ``state``        : incremental cursor store (dlt pipeline-state parity).
- ``plans``        : the query registry driving the driver correctness gate.
- ``operators``    : LLM-data-pipeline extensions - dedup (exact/minhash/
                     simhash/jaccard), similarity search, text analysis,
                     multimodal column plumbing, as-of join, sessionization.
- ``functions``    : salted joins, Bloom runtime filters, batch inference,
                     Python UDTFs.
"""

__version__ = "0.1.0"
