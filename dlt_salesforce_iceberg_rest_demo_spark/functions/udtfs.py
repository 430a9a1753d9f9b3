"""Python UDTFs (table functions) - PySpark 4's row-to-rows tier.

The reference has no table-function surface at all (its only Python
row hook is `_process_record`, reference
salesforce/helpers/records.py:15-47, strictly 1-row-in/1-row-out).
UDTFs are the Spark-native generalization: one input row expands to
N output rows with imperative per-row logic, lateral-joined against
the input table.

Tier guidance (the package's rule for Python): built-in expressions
(explode/sequence/transform) beat a UDTF when they can express the
expansion - the UDTF here exists for genuinely imperative expansions
and is asserted equal to its declarative twin where one exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf


@udtf(returnType="token: string, run_start: bigint, run_len: bigint")
class TokenRunsUDTF:
    """Run-length encoding of consecutive repeated tokens in one
    document: emits one row per maximal run of an identical token
    (``run_start`` is the 0-based token index of the run's head).

    Imperative single-pass scan - the shape UDTFs are for. The
    equivalent declarative plan is the gaps-and-islands double
    window (see the `udtf_token_runs` oracle), which costs two
    sorts; the UDTF does it in O(tokens) per row, map-side only.
    """

    def eval(self, text: str):  # noqa: D102 - UDTF contract
        toks = (text or "").lower().split(" ")
        start = 0
        for i in range(1, len(toks) + 1):
            if i == len(toks) or toks[i] != toks[start]:
                yield toks[start], start, i - start
                start = i


def token_runs(
    spark: SparkSession, docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Lateral-join the run-length UDTF against a document table:
    ``doc_id, token, run_start, run_len`` - one row per token run.

    Scale shape: the UDTF runs inside the scan stage (no shuffle);
    output order within a doc is the scan order of the generator, so
    downstream consumers sort on (doc_id, run_start) if they need it.
    """
    docs.createOrReplaceTempView("udtf_token_runs_in")
    spark.udtf.register("token_runs_udtf", TokenRunsUDTF)
    return spark.sql(
        f"""
        SELECT d.doc_id, r.token, r.run_start, r.run_len
        FROM udtf_token_runs_in d,
             LATERAL token_runs_udtf(d.{text_col}) r
        """
    )
