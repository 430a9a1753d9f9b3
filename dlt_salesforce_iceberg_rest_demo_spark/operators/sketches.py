"""Mergeable summary sketches beyond the built-ins.

Spark ships HLL++ (approx_count_distinct) and t-digest
(percentile_approx) - both registered with oracle/bound tests in
`approx_distinct_and_quantiles`. This module adds the heavy-hitters
summary the built-in surface lacks: Misra-Gries, the deterministic
frequent-items sketch.

Why it matters at 100 TB: exact top-k over a high-cardinality key is
a full shuffle of (key, count) partials - fine for 25 nations,
hostile for billions of user ids. A Misra-Gries summary caps per-
partition state at ``capacity`` counters, ships only
partitions x capacity rows to one reducer, and still guarantees
every key with true count > n/capacity survives with estimate error
<= n/capacity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .materialize import materialize


def _mg_summarize(counts: dict, capacity: int) -> None:
    """Decrement-phase of Misra-Gries: shrink to < capacity counters."""
    while len(counts) >= capacity:
        dec = min(counts.values())
        for k in list(counts):
            counts[k] -= dec
            if counts[k] <= 0:
                del counts[k]


def heavy_hitters(
    df: DataFrame, col: str, capacity: int = 64, k: int = 10
) -> DataFrame:
    """Approximate top-``k`` heavy hitters of ``col`` via per-partition
    Misra-Gries summaries merged on the driver side of one reduce.

    Guarantees (classic MG + mergeability, Agarwal et al., "Mergeable
    Summaries"): for true count c(x) over n rows, the returned
    estimate e(x) satisfies c(x) - n/capacity <= e(x) <= c(x), and
    every x with c(x) > n/capacity is present. Ties in the final
    top-k are broken by key for determinism.

    Plan shape: mapInPandas keeps O(capacity) state per partition (one
    pass, no shuffle), then the union of summaries - partitions x
    capacity rows, independent of n - takes one tiny groupBy. The
    summary rows also carry each partition's row count so the error
    bound n/capacity is computable from the output alone.
    """
    out_schema = T.StructType(
        [
            T.StructField("key", df.schema[col].dataType),
            T.StructField("est", T.LongType()),
            T.StructField("part_rows", T.LongType()),
        ]
    )

    def summarize(batches):
        import pandas as pd

        counts: dict = {}
        n_rows = 0
        for pdf in batches:
            for v in pdf[col]:
                n_rows += 1
                if v in counts:
                    counts[v] += 1
                elif len(counts) < capacity - 1:
                    counts[v] = 1
                else:
                    _mg_summarize(counts, capacity)
                    counts[v] = 1
        keys = list(counts.keys()) or [None]
        ests = list(counts.values()) or [0]
        # row count rides on the FIRST summary row only, so a plain
        # SUM over all summary rows recovers the exact total n
        yield pd.DataFrame(
            {
                "key": keys,
                "est": ests,
                "part_rows": [n_rows] + [0] * (len(keys) - 1),
            }
        )

    # Materialized: the summary feeds TWO consumers (merged keys +
    # total n), and a mapInPandas subtree is duplicated per consumer —
    # without the materialization the one-pass MG kernel scanned the
    # input twice (found by the round-9 duplicated-python-op sweep).
    # The checkpoint is summary-sized: <= capacity rows per partition.
    summaries = materialize(df.select(col).mapInPandas(summarize, out_schema))
    merged = (
        summaries.filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("est").alias("est"))
    )
    n = summaries.groupBy().agg(F.sum("part_rows").alias("n"))
    return (
        merged.crossJoin(F.broadcast(n))
        .orderBy(F.col("est").desc(), "key")
        .limit(k)
        .select("key", "est", (F.col("n") / capacity).alias("max_underestimate"))
    )


def count_min_table(df: DataFrame, col: str, depth: int = 4, width: int = 64) -> DataFrame:
    """Build a count-min sketch as a plain ``(i, bucket, cnt)`` DataFrame:
    ``depth`` md5-derived hash rows x ``width`` buckets.

    Unlike Spark's builtin ``count_min_sketch`` aggregate (an opaque
    binary blob with no SQL point-query), the sketch HERE is a
    first-class table: mergeable by unioning and re-summing (the 100 TB
    story - per-day sketches roll up into monthly ones without
    re-reading the raw data), queryable with a join, and reproducible
    in any engine that has md5 (the DuckDB oracle rebuilds it
    bit-for-bit, so estimates hash-match exactly).

    Plan shape: a ``depth``-way map-side expand, then partial aggregation
    into at most ``depth * width`` cells - reduce fan-in is sketch-sized,
    independent of row count.
    """
    keyed = df.select(F.col(col).cast("string").alias("k"))
    expanded = keyed.select(
        "k", F.explode(F.array([F.lit(i) for i in range(depth)])).alias("i")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws("#", "k", F.col("i").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )
    return expanded.groupBy("i", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    )


def count_min_lookup(
    sketch: DataFrame, keys: DataFrame, col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-estimate ``cnt`` for every key in ``keys[col]`` against a
    :func:`count_min_table` sketch: min over the ``depth`` cells the key
    hashes into. Classic CM guarantee: estimate >= true count always
    (collisions only ever inflate), excess ~ n/width per hash row.

    The sketch is at most ``depth * width`` rows, so it is broadcast and
    the lookup is a map-side join - no shuffle of the key set.
    """
    k = keys.select(F.col(col)).distinct().withColumn("k", F.col(col).cast("string"))
    probes = k.select(
        col, "k", F.explode(F.array([F.lit(i) for i in range(depth)])).alias("i")
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(F.md5(F.concat_ws("#", "k", F.col("i").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % width,
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy(col)
        .agg(F.min("cnt").alias("est"))
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (Flajolet et al. 2007) — md5-derived, engine-exact.
# ---------------------------------------------------------------------------

HLL_M = 64          # registers (precision p = 6)
HLL_HASH_BITS = 60  # md5 hex digits 2-16 -> fits a signed 64-bit lane
# alpha_64 = 0.709 exactly: Flajolet et al. 2007 give per-m constants
# for m < 128 (alpha_16, alpha_32, alpha_64) and prescribe the
# 0.7213/(1+1.079/m) closed form only for m >= 128. The oracle plan
# imports this constant, so engine and SQL stay in lockstep.
HLL_ALPHA = 0.709
_RHO_MAX = HLL_HASH_BITS - 6 + 1  # first-one position in the 54 payload bits + 1


def hll_table(df: DataFrame, col: str, group_cols: list[str]) -> DataFrame:
    """Per-group HyperLogLog register TABLE (group_cols, j, register) —
    a first-class MERGEABLE summary like `count_min_table`: sketches of
    two partitions/days union by (group, j) MAX, so distinct counts
    re-aggregate without touching raw rows again (the property
    approx_count_distinct's scalar output cannot offer).

    Unlike the DataSketches binary sketches, every bit here is
    PORTABLE: the hash is md5-derived (60 bits), register index = the
    top 6 bits, rho = position of the first 1 in the remaining 54 bits
    — any engine with md5 rebuilds the identical register table, so
    the estimates are hash-exact across engines (the same portability
    discipline as `count_min_table`).

    Work: one map-side projection + one (group, j) MAX aggregation —
    partial-aggregated, reduce fan-in is |groups| * 64 regardless of
    corpus size.
    """
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 2, 15), 16, 10).cast(
        "long"
    )
    j = F.shiftrightunsigned(h, HLL_HASH_BITS - 6).cast("int")
    payload = h.bitwiseAND(F.lit((1 << (HLL_HASH_BITS - 6)) - 1))
    # rho = (payload bit width) - bit_length(payload) + 1 — the
    # first-one position from the top, 1-indexed; RHO_MAX for the
    # all-zero tail. bit_length computed EXACTLY as the base-2 digit
    # count (length of conv(x, 10, 2)) — floating log2 can misround at
    # powers of two and is not bit-portable across engines.
    rho = (
        F.when(payload == 0, F.lit(_RHO_MAX))
        .otherwise(
            F.lit(HLL_HASH_BITS - 6 + 1) - F.length(F.conv(payload, 10, 2))
        )
        .cast("int")
    )
    return (
        df.select(*group_cols, j.alias("j"), rho.alias("rho"))
        .groupBy(*group_cols, "j")
        .agg(F.max("rho").alias("register"))
    )


def _linear_counting_constants() -> list[float]:
    """m * ln(m/V) for V = 1..m, precomputed once: the small-range
    (linear counting) correction needs a natural log, which is NOT
    bit-portable across engines — but V has only m possible values, so
    both engines index the same 64 double constants instead of calling
    their own libm."""
    import math

    return [HLL_M * math.log(HLL_M / v) for v in range(1, HLL_M + 1)]


def hll_estimate(table: DataFrame, group_cols: list[str]) -> DataFrame:
    """HLL estimate per group from a register table, engine-exact:

    - the harmonic sum is held in FIXED POINT (sum of 2^(RHO_MAX -
      register) over the m registers; absent rows contribute
      2^RHO_MAX) — an exact integer;
    - the raw estimate is one IEEE division
      alpha * m^2 * 2^RHO_MAX / int_sum;
    - the standard small-range correction (Flajolet et al.: when
      E_raw <= 2.5m and zero registers exist, use linear counting
      m * ln(m/V)) applies via the precomputed constant table above,
      so the branch condition and the corrected value are the same
      doubles in every engine."""
    n_present = F.count("*")
    present_sum = F.sum(
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_MAX} - register)")
    )
    # absent registers (never touched) contribute 2^RHO_MAX each
    int_sum = present_sum + (F.lit(HLL_M) - n_present) * F.lit(1 << _RHO_MAX)
    raw = (
        F.lit(HLL_ALPHA * HLL_M * HLL_M * float(1 << _RHO_MAX))
        / int_sum.cast("double")
    )
    v_zero = (F.lit(HLL_M) - n_present).cast("int")
    lc = F.element_at(
        F.array(*[F.lit(c) for c in _linear_counting_constants()]), v_zero
    )
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (v_zero > 0), lc).otherwise(raw)
    return table.groupBy(*group_cols).agg(
        int_sum.cast("bigint").alias("harmonic_fixed"),
        est.alias("estimate"),
    )
