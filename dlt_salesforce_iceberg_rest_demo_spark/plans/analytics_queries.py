"""Analytics tranche: triangle counting, prefix-filtered set-similarity
join, random-projection reduction, higher-moment statistics, exact
interpolated percentiles, per-group mode, inverted index.

These extend the engine surface beyond the reference (which has no
analytics executor at all — SURVEY.md §2.7) along the driver's
north-star axes: corpus dedup at scale (prefix filtering), embedding
pipelines (random projection), graph structure over FK-derived edges
(triangles), and the descriptive-statistics layer every profiling /
data-quality pass needs (skewness/kurtosis, percentiles, mode).

Determinism follows the house rules (see registry module docstring):
exact integer moments for anything summed, fixed-point folds for
floats, md5 buckets for sampling, rational thresholds for filters.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, graph, similarity, text
from ._helpers import t
from .registry import register

# ---------------------------------------------------------------------------
# Triangle counting on the supplier co-occurrence graph.
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
e AS (
  SELECT a, b FROM pairs
  WHERE CAST(('0x' || substring(md5(CAST(a AS VARCHAR) || '#'
                                    || CAST(b AS VARCHAR)), 1, 8))
             AS UBIGINT) % 10 = 0),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri) m
GROUP BY node
"""


@register("graph_triangle_count_suppliers", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the supplier co-occurrence graph
    (suppliers sharing an order, md5-sparsified to 10% of pairs so
    graph density is controlled at every SF). The operator orients
    edges by (degree, id) so wedge enumeration is O(m^1.5) worst case
    instead of sum(deg^2) — the skew-proof triangle algorithm (Suri &
    Vassilvitskii WWW'11). The oracle's naive 3-way self-join matches
    exactly because orientation changes execution, not the result.
    The reference loads FK columns flat and has no graph surface
    (SURVEY.md §2.7; /root/reference/data/*.recipe.yml FK fields)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = graph.co_occurrence_pairs(li, "l_orderkey", "l_suppkey")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.col("a").cast("string"), F.col("b").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    return graph.triangle_count(pairs.filter(bucket == 0), "a", "b")


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-family).
# ---------------------------------------------------------------------------

_PREFIX_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk)-2),
                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
           AS s
  FROM toks WHERE len(tk) >= 3),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.m + sb.m - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 2 * n_inter >= (sa.m + sb.m - n_inter)
"""


@register("dedup_prefix_jaccard", oracle=_PREFIX_JACCARD_ORACLE)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-shingle Jaccard >= 0.5 pairs via PREFIX FILTERING:
    candidates come only from each document's rarest (lowest document-
    frequency) prefix shingles, never from hot ones — the lossless
    AllPairs/PPJoin strategy that keeps exact set-similarity join
    feasible at corpus scale where the naive all-shingle self-join
    (the oracle here) dies on stopword fan-out. Result set provably
    identical to brute force (same pair set as ``dedup_ngram_jaccard``,
    different — scalable — candidate generation).

    Trigram shingles, deliberately: prefix filtering prunes through
    the document-frequency TAIL, so its win tracks vocabulary size.
    The synthetic fixture corpus draws from ~30 words — unigram sets
    there are near-degenerate (most doc pairs exceed 0.5 Jaccard) and
    even BIGRAM dfs stay so hot that the prefixes carry no rarity
    signal (measured 5x slower at sf0.1 with an identical pair set);
    trigrams restore the Zipf tail real corpora have, which is the
    regime the operator exists for."""
    return dedup.prefix_jaccard_pairs(
        t(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction.
# ---------------------------------------------------------------------------

_RP_DIM, _RP_K = 64, 8
_SIGNS = similarity.projection_signs(_RP_DIM, _RP_K)


def _rp_oracle() -> str:
    terms = []
    for j in range(_RP_K):
        lst = ", ".join(str(s) for s in _SIGNS[j])
        terms.append(
            "CAST(list_sum(list_transform(generate_series(1, 64), i -> "
            "CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            f" * ([{lst}][i]))) AS BIGINT) AS r{j}"
        )
    return "SELECT vec_id, " + ", ".join(terms) + " FROM embeddings"


@register("embedding_random_projection", oracle=_rp_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign (Rademacher) random projection 64 -> 8 dims, the JL-lemma
    cheap first stage before clustering/ANN at 100 TB: map-only (zero
    shuffle at any corpus size), fixed-point folds so every component
    is an exact integer both engines reproduce bit-for-bit. The +-1
    matrix derives from md5 and is inlined into the oracle as list
    literals — same matrix, same numbers."""
    return similarity.random_projection(
        t(spark, sf_dir, "embeddings"), dim=_RP_DIM, k=_RP_K
    )


# ---------------------------------------------------------------------------
# Higher-moment statistics: skewness / kurtosis from exact integer moments.
# ---------------------------------------------------------------------------

_MOMENTS_SQL = """
WITH ints AS (
  SELECT event_type, CAST(FLOOR(value + 0.5) AS BIGINT) AS c
  FROM {events}),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(c AS {bigsum})) AS DOUBLE) AS s1,
         CAST(SUM(CAST(c * c AS {bigsum})) AS DOUBLE) AS s2,
         CAST(SUM(CAST(c * c * c AS {bigsum})) AS DOUBLE) AS s3,
         CAST(SUM(CAST(c * c * c * c AS {bigsum})) AS DOUBLE) AS s4
  FROM ints GROUP BY event_type)
SELECT event_type, n,
       s1 / n AS mean_value,
       CASE WHEN (s2 / n - (s1 / n) * (s1 / n)) > 0
            THEN (s3 / n - 3 * (s1 / n) * (s2 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * sqrt(s2 / n - (s1 / n) * (s1 / n)))
       END AS skewness,
       CASE WHEN (s2 / n - (s1 / n) * (s1 / n)) > 0
            THEN (s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))) - 3
       END AS kurtosis_excess
FROM m
"""


@register(
    "stats_skew_kurtosis",
    oracle=_MOMENTS_SQL.format(events="events", bigsum="HUGEINT"),
)
def stats_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of event values per type, from
    EXACT whole-unit integer moments (sum c..c^4 in
    DECIMAL(38,0)/HUGEINT — engine float kernels are order-dependent,
    exact sums are not), then one identical IEEE expression on both
    engines; quantization units cancel in the standardized ratios.

    Quantization scale is bounded by TWO budgets, not one: (a) c^4
    must fit BIGINT per row (|value| <= ~55108 at unit scale), and
    (b) each SUM must stay under 2^53 so the exact decimal/HUGEINT
    total converts to the SAME double in both engines — cent-scale
    moments (~1e22) violated (b) and mismatched in the last ulp at
    sf0.01. Unit scale gives (500^4)*n < 2^53 headroom to n ~ 1.4e7
    rows per table. Extends ``stats_corr_regression`` to 3rd/4th
    moments (one shuffle, partial-aggregated)."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ana_moment_events")
    return spark.sql(
        _MOMENTS_SQL.format(events="ana_moment_events", bigsum="DECIMAL(38,0)")
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (PERCENTILE_CONT semantics).
# ---------------------------------------------------------------------------

_PCTL_SQL = """
WITH r AS (
  SELECT o_orderstatus AS status, o_totalprice AS v,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                 ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
  FROM {orders})
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(CASE WHEN rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1 THEN v END)
       + (0.5 * (MIN(n) - 1) - FLOOR(0.5 * (MIN(n) - 1)))
         * (MIN(CASE WHEN rn = CAST(CEIL(0.5 * (n - 1)) AS BIGINT) + 1 THEN v END)
            - MIN(CASE WHEN rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1 THEN v END))
         AS p50,
       MIN(CASE WHEN rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1 THEN v END)
       + (0.9 * (MIN(n) - 1) - FLOOR(0.9 * (MIN(n) - 1)))
         * (MIN(CASE WHEN rn = CAST(CEIL(0.9 * (n - 1)) AS BIGINT) + 1 THEN v END)
            - MIN(CASE WHEN rn = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1 THEN v END))
         AS p90
FROM r GROUP BY status
"""


@register(
    "percentile_cont_order_prices",
    oracle=_PCTL_SQL.format(orders="orders"),
)
def percentile_cont_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT(0.5/0.9) per order status via rank
    selection + linear interpolation — engine-native percentile kernels
    differ in interpolation arithmetic, so both sides run the same
    template: pick the floor/ceil rank values (exact, no float sums)
    and interpolate with one identical IEEE expression. One shuffle on
    the group key; the rank window prunes to two rows per group before
    the final aggregate."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("ana_pctl_orders")
    return spark.sql(_PCTL_SQL.format(orders="ana_pctl_orders"))


# ---------------------------------------------------------------------------
# Per-group mode (most frequent value).
# ---------------------------------------------------------------------------


@register(
    "mode_event_type_per_user",
    oracle="""
    SELECT user_id, event_type AS mode_event_type, cnt AS n_events
    FROM (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type DESC) AS rn
      FROM events GROUP BY user_id, event_type) x
    WHERE rn = 1
    """,
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per key as a partial-aggregatable ARGMAX
    (max-of-struct over (count, value)), not a sort: two map-side
    combinable aggregations, no window over raw events. Ties break to
    the lexicographically larger value on both engines (struct ordering
    == the oracle's DESC,DESC rank)."""
    counts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    best = counts.groupBy("user_id").agg(
        F.max(F.struct(F.col("cnt"), F.col("event_type"))).alias("m")
    )
    return best.select(
        "user_id",
        F.col("m.event_type").alias("mode_event_type"),
        F.col("m.cnt").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Inverted index (posting lists).
# ---------------------------------------------------------------------------


@register(
    "text_inverted_index",
    oracle="""
    WITH tk AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM tk GROUP BY token
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inverted index: token -> document frequency + sorted
    posting list (canonical comma-joined form, mergeable across corpus
    shards by sorted-merge). One explode + one token-keyed aggregation.
    The retrieval-side complement of the TF-IDF scorer
    (`text_tfidf_top_terms`); at 100 TB this is the shape a BM25 /
    keyword index build takes."""
    docs = t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.explode(F.array_distinct(text.tokens("text"))).alias("token"),
    )
    return tk.groupBy("token").agg(
        F.count("*").alias("n_docs"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("dup", "merge", "spark")

_BM25_ORACLE = f"""
WITH tl AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl,
         unnest(string_split(lower(text), ' ')) AS tok
  FROM documents),
hits AS (SELECT * FROM tl WHERE tok IN {str(tuple(_BM25_TERMS))}),
tf AS (SELECT doc_id, tok, dl, CAST(COUNT(*) AS BIGINT) AS tf
       FROM hits GROUP BY doc_id, tok, dl),
dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
          FROM hits GROUP BY tok),
totals AS (SELECT CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS T,
                  CAST(COUNT(*) AS BIGINT) AS D
           FROM documents),
scored AS (
  SELECT doc_id,
         CAST(FLOOR(CAST((((D - df + 1) * 1000) // (df + 1)) * tf * 44 AS DOUBLE)
                    * CAST(T AS DOUBLE)
                    / CAST(20 * T * tf + 6 * T + 18 * dl * D AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS micro
  FROM tf JOIN dfreq USING (tok) CROSS JOIN totals),
per_doc AS (SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS micro_total,
                   CAST(COUNT(*) AS BIGINT) AS n_terms_hit
            FROM scored GROUP BY doc_id)
SELECT doc_id, CAST(micro_total AS DOUBLE) / 1000000 AS bm25, n_terms_hit, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY micro_total DESC, doc_id)
                     AS BIGINT) AS rank
      FROM per_doc) x
WHERE rank <= 10
"""


@register("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed keyword query (rare + common terms).
    Rational idf (integer DIV — textbook ln differs between libm and
    the JVM in the last ulp) and k1=6/5, b=3/4 reduce each per-term
    score to ONE double division of exactly-represented integers,
    fixed-pointed so the per-doc sum is order-independent. Candidate
    set = docs hitting >= 1 term; df and corpus totals ride tiny
    broadcasts; the top-k window runs on candidates only."""
    return text.bm25_topk(
        t(spark, sf_dir, "documents"), terms=list(_BM25_TERMS), k=10
    )


# ---------------------------------------------------------------------------
# Bounded-hop shortest paths (Bellman-Ford rounds).
# ---------------------------------------------------------------------------

_BF_EDGE_SQL = """
pairs AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
e0 AS (
  SELECT a, b,
         CAST(1 + CAST(('0x' || substring(md5(CAST(a AS VARCHAR) || '#'
                        || CAST(b AS VARCHAR)), 1, 8)) AS UBIGINT) % 9
              AS BIGINT) AS w
  FROM pairs
  WHERE CAST(('0x' || substring(md5(CAST(a AS VARCHAR) || '#'
              || CAST(b AS VARCHAR)), 1, 8)) AS UBIGINT) % 10 = 0),
e AS (SELECT a AS u, b AS v, w FROM e0
      UNION ALL SELECT b, a, w FROM e0)
"""

_BF_ROUND = """
d{next} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{cur}
    UNION ALL
    SELECT e.v AS node, d{cur}.dist + e.w AS dist
    FROM d{cur} JOIN e ON e.u = d{cur}.node) m
  GROUP BY node)
"""

_BF_ORACLE = (
    "WITH "
    + _BF_EDGE_SQL
    + ", d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)"
    + "".join("," + _BF_ROUND.format(cur=i, next=i + 1) for i in range(3))
    + " SELECT node, dist FROM d3"
)


@register("graph_shortest_paths_bounded", oracle=_BF_ORACLE)
def graph_shortest_paths_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop-bounded shortest paths from supplier 1 over the weighted
    co-supplier graph (md5-sparsified edges, md5-derived integer
    weights 1..9). Bellman-Ford relaxation rounds — one frontier join
    + one min-aggregate each, checkpointed between rounds; the oracle
    unrolls the identical three rounds as CTEs. Exact integer
    distances in any execution order."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = graph.co_occurrence_pairs(li, "l_orderkey", "l_suppkey")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("a").cast("string"), F.col("b").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    e0 = pairs.filter(bucket % 10 == 0).select(
        "a", "b", (F.lit(1) + bucket % 9).cast("long").alias("w")
    )
    sym = e0.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w").unionAll(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    return graph.bellman_ford(sym, sources=[1], iterations=3)


# ---------------------------------------------------------------------------
# Rolling distinct-count window.
# ---------------------------------------------------------------------------


@register(
    "window_rolling_distinct_types",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(DISTINCT event_type) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS distinct_types_rolling
    FROM events
    """,
)
def window_rolling_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count over a 100-row trailing window per user.
    Spark has no DISTINCT window aggregates; ``size(collect_set())``
    over the frame is the idiomatic equivalent (set state bounded by
    the frame length x distinct values, not rows). DuckDB's native
    COUNT(DISTINCT) OVER is the oracle."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("long")
        .alias("distinct_types_rolling"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test.
# ---------------------------------------------------------------------------

_CHI2_SQL = """
WITH cells AS (
  SELECT event_type,
         CASE WHEN value < 100 THEN 'low' ELSE 'high' END AS band,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM {events} GROUP BY event_type,
         CASE WHEN value < 100 THEN 'low' ELSE 'high' END),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rtot
       FROM cells GROUP BY event_type),
ct AS (SELECT band, CAST(SUM(obs) AS BIGINT) AS ctot FROM cells GROUP BY band),
contrib AS (
  SELECT CAST(FLOOR(CAST((obs * n - rtot * ctot) * (obs * n - rtot * ctot)
                         AS DOUBLE)
                    / CAST(rtot * ctot * n AS DOUBLE)
                    * 1000000000.0) AS BIGINT) AS micro
  FROM cells
  JOIN rt USING (event_type)
  JOIN ct USING (band)
  CROSS JOIN tot),
dof AS (SELECT CAST((COUNT(DISTINCT event_type) - 1)
                    * (COUNT(DISTINCT band) - 1) AS BIGINT) AS dof
        FROM cells)
SELECT CAST(SUM(micro) AS DOUBLE) / 1000000000.0 AS chi2,
       MIN(dof.dof) AS dof
FROM contrib CROSS JOIN dof
"""


@register(
    "stats_chi_square_independence",
    oracle=_CHI2_SQL.format(events="events"),
)
def stats_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test: event type x value band.
    Each cell's statistic is (obs*N - row*col)^2 / (row*col*N) — all
    operands exact BIGINTs (long->double conversion is IEEE
    round-to-nearest in both engines, unlike DECIMAL/HUGEINT), one
    double division per cell, fixed-pointed before the cross-cell sum.
    Contingency table is tiny after the first aggregate; everything
    downstream is broadcast-sized."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ana_chi2_events")
    return spark.sql(_CHI2_SQL.format(events="ana_chi2_events"))


# ---------------------------------------------------------------------------
# Edit-distance similarity join (FastSS deletion-neighborhood blocking).
# ---------------------------------------------------------------------------


@register(
    "dedup_edit_distance_names",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def dedup_edit_distance_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-key join: all customer-name pairs within Levenshtein
    distance 1, found via FastSS depth-1 deletion-neighborhood blocking
    — O(n*L) variant rows + an equi-join instead of the oracle's O(n^2)
    cross join with a DP distance per pair. Levenshtein is an exact
    integer metric (identical in Spark and DuckDB), so the blocked
    result hash-matches brute force. The entity-resolution primitive
    for typo-level key reconciliation at corpus scale."""
    return dedup.edit_distance_pairs(
        t(spark, sf_dir, "customer"), col="c_name", id_col="c_custkey"
    )


# ---------------------------------------------------------------------------
# IQR outlier fences per group.
# ---------------------------------------------------------------------------

_IQR_SQL = """
WITH r AS (
  SELECT event_type AS grp, value AS v,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM {events}),
q AS (
  SELECT grp,
         MIN(CASE WHEN rn = CAST(FLOOR(0.25 * (n - 1)) AS BIGINT) + 1 THEN v END)
         + (0.25 * (MIN(n) - 1) - FLOOR(0.25 * (MIN(n) - 1)))
           * (MIN(CASE WHEN rn = CAST(CEIL(0.25 * (n - 1)) AS BIGINT) + 1 THEN v END)
              - MIN(CASE WHEN rn = CAST(FLOOR(0.25 * (n - 1)) AS BIGINT) + 1 THEN v END))
           AS p25,
         MIN(CASE WHEN rn = CAST(FLOOR(0.75 * (n - 1)) AS BIGINT) + 1 THEN v END)
         + (0.75 * (MIN(n) - 1) - FLOOR(0.75 * (MIN(n) - 1)))
           * (MIN(CASE WHEN rn = CAST(CEIL(0.75 * (n - 1)) AS BIGINT) + 1 THEN v END)
              - MIN(CASE WHEN rn = CAST(FLOOR(0.75 * (n - 1)) AS BIGINT) + 1 THEN v END))
           AS p75
  FROM r GROUP BY grp)
SELECT q.grp AS event_type, p25, p75,
       CAST(COUNT(CASE WHEN v < p25 - 1.5 * (p75 - p25)
                       OR v > p75 + 1.5 * (p75 - p25) THEN 1 END) AS BIGINT)
         AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM r JOIN q ON r.grp = q.grp
GROUP BY q.grp, p25, p75
"""


@register("stats_iqr_outliers_events", oracle=_IQR_SQL.format(events="events"))
def stats_iqr_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report per event type: exact interpolated
    quartiles (same rank-selection shape as percentile_cont — no
    engine percentile kernels), then a second pass counting values
    outside [p25 - 1.5*IQR, p75 + 1.5*IQR]. Fence arithmetic is one
    identical IEEE expression; comparisons against exact doubles are
    engine-independent. Complements the rolling z-score anomaly query
    with the robust (median-based) detector."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ana_iqr_events")
    return spark.sql(_IQR_SQL.format(events="ana_iqr_events"))


# ---------------------------------------------------------------------------
# BPE tokenizer training.
# ---------------------------------------------------------------------------


def _bpe_merge_fold_sql(sw: str, m: str) -> str:
    """DuckDB replay of one BPE merge applied to a unit-separator
    -joined symbol string ``sw``: a left fold where the accumulator is
    the rebuilt string — if it currently ends with symbol ``m.l`` and
    the next symbol is ``m.r``, the trailing ``l`` is replaced by the
    merged symbol (greedy left-to-right non-overlapping, the engine's
    `_bpe_merge_expr` semantics: after a merge the new tail differs
    from ``l``, so it can't be re-consumed). String state because
    DuckDB v1.0's list_reduce mis-evaluates struct accumulators.

    Symbols are CODEPOINT-ENCODED (see `_bpe_sym_encode_sql`), so the
    merged symbol is ``l || '.' || r`` and the chr(31) delimiter can
    never collide with symbol content — a literal chr(31) INSIDE a
    word used to split one char-symbol into two empty symbols and
    corrupt every downstream count (found by the round-6 adversarial-
    strings sweep)."""
    return (
        f"list_reduce(list_concat([chr(31)], "
        f"str_split(trim({sw}, chr(31)), chr(31))), "
        f"(acc, x) -> CASE WHEN ends_with(acc, chr(31) || {m}.l || chr(31)) "
        f"AND x = {m}.r "
        f"THEN acc[:len(acc) - len({m}.l) - 1] || {m}.l || '.' || {m}.r "
        f"|| chr(31) "
        f"ELSE acc || x || chr(31) END)"
    )


def _bpe_sym_encode_sql(w: str) -> str:
    """Initial symbol string for word ``w``: each character becomes its
    DECIMAL CODEPOINT, codepoints inside one symbol join with '.', and
    symbols join with chr(31). The alphabet of an encoded symbol is
    [0-9.], so NO text character — including chr(31) itself and other
    C0 controls — can collide with either separator, and the encoding
    is injective (dot-separated decimal parses uniquely back to the
    char sequence). Decode at the boundaries with
    `_bpe_sym_decode_sql`."""
    return (
        f"chr(31) || array_to_string(list_transform(str_split({w}, ''), "
        f"c -> CAST(unicode(c) AS VARCHAR)), chr(31)) || chr(31)"
    )


def _bpe_sym_decode_sql(sym: str) -> str:
    """Inverse of `_bpe_sym_encode_sql` for ONE symbol: dot-split the
    decimal codepoints back to characters. Used for the rank tie-break
    (the engine orders REAL symbol strings — UTF-8/codepoint order in
    both engines) and for the merge-table output columns."""
    return (
        f"array_to_string(list_transform(str_split({sym}, '.'), "
        f"cp -> chr(CAST(cp AS INTEGER))), '')"
    )


def _bpe_train_ctes(n_rounds: int, batch: int) -> tuple[str, list[str]]:
    """CTE chain replaying the batch-greedy BPE trainer: per round,
    pair counts over the current symbol segmentation, (cnt DESC, l, r)
    ranking, a greedy adoption walk (rank 1, then repeatedly the first
    pair symbol-disjoint from everything adopted this round), then the
    string-state merge folds. Returns (sql, adopted CTE names in merge
    order). Counts are exact integer sums and every adoption is a
    deterministic ranking walk, so the trajectory hash-matches the
    engine; the general batch rule (incl. widening collects and short
    batches) stays pinned in pytest.

    SHORT-BATCH SAFETY: an adopted CTE may be EMPTY (no j-th
    symbol-disjoint pair this round — the engine then adopts a short
    batch and continues). The merge folds therefore cross-join
    1-row-guaranteed ``f{r}{j}`` twins that COALESCE an empty adoption
    to the no-op pair ('','') — symbols are never empty strings, so
    the no-op merge matches nothing and the fold replays the engine's
    short batch instead of collapsing s{r} (and everything downstream)
    to zero rows. The output UNION still reads the raw ``a{r}{j}``
    CTEs, so a short batch also emits fewer merge rows, exactly like
    the engine."""
    parts = [
        """WITH tok AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents)
  WHERE len(w) > 0 GROUP BY w),
s0 AS MATERIALIZED (
  SELECT """
        + _bpe_sym_encode_sql("w")
        + """ AS sw,
         freq
  FROM tok)"""
    ]
    adopted: list[str] = []
    for r in range(1, n_rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f""",
p{r} AS MATERIALIZED (
  SELECT pr.l, pr.r, SUM(freq) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(arr) - 1),
                  i -> {{l: arr[i], r: arr[i + 1]}})) AS pr, freq
    FROM (SELECT str_split(trim(sw, chr(31)), chr(31)) AS arr, freq
          FROM {prev})) GROUP BY 1, 2),
rk{r} AS MATERIALIZED (
  SELECT l, r, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC,
                            {_bpe_sym_decode_sql('l')},
                            {_bpe_sym_decode_sql('r')}) AS rk FROM p{r}),
a{r}1 AS MATERIALIZED (SELECT l, r, cnt FROM rk{r} WHERE rk = 1)"""
        )
        round_adopted = [f"a{r}1"]
        for j in range(2, batch + 1):
            joins = " ".join(
                f"CROSS JOIN {name} u{i}"
                for i, name in enumerate(round_adopted, 1)
            )
            used = ", ".join(
                f"u{i}.l, u{i}.r, u{i}.l || '.' || u{i}.r"
                for i in range(1, len(round_adopted) + 1)
            )
            parts.append(
                f""",
a{r}{j} AS MATERIALIZED (
  SELECT k.l, k.r, k.cnt FROM rk{r} k {joins}
  WHERE k.l NOT IN ({used}) AND k.r NOT IN ({used})
  ORDER BY k.rk LIMIT 1)"""
            )
            round_adopted.append(f"a{r}{j}")
        for name in round_adopted:
            parts.append(
                f""",
f{name} AS MATERIALIZED (
  SELECT COALESCE(MAX(l), '') AS l, COALESCE(MAX(r), '') AS r
  FROM {name})"""
            )
        fold = "sw"
        for name in round_adopted:
            fold = _bpe_merge_fold_sql(fold, f"m_{name}")
        fold_joins = " ".join(
            f"CROSS JOIN f{name} m_{name}" for name in round_adopted
        )
        parts.append(
            f""",
s{r} AS MATERIALIZED (
  SELECT {fold} AS sw, freq
  FROM {prev} {fold_joins})"""
        )
        adopted.extend(round_adopted)
    return "".join(parts), adopted


def _bpe_oracle(n_rounds: int = 2, batch: int = 2) -> str:
    """Merge-table output of the trainer replay (`_bpe_train_ctes`)."""
    ctes, adopted = _bpe_train_ctes(n_rounds, batch)
    dl, dr = _bpe_sym_decode_sql("l"), _bpe_sym_decode_sql("r")
    rows = [
        (
            f"SELECT CAST({i} AS BIGINT) AS merge_rank, "
            f'{dl} AS "left", {dr} AS "right", cnt AS pair_count FROM {name}'
            if i == 1
            else f"SELECT CAST({i} AS BIGINT), {dl}, {dr}, cnt FROM {name}"
        )
        for i, name in enumerate(adopted, 1)
    ]
    return ctes + "\n" + "\nUNION ALL\n".join(rows)


@register("text_bpe_merges", oracle=_bpe_oracle())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training on the fixture corpus — the
    tokenizer-training step of an LLM data pipeline, via the BATCHED
    trainer (`text.bpe_train_merges_batched`, batch_size=2): each
    corpus pass adopts up to 2 symbol-disjoint merges, halving the
    driver round-trips vs one-merge-per-pass — the difference that
    makes a 50k-merge production vocabulary tractable. Corpus
    collapses to its word-frequency table in the first groupBy (all
    later rounds are vocabulary-sized regardless of corpus size);
    pair counting, ranking and the merge fold are pure Catalyst
    expressions — no Python in any round. The 2 fixed rounds UNROLL
    into a DuckDB oracle (`_bpe_oracle`): integer pair counts,
    (cnt DESC, l, r) ranking, rank-1 + first-disjoint adoption, and a
    string-state list_reduce replay of the greedy merge fold — the
    merge table hash-matches exactly; pytest additionally pins the
    batch rule against a pure-Python batch-greedy reference
    (`TestBpeTrainerBatched`) and the sequential trainer against
    classic BPE (`TestBpeTrainer`)."""
    return text.bpe_train_merges_batched(
        t(spark, sf_dir, "documents"), n_merges=4, batch_size=2
    )


# ---------------------------------------------------------------------------
# Incremental join maintenance (view maintenance under appends).
# ---------------------------------------------------------------------------


@register(
    "incremental_join_maintenance",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, l.l_suppkey,
           CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT) AS quantity
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a fact join: both inputs are
    split into base + appended-delta (md5 bucket, 20% delta), the
    maintained join = base-join UNION the delta formula
    dA><B + A><dB + dA><dB (join's bilinearity over union). The oracle
    is the DIRECT full join — equality IS the maintenance-correctness
    theorem. Maintenance work scales with the delta, not the history:
    the O(day) nightly refresh of a materialized 100 TB fact join."""
    from ..operators.incremental_agg import incremental_join_delta

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_suppkey",
        # floor(x + 0.5), not a bare cast: the Spark-truncates /
        # DuckDB-rounds cast boundary (round-6 numerics sweep)
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("quantity"),
    )

    def bucket(col: str):
        return (
            F.conv(
                F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 5
            == 0
        )

    o_delta, o_old = orders.filter(bucket("o_orderkey")), orders.filter(
        ~bucket("o_orderkey")
    )
    l_delta, l_old = li.filter(bucket("o_orderkey")), li.filter(
        ~bucket("o_orderkey")
    )
    maintained = o_old.join(l_old, "o_orderkey").unionByName(
        incremental_join_delta(o_old, o_delta, l_old, l_delta, "o_orderkey")
    )
    return maintained.select("o_orderkey", "o_custkey", "l_suppkey", "quantity")


# ---------------------------------------------------------------------------
# Arrow-batched model-inference scoring.
# ---------------------------------------------------------------------------


@register(
    "inference_batch_score",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substring(md5(text), 1, 8)) AS UBIGINT)
             / 4294967296.0 AS score
    FROM documents
    """,
)
def inference_batch_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model inference over Arrow batches
    (`functions/inference.batch_score`): mapInPandas with explicit
    batch geometry, per-worker model init, (id, score) back to the JVM
    — the scoring seam where a toxicity/quality/reward classifier runs
    at 100 TB. The default scorer is md5-derived, so even the PYTHON
    path is oracle hash-matched (DuckDB recomputes the identical
    score), not just smoke-tested. Map-only; text never returns to
    the JVM."""
    from ..functions.inference import batch_score

    return batch_score(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# A/B test: two-proportion z statistic.
# ---------------------------------------------------------------------------

_AB_SQL = """
WITH assign AS (
  SELECT DISTINCT user_id, {variant_expr} AS variant
  FROM {events}),
conv AS (
  SELECT DISTINCT user_id FROM {events} WHERE event_type = 'purchase'),
cells AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COUNT(conv.user_id) AS BIGINT) AS n_converted
  FROM assign LEFT JOIN conv USING (user_id)
  GROUP BY variant),
wide AS (
  SELECT
    MIN(CASE WHEN variant = 0 THEN n_users END) AS n0,
    MIN(CASE WHEN variant = 0 THEN n_converted END) AS c0,
    MIN(CASE WHEN variant = 1 THEN n_users END) AS n1,
    MIN(CASE WHEN variant = 1 THEN n_converted END) AS c1
  FROM cells)
SELECT n0, c0, n1, c1,
       CAST(c0 AS DOUBLE) / n0 AS rate0,
       CAST(c1 AS DOUBLE) / n1 AS rate1,
       (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
       / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
              * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
              * (1.0 / n0 + 1.0 / n1)) AS z_stat
FROM wide
"""


_AB_VARIANT_DUCK = (
    "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))"
    " AS UBIGINT) % 2"
)
# Same md5 bucket, Spark dialect (no hex-literal cast; conv() instead).
_AB_VARIANT_SPARK = (
    "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
    " AS BIGINT) % 2"
)


@register(
    "stats_ab_test_conversion",
    oracle=_AB_SQL.format(events="events", variant_expr=_AB_VARIANT_DUCK),
)
def stats_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: md5-parity variant
    assignment (the deterministic hash-bucketing every experimentation
    platform uses), conversion = any purchase event, pooled-variance z
    statistic. Counts are exact integers; the z arithmetic is one
    identical IEEE expression on both engines. Two shuffles (distinct
    users, converters) then broadcast-sized cells."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ana_ab_events")
    return spark.sql(
        _AB_SQL.format(events="ana_ab_events", variant_expr=_AB_VARIANT_SPARK)
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained top-k.
# ---------------------------------------------------------------------------


@register(
    "incremental_topk_maintenance",
    oracle="""
    WITH sums AS (
      SELECT user_id,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id)
    SELECT user_id, total_cents, n_events, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY total_cents DESC, user_id)
                     AS BIGINT) AS rank
      FROM sums) x
    WHERE rank <= 10
    """,
)
def incremental_topk_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 spenders maintained INCREMENTALLY: events split into
    base + appended batch (md5 bucket), per-user exact-cent sums kept
    as mergeable rollup state (`incremental_agg.merge_rollup`), batch
    state folded in, THEN top-k over the maintained state. The subtle
    part this query pins: sum-based top-k is NOT mergeable from top-k
    partials (a key outside both partial top-10s can win overall), so
    the maintained object is the full per-key state — still O(batch)
    maintenance work + O(keys) state, never O(history) re-aggregation.
    Oracle = direct top-10 over the whole table (the papers-corpus
    'incremental top-k' shape: maintenance == recompute exactly)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 5
        == 0
    )
    base, batch = ev.filter(~bucket), ev.filter(bucket)

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.sum("cents").alias("total_cents"), F.count("*").alias("n_events")
        )

    merged = (
        state(base)
        .unionByName(state(batch))
        .groupBy("user_id")
        .agg(
            F.sum("total_cents").alias("total_cents"),
            F.sum("n_events").alias("n_events"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("total_cents").desc(), F.col("user_id"))
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("user_id", "total_cents", "n_events", "rank")
    )


# ---------------------------------------------------------------------------
# Time-bounded conversion funnel.
# ---------------------------------------------------------------------------


@register(
    "funnel_time_bounded",
    oracle="""
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s1 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'view' AND e.ts > s0.t
        AND e.ts <= s0.t + INTERVAL 24 HOURS
      GROUP BY e.user_id),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 24 HOURS
      GROUP BY e.user_id)
    SELECT CAST(0 AS BIGINT) AS step_index, 'signup' AS step,
           COUNT(*) AS n_users FROM s0
    UNION ALL SELECT 1, 'view', COUNT(*) FROM s1
    UNION ALL SELECT 2, 'purchase', COUNT(*) FROM s2
    """,
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: each hop must land within 24 hours of
    the previous step's completion (``ordered_funnel_df(max_gap_
    seconds=86400)``) — the attribution-style variant of the ordered
    funnel (no window -> lifetime funnel; bounded -> campaign
    conversion). Same monotone-shrink execution; the bound is a pure
    filter, no extra shuffle."""
    from ..operators.funnel import ordered_funnel_df

    return ordered_funnel_df(
        t(spark, sf_dir, "events"),
        steps=["signup", "view", "purchase"],
        max_gap_seconds=86400,
    ).withColumn("step_index", F.col("step_index").cast("long"))


# ---------------------------------------------------------------------------
# Multimodal: audio-style window chunking over binary payloads.
# ---------------------------------------------------------------------------


@register(
    "multimodal_audio_windows",
    oracle="""
    -- DuckDB cannot slice BLOBs; the fixture corpus is pure ASCII
    -- (octet_length(encode(text)) == length(text) for every row), so
    -- char windows on the VARCHAR are byte-identical to Spark's
    -- binary windows and md5(VARCHAR) hashes the same bytes.
    WITH w AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(CEIL(length(text) / 64.0) AS BIGINT) - 1)) AS window_idx,
             text
      FROM documents WHERE length(text) > 0)
    SELECT doc_id,
           CAST(window_idx AS BIGINT) AS window_idx,
           CAST(window_idx * 64 AS BIGINT) AS byte_offset,
           CAST(length(substring(text, CAST(window_idx * 64 + 1 AS INT), 64))
                AS BIGINT) AS n_bytes,
           md5(substring(text, CAST(window_idx * 64 + 1 AS INT), 64))
             AS chunk_md5
    FROM w
    WHERE length(substring(text, CAST(window_idx * 64 + 1 AS INT), 64)) > 0
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> fixed 64-byte frame windows with offsets and
    content-address md5 (`multimodal.audio_windows`) — the waveform-
    chunking plumbing before any codec/feature UDF, with the payload
    derived from text bytes as everywhere in the multimodal tranche
    (no audio libs in-container; the byte mechanics are the real
    surface). Map-side explode; bytes never enter Python. The oracle
    slices the identical BLOB windows in DuckDB."""
    from ..operators import multimodal

    mm = multimodal.attach_binary_payload(t(spark, sf_dir, "documents"))
    return multimodal.audio_windows(mm, window_bytes=64, hop_bytes=64)


# ---------------------------------------------------------------------------
# Corpus mixing to a target distribution.
# ---------------------------------------------------------------------------

_MIX_SHARES = {"en": 600, "de": 100, "fr": 100, "es": 100, "zh": 100}

_MIX_SQL = """
WITH shares AS (
  {shares_union}),
counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_g FROM {docs} GROUP BY lang),
cap AS (
  SELECT MIN({div_expr}) AS t_cap
  FROM counts JOIN shares ON counts.lang = shares.lang),
kept AS (
  SELECT d.doc_id, d.lang
  FROM {docs} d
  JOIN counts ON d.lang = counts.lang
  JOIN shares ON d.lang = shares.lang
  CROSS JOIN cap
  WHERE {bucket_expr} * 1000 * n_g < 1000000 * t_cap * share_permil)
SELECT k.lang,
       MIN(c.n_g) AS n_before,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(MIN(s.share_permil) AS BIGINT) AS target_permil
FROM kept k
JOIN counts c ON k.lang = c.lang
JOIN shares s ON k.lang = s.lang
GROUP BY k.lang
"""

_MIX_SHARES_UNION = " UNION ALL ".join(
    f"SELECT '{g}' AS lang, {p} AS share_permil" for g, p in _MIX_SHARES.items()
)
_MIX_BUCKET_DUCK = (
    "CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))"
    " AS UBIGINT) % 1000000"
)


@register(
    "corpus_mix_to_target",
    oracle=_MIX_SQL.format(
        docs="documents",
        shares_union=_MIX_SHARES_UNION,
        div_expr="(n_g * 1000) // share_permil",
        bucket_expr=_MIX_BUCKET_DUCK,
    ),
)
def corpus_mix_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (`text.mix_to_target`): downsample each language to
    a 60/10/10/10/10 target recipe — the pretraining-mixture step. The
    feasible total and per-group keep rates are exact integer
    arithmetic; membership is an md5-uniform filter, so the kept SET
    (not just its size) is engine-reproducible. Reported per language:
    corpus count, kept count, target per-mil. One stats aggregate +
    broadcast joins + map-side filter."""
    from ..operators.text import mix_to_target

    docs = t(spark, sf_dir, "documents")
    kept = mix_to_target(docs, _MIX_SHARES, group_col="lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_g"))
    shares = spark.createDataFrame(
        pa.table({"lang": list(_MIX_SHARES), "share_permil": list(_MIX_SHARES.values())}),
        "lang string, share_permil long",
    )
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .join(counts, "lang")
        .join(shares, "lang")
        .select(
            "lang",
            F.col("n_g").alias("n_before"),
            "n_kept",
            F.col("share_permil").alias("target_permil"),
        )
    )


# ---------------------------------------------------------------------------
# MaxSim late-interaction retrieval (multi-vector bags).
# ---------------------------------------------------------------------------

_MAXSIM_ORACLE = """
WITH qe AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE label = 0
  ORDER BY vec_id LIMIT 5),
q AS (
  SELECT qid, i,
         CAST(FLOOR(CAST(v AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS qv
  FROM (SELECT qid, unnest(generate_series(1, len(embedding))) AS i,
               unnest(embedding) AS v FROM qe) z),
d AS (
  SELECT vec_id AS did, label, i,
         CAST(FLOOR(CAST(v AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS dv
  FROM (SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS i,
               unnest(embedding) AS v FROM embeddings WHERE label <> 0) z),
dots AS (
  SELECT d.label, q.qid, d.did, CAST(SUM(q.qv * d.dv) AS BIGINT) AS dot
  FROM q JOIN d ON q.i = d.i
  GROUP BY d.label, q.qid, d.did),
mx AS (SELECT label, qid, MAX(dot) AS m FROM dots GROUP BY label, qid)
SELECT label, CAST(SUM(m) AS BIGINT) AS maxsim_score FROM mx GROUP BY label
"""


@register("similarity_maxsim_labels", oracle=_MAXSIM_ORACLE)
def similarity_maxsim_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim late interaction
    (`similarity.maxsim_scores`): each label's vectors form a
    multi-vector bag; the query bag (label 0, 5 lowest ids) scores
    every other bag with sum_q max_d <q,d>. Integer-quantized
    components make every dot/max/sum exact BIGINT arithmetic — the
    whole late-interaction pipeline is engine-reproducible. Spark runs
    vector-at-a-time codegen folds over a broadcast query bag (one
    corpus scan); the oracle reconstructs the same dots by
    position-join (64x row blowup — the naive formulation)."""
    from ..operators.similarity import maxsim_scores

    return maxsim_scores(t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Market-basket lift (co-purchase association).
# ---------------------------------------------------------------------------

_BASKET_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM {lineitem}),
n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
cx AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY p),
cab AS (
  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
  GROUP BY x.p, y.p)
SELECT a, b, c_ab, ca.c AS c_a, cb.c AS c_b,
       CAST(n_orders * c_ab AS DOUBLE) / (CAST(ca.c AS DOUBLE) * cb.c) AS lift
FROM cab
JOIN cx ca ON cab.a = ca.p
JOIN cx cb ON cab.b = cb.p
CROSS JOIN n
ORDER BY c_ab DESC, a, b LIMIT 50
"""


@register("market_basket_lift", oracle=_BASKET_SQL.format(lineitem="lineitem"))
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase association mining: support counts and lift
    n*c_ab/(c_a*c_b) for part pairs sharing an order, top 50 by
    support with (a,b) tie-break. The pair generation is an
    order-keyed self-join — pair volume is sum over orders of k^2 with
    k bounded by basket size (~single digits), NOT corpus^2; at 100 TB
    the same join keys on the basket id and stays linear in baskets.
    Lift is one IEEE division of exact BIGINT counts; the 1-row order
    total rides a broadcast cross join. Top-50 executes as TakeOrdered
    (no global sort)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("ana_basket_lineitem")
    return spark.sql(_BASKET_SQL.format(lineitem="ana_basket_lineitem"))


# ---------------------------------------------------------------------------
# BPE encode (apply the trained merge table).
# ---------------------------------------------------------------------------


def _bpe_encode_oracle(n_rounds: int = 2, batch: int = 3) -> str:
    """Trainer replay (`_bpe_train_ctes`) continued through the ENCODE
    pass: every distinct word's char string runs through all adopted
    merge folds in rank order, n_word_tokens = surviving symbol count,
    then word occurrences join back and aggregate per document."""
    ctes, adopted = _bpe_train_ctes(n_rounds, batch)
    fold = _bpe_sym_encode_sql("w")
    for name in adopted:
        fold = _bpe_merge_fold_sql(fold, f"m_{name}")
    # f-twins (1-row no-op COALESCE), not the raw adopted CTEs: an
    # empty adoption (short batch) must no-op the fold, not empty enc.
    joins = " ".join(f"CROSS JOIN f{name} m_{name}" for name in adopted)
    return (
        ctes
        + f""",
enc AS MATERIALIZED (
  SELECT w,
         CAST(len(str_split(trim({fold}, chr(31)), chr(31))) AS BIGINT)
           AS n_word_tokens
  FROM tok {joins}),
dw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w FROM documents)
  WHERE len(w) > 0)
SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_word_tokens) AS BIGINT) AS n_tokens
FROM dw d JOIN enc e USING (w) GROUP BY d.doc_id"""
    )


@register("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE pass (`text.bpe_encode`): train 6 merges on the
    corpus with the BATCHED trainer (`text.bpe_train_merges_batched`,
    batch_size=3 — 2 corpus passes instead of 6; batch rule pinned in
    pytest), then apply them in rank order to every document — greedy
    left-to-right non-overlapping, the trainer's own semantics.
    Distinct-word vocabulary encodes once (Catalyst merge folds, no
    Python); occurrences join back via broadcast. The fixed 2x3
    training rounds AND the encode folds unroll into a DuckDB oracle
    (`_bpe_encode_oracle`) that hash-matches (doc_id, n_words,
    n_tokens) exactly; pytest additionally pins encode output against
    a pure-Python reference tokenizer."""
    from ..operators.text import bpe_encode, bpe_train_merges_batched

    docs = t(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train_merges_batched(docs, n_merges=6, batch_size=3)
        .orderBy("merge_rank")
        .collect()
    ]
    return bpe_encode(docs, merges)


# ---------------------------------------------------------------------------
# Degree distribution of the supplier co-occurrence graph.
# ---------------------------------------------------------------------------

_DEGREE_SQL = """
WITH pairs AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM {lineitem} x JOIN {lineitem} y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs) u
  GROUP BY node)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


@register(
    "graph_degree_distribution",
    oracle=_DEGREE_SQL.format(lineitem="lineitem"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the supplier co-occurrence graph — the
    first diagnostic before any graph algorithm (skew detection: a
    heavy-tailed degree histogram is what forces the (degree, id)
    orientation in `graph_triangle_count_suppliers` and salting in
    joins). Edge build is the basket-bounded self-join; degrees and
    the histogram are two combinable aggregations. Companion to
    `profile_table_orders` on the graph side."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("ana_deg_lineitem")
    return spark.sql(_DEGREE_SQL.format(lineitem="ana_deg_lineitem"))


# ---------------------------------------------------------------------------
# Directional containment pairs (quote / excerpt detection).
# ---------------------------------------------------------------------------

_CONTAIN_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk)-1),
                               i -> tk[i] || ' ' || tk[i+1])) AS s
  FROM toks WHERE len(tk) >= 2),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(n_inter AS DOUBLE) / sa.m AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE 1000 * n_inter >= 800 * sa.m
"""


@register("dedup_containment_pairs", oracle=_CONTAIN_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional bigram containment >= 0.8 (`dedup.containment_pairs`)
    — the quote/excerpt detector Jaccard structurally misses (a
    paragraph inside a 100x larger doc has high containment, tiny
    Jaccard). Ordered (contained, container) pairs; all-integer
    threshold keeps the pair SET engine-exact; score is one final IEEE
    division. Candidates come from the LOSSLESS asymmetric prefix
    filter (contained side indexes only its |A|-ceil(t|A|)+1 rarest
    shingles; container side keeps its full inverted index) with
    positional + size pruning inside the join — the oracle is the
    naive all-shingle self-join, so the hash match proves the filter
    drops nothing."""
    return dedup.containment_pairs(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Array scalar functions, tranche 2: set algebra over array columns.
# ---------------------------------------------------------------------------

_ARR2_ORACLE = """
WITH tk AS (
  SELECT doc_id, string_split(lower(text), ' ') AS a
  FROM documents WHERE doc_id < 200),
halves AS (
  SELECT doc_id,
         list_slice(a, 1, len(a) // 2) AS h1,
         list_slice(a, len(a) // 2 + 1, len(a)) AS h2
  FROM tk WHERE len(a) >= 2)
SELECT doc_id,
       CAST(len(list_distinct(list_intersect(h1, h2))) AS BIGINT) AS n_inter,
       COALESCE(array_to_string(list_sort(list_distinct(list_intersect(h1, h2))),
                ','), '') AS inter_csv,
       COALESCE(array_to_string(list_sort(list_distinct(h1 || h2)), ','), '')
         AS union_csv,
       COALESCE(array_to_string(
         list_sort(list_distinct(list_filter(h1, x -> NOT list_contains(h2, x)))),
         ','), '') AS except_csv
FROM halves
"""


@register("scalar_array_functions2", oracle=_ARR2_ORACLE)
def scalar_array_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (intersect / union / except) between each
    document's token halves — tranche 2 of the array scalar library
    (`scalar_array_functions` covers construction/access). Outputs are
    CANONICALIZED (sort + comma-join) because engines order set-op
    results differently and the house rule bans raw ARRAY outputs in
    oracle queries; the canonical string is also the mergeable form a
    shard-level signature would use. Map-only — no shuffle at any
    corpus size."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.split(F.lower(F.col("text")), " ").alias("a"))
        .filter(F.size("a") >= 2)
        .select(
            "doc_id",
            F.expr("slice(a, 1, size(a) DIV 2)").alias("h1"),
            F.expr("slice(a, size(a) DIV 2 + 1, size(a) - size(a) DIV 2)").alias("h2"),
        )
    )
    inter = F.array_sort(F.array_distinct(F.array_intersect("h1", "h2")))
    return d.select(
        "doc_id",
        F.size(inter).cast("long").alias("n_inter"),
        F.array_join(inter, ",").alias("inter_csv"),
        F.array_join(
            F.array_sort(F.array_distinct(F.array_union("h1", "h2"))), ","
        ).alias("union_csv"),
        F.array_join(
            F.array_sort(F.array_distinct(F.array_except("h1", "h2"))), ","
        ).alias("except_csv"),
    )

_IMG_ORACLE = """
-- Same ASCII byte==char equivalence as multimodal_audio_windows.
WITH p AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE length(text) > 0),
idx AS (
  SELECT doc_id, text,
         unnest(generate_series(0,
           CAST(CEIL(CEIL(n / 16.0) / 8.0) AS BIGINT) * 2 - 1)) AS w
  FROM p),
tiles AS (
  SELECT doc_id, CAST(w // 2 AS BIGINT) AS tile_r,
         CAST(w % 2 AS BIGINT) AS tile_c,
         substring(text, CAST(((w // 2) * 8 + 0) * 16 + (w % 2) * 8 + 1 AS INT), 8)
         || substring(text, CAST(((w // 2) * 8 + 1) * 16 + (w % 2) * 8 + 1 AS INT), 8)
         || substring(text, CAST(((w // 2) * 8 + 2) * 16 + (w % 2) * 8 + 1 AS INT), 8)
         || substring(text, CAST(((w // 2) * 8 + 3) * 16 + (w % 2) * 8 + 1 AS INT), 8)
         || substring(text, CAST(((w // 2) * 8 + 4) * 16 + (w % 2) * 8 + 1 AS INT), 8)
         || substring(text, CAST(((w // 2) * 8 + 5) * 16 + (w % 2) * 8 + 1 AS INT), 8)
         || substring(text, CAST(((w // 2) * 8 + 6) * 16 + (w % 2) * 8 + 1 AS INT), 8)
         || substring(text, CAST(((w // 2) * 8 + 7) * 16 + (w % 2) * 8 + 1 AS INT), 8)
           AS chunk
  FROM idx)
SELECT doc_id, tile_r, tile_c,
       CAST(length(chunk) AS BIGINT) AS n_bytes,
       md5(chunk) AS tile_md5
FROM tiles WHERE length(chunk) > 0
"""


@register("multimodal_image_tiles", oracle=_IMG_ORACLE)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D patch grid over binary payloads (`multimodal.image_tiles`):
    the payload reads as an H x 16-byte raster and splits into 8x8
    tiles with ragged edges kept and a content-address md5 per tile —
    the ViT-patch / map-tile plumbing with the codec step stubbed as
    everywhere in the multimodal tranche. Map-side concat of row
    slices, bytes never enter Python; the oracle rebuilds identical
    tiles char-wise on the ASCII corpus."""
    from ..operators import multimodal

    mm = multimodal.attach_binary_payload(t(spark, sf_dir, "documents"))
    return multimodal.image_tiles(mm, row_bytes=16, tile=8)
