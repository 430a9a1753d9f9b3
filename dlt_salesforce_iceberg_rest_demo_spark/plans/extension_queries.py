"""Driver-mandated extension operators (SURVEY.md §2.8) as registry
entries: dedup, similarity search, text analysis, multimodal, temporal.

Oracle policy: every operator whose semantics ANSI SQL can express gets
a DuckDB oracle (exact hash-match). Hash-based operators whose innards
are engine hash functions (MinHash/SimHash/LSH/xxhash64) register
rows-only here and are instead verified in pytest against the *exact*
operator (recall / containment assertions in tests/test_operators.py) -
the stronger check for approximate algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity, temporal, text
from ..operators.materialize import spread
from ._helpers import t
from .registry import register

# ---------------------------------------------------------------------------
# Dedup.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content: hash-groupBy, deterministic min-id
    representative. Only (key, id) shuffles - payload never moves."""
    return dedup.exact_dedup(t(spark, sf_dir, "documents"), ["text"])


JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk)-1),
                               i -> tk[i] || ' ' || tk[i+1])) AS s
  FROM toks WHERE len(tk) >= 2),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


@register("dedup_ngram_jaccard", oracle=JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-shingle Jaccard near-dup pairs (threshold 0.5).
    The verification-grade path; at scale it runs only on LSH
    candidates (see dedup_minhash_lsh)."""
    return dedup.jaccard_pairs(
        t(spark, sf_dir, "documents"), n=2, threshold=0.5
    )


def _minhash_perm_values() -> str:
    from ..operators.dedup import _permutation_constants

    return ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(_permutation_constants(32, seed=42))
    )


_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk)-1),
                               i -> tk[i] || ' ' || tk[i+1])) AS s
  FROM toks WHERE len(tk) >= 2)
"""

_MINHASH_ORACLE = f"""
WITH {_SHINGLE_CTE},
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(s), 1, 8)) AS UBIGINT) AS h
  FROM sh),
perms(i, a, b) AS (VALUES {{perms}}),
proj AS (
  SELECT doc_id, i,
         CAST((CAST(a AS HUGEINT) * h + b) % 2147483647 AS BIGINT) AS hv
  FROM hashed CROSS JOIN perms),
sig AS (SELECT doc_id, i, MIN(hv) AS m FROM proj GROUP BY 1, 2),
sigarr AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sig GROUP BY doc_id),
keyed AS (
  SELECT doc_id, band,
         array_to_string(sig[4*band+1 : 4*band+4], ',') AS bk, sig
  FROM sigarr CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band)),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.sig AS sa, y.sig AS sb
  FROM keyed x JOIN keyed y
    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b,
       CAST(list_sum(list_transform(generate_series(1, 32),
            i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
         AS est_jaccard
FROM pairs
WHERE CAST(list_sum(list_transform(generate_series(1, 32),
           i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 >= 0.5
""".format(perms=_minhash_perm_values())


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands, r=4) near-dup pairs - the
    O(corpus) scale path. Signatures use PORTABLE md5-derived base
    hashes + seeded universal-hash permutations, so DuckDB rebuilds
    the identical signature matrix, bands on the raw 4-tuples (Spark's
    xxhash64 band bucket is equality-preserving over them) and the
    pair set + agreement-fraction estimates hash-match exactly. pytest
    additionally pins recall == 1.0 against the exact Jaccard pairs on
    the fixtures."""
    return dedup.minhash_dedup_pairs(
        t(spark, sf_dir, "documents"), threshold=0.5
    )


_SIMHASH_ORACLE = f"""
WITH {_SHINGLE_CTE},
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(s), 9, 8)) AS UBIGINT) AS h_lo,
         CAST(('0x' || substring(md5(s), 1, 8)) AS UBIGINT) AS h_hi
  FROM sh),
bits AS (
  SELECT doc_id, i,
         SUM(CASE WHEN ((CASE WHEN i < 32 THEN h_lo ELSE h_hi END
                         >> (i % 32)) & 1) = 1 THEN 1 ELSE -1 END) AS bsum
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
  GROUP BY 1, 2),
chunks AS (
  SELECT doc_id, i // 16 AS ci,
         CAST(SUM(CASE WHEN bsum > 0
                       THEN (CAST(1 AS BIGINT) << (i % 16)) ELSE 0 END)
              AS BIGINT) AS cv
  FROM bits GROUP BY 1, 2),
carr AS (SELECT doc_id, list(cv ORDER BY ci) AS chunks FROM chunks GROUP BY doc_id),
keyed AS (
  SELECT doc_id, ci, chunks[ci+1] AS cv, chunks
  FROM carr CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS ci)),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.chunks AS ca, y.chunks AS cb
  FROM keyed x JOIN keyed y
    ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b,
       CAST(list_sum(list_transform(generate_series(1, 4),
            k -> bit_count(xor(ca[k], cb[k])))) AS BIGINT) AS hamming
FROM pairs
WHERE list_sum(list_transform(generate_series(1, 4),
      k -> bit_count(xor(ca[k], cb[k])))) <= 3
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs within Hamming distance 3 via 4x16-bit
    pigeonhole banding. Signature bits come from PORTABLE md5-derived
    halves, so DuckDB rebuilds identical chunk vectors and the
    candidate + verify pipeline hash-matches exactly; pytest keeps the
    planted-duplicate recall check."""
    return dedup.simhash_pairs(t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# Similarity search.
# ---------------------------------------------------------------------------

# Fixed-point dot products: per-element double multiply (bit-identical
# in both engines) scaled by 1e15 and floored to BIGINT (floor + exact
# int sums are engine-independent; the scale cancels in the ratio).
# Mirrors operators.similarity._dot_fixed exactly.
_DDOT = (
    "CAST(list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e15) "
    "AS BIGINT))) AS DOUBLE)"
)

COSINE_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, corpus_id,
    {_DDOT.format(a="qv", b="cv")}
    / ( sqrt({_DDOT.format(a="qv", b="qv")})
      * sqrt({_DDOT.format(a="cv", b="cv")}) )
    AS cosine
  FROM c, q WHERE corpus_id <> query_id)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS rank
  FROM scored) x
WHERE rank <= 5
"""


@register("similarity_topk_exact", oracle=COSINE_ORACLE)
def similarity_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 8 query vectors, fixed-point
    accumulation (bit-reproducible -> full oracle hash-match)."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, exact_decimal=True
    )


_BRUTE_DDOT = (
    "CAST(list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e15) "
    "AS BIGINT))) AS DOUBLE)"
)

_BRUTE_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, corpus_id,
         {_BRUTE_DDOT.format(a="qv", b="cv")}
         / ( sqrt({_BRUTE_DDOT.format(a="qv", b="qv")})
           * sqrt({_BRUTE_DDOT.format(a="cv", b="cv")}) ) AS cosine
  FROM q JOIN c ON corpus_id <> query_id)
SELECT query_id, corpus_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


@register("similarity_topk_bruteforce", oracle=_BRUTE_ORACLE)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5, fixed-point accumulation — the
    baseline every ANN variant is measured against, now hash-proof
    end-to-end (scores AND ranks match DuckDB bit-for-bit). The
    double-fold production variant (same ranking, fastest JVM path)
    stays pinned in pytest via
    test_bruteforce_matches_fixed_point_ranking."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, exact_decimal=True
    )


def _ann_oracle(n_planes: int = 8, n_tables: int = 16, dim: int = 64, k: int = 5) -> str:
    """Replay of the full ANN pipeline: the 128 hyperplanes as DOUBLE-
    cast list literals, fixed-point sign projections -> per-table
    buckets, multiprobe r=1 bucket set, candidate join, fixed-point
    rerank. Bit-exact because every float op (plane coefficients,
    floored products, sqrt/divide) is identical in both engines."""
    from ..operators.similarity import _hyperplanes

    rows = []
    for t_ in range(n_tables):
        for p, plane in enumerate(_hyperplanes(dim, n_planes, 42 + 1000 * t_)):
            arr = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in plane)
            rows.append(f"({t_}, {p}, [{arr}])")
    values = ",\n".join(rows)
    return f"""
WITH planes(t, p, warr) AS (VALUES {values}),
vecs AS (SELECT vec_id, embedding FROM embeddings),
proj AS (
  SELECT vec_id, t, p,
         list_sum(list_transform(generate_series(1, {dim}),
           i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * warr[i] * 1e15)
                     AS BIGINT))) AS dp
  FROM vecs CROSS JOIN planes),
bk AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN dp > 0 THEN (CAST(1 AS BIGINT) << p)
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2),
qprobe AS (
  SELECT vec_id AS query_id, t,
         unnest([bucket] || list_transform(generate_series(0, {n_planes - 1}),
                j -> xor(bucket, CAST(1 AS BIGINT) << CAST(j AS INT))))
           AS bucket
  FROM bk WHERE vec_id < 8),
cand AS (
  SELECT DISTINCT qp.query_id, b.vec_id AS corpus_id
  FROM qprobe qp JOIN bk b ON b.t = qp.t AND b.bucket = qp.bucket
  WHERE b.vec_id <> qp.query_id),
scored AS (
  SELECT c.query_id, c.corpus_id,
         {_BRUTE_DDOT.format(a="q.embedding", b="d.embedding")}
         / ( sqrt({_BRUTE_DDOT.format(a="q.embedding", b="q.embedding")})
           * sqrt({_BRUTE_DDOT.format(a="d.embedding", b="d.embedding")}) )
           AS cosine
  FROM cand c
  JOIN vecs q ON q.vec_id = c.query_id
  JOIN vecs d ON d.vec_id = c.corpus_id)
SELECT query_id, corpus_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


@register("similarity_ann_lsh", oracle=_ann_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-5 (8-bit buckets x 16 tables,
    multiprobe r=1 -> measured recall@5 ~0.9 on the fixtures).
    Bucket sign bits come from FIXED-POINT projections and the rerank
    uses the fixed-point cosine, so the DuckDB oracle replays the
    entire pipeline — plane projections, buckets, multiprobe set,
    candidate join, rerank — and hash-matches exactly; pytest keeps
    the recall@5 bound against brute force."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, dim=64, n_planes=8, n_tables=16
    )


def _ivf_oracle(
    n_centroids: int = 16, iters: int = 2, n_probe: int = 8, k: int = 5, dim: int = 64
) -> str:
    """Full replay of the quantized-integer IVF pipeline: vector
    quantization, lowest-id init, ``iters`` Lloyd rounds (integer
    argmin assignment with lowest-cluster tie-break; exact floor-mean
    update; empty clusters keep their centroid), final assignment,
    integer probe ranking, fixed-point cosine rerank. Every decision
    is integer or an identical IEEE expression, so the result
    hash-matches the engine bit-for-bit. All reused CTEs MATERIALIZED
    (DuckDB inlines plain CTEs per reference)."""
    dist = (
        "list_sum(list_transform(generate_series(1, {d}), "
        "i -> (v.q[i] - c.cent[i]) * (v.q[i] - c.cent[i])))"
    ).format(d=dim)
    parts = [
        f"""WITH qt AS MATERIALIZED (
  SELECT vec_id, embedding,
         list_transform(generate_series(1, {dim}),
           i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                     AS BIGINT)) AS q
  FROM embeddings),
c0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS cluster, q AS cent FROM (
    SELECT q, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM qt)
  WHERE rn <= {n_centroids})"""
    ]
    for r in range(1, iters + 1):
        prev = f"c{r - 1}"
        parts.append(
            f""",
a{r} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cluster) AS pick
    FROM qt v CROSS JOIN {prev} c) WHERE pick = 1),
u{r} AS MATERIALIZED (
  SELECT a.cluster, dims.i,
         CAST(FLOOR(CAST(SUM(v.q[dims.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS cent_i
  FROM a{r} a JOIN qt v USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) dims
  GROUP BY a.cluster, dims.i),
c{r} AS MATERIALIZED (
  SELECT p.cluster, COALESCE(u.cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN (
    SELECT cluster, list(cent_i ORDER BY i) AS cent FROM u{r}
    GROUP BY cluster) u USING (cluster))"""
        )
    final = f"c{iters}"
    ddot = (
        "CAST(list_sum(list_transform(generate_series(1, len({a})), "
        "i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e15) "
        "AS BIGINT))) AS DOUBLE)"
    )
    parts.append(
        f""",
af AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cluster) AS pick
    FROM qt v CROSS JOIN {final} c) WHERE pick = 1),
probe AS (
  SELECT query_id, cluster FROM (
    SELECT v.vec_id AS query_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cluster) AS pick
    FROM qt v CROSS JOIN {final} c WHERE v.vec_id < 8)
  WHERE pick <= {n_probe}),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS corpus_id
  FROM probe p JOIN af a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT cd.query_id, cd.corpus_id,
         {ddot.format(a="qv.embedding", b="cv.embedding")}
         / ( sqrt({ddot.format(a="qv.embedding", b="qv.embedding")})
           * sqrt({ddot.format(a="cv.embedding", b="cv.embedding")}) )
           AS cosine
  FROM cand cd
  JOIN qt qv ON qv.vec_id = cd.query_id
  JOIN qt cv ON cv.vec_id = cd.corpus_id)
SELECT query_id, corpus_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) AS BIGINT)
         AS rank
FROM scored
QUALIFY rank <= {k}"""
    )
    return "".join(parts)


@register("similarity_ivf_topk", oracle=_ivf_oracle())
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-5 (16-list k-means quantizer, 2 Lloyd
    iterations, probe 8 -> measured recall@5 ~0.93). The quantizer
    runs in QUANTIZED INTEGER space (`similarity.kmeans_fit`), so the
    whole pipeline — init, assignments, floor-mean updates, probe
    ranking, fixed-point rerank — replays in DuckDB and hash-matches
    exactly; pytest additionally measures recall against brute
    force."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_centroids=16, n_probe=8
    )


@register("similarity_ivf_persisted_topk", oracle=_ivf_oracle())
def similarity_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION split of `similarity_ivf_topk`, driven through a
    real lake: `ivf_build` persists the flattened inverted lists +
    centroid matrix with atomic `replace` snapshots, `ivf_query`
    reloads and runs the shared probe + exact-rerank body. The
    integer-exact quantizer makes the persisted round-trip invisible
    (verified bit-identical to `ivf_topk`; round 10), so the ORACLE IS
    IDENTICAL — and the build/query entry points join the driver's
    correctness gate and the registry-wide plan sweep."""
    from ..sinks.dispositions import ParquetLake
    from .timeseries_queries import _scratch_lake_root

    emb = t(spark, sf_dir, "embeddings")
    lake = ParquetLake(spark, _scratch_lake_root("ivflake", sf_dir))
    similarity.ivf_build(emb, lake, "ivfidx", n_centroids=16, iters=2)
    return similarity.ivf_query(
        lake, "ivfidx", emb.filter(F.col("vec_id") < 8), k=5, n_probe=8
    )


@register(
    "incremental_cursor_pushdown_scan",
    oracle=f"""
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE ts > TIMESTAMP '{'2024-01-20 00:00:00'}'
    """,
)
def incremental_cursor_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 on a nanos-timestamp table with REAL parquet pushdown: the
    cursor predicate is applied to the raw int64-nanos column before
    timestamp conversion (sources.parquet.load_table_incremental), so
    row-group min/max skipping fires - same result set as
    incremental_cursor_filter, different (scan-pruning) physical plan."""
    from ..sources.parquet import load_table_incremental

    return load_table_incremental(
        spark, sf_dir, "events", "ts", "2024-01-20 00:00:00"
    ).select("event_id", "ts", "user_id", "event_type", "value")


@register(
    "embedding_similarity_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      {_DDOT.format(a="a.embedding", b="b.embedding")}
      / ( sqrt({_DDOT.format(a="a.embedding", b="a.embedding")})
        * sqrt({_DDOT.format(a="b.embedding", b="b.embedding")}) ) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_DDOT.format(a="a.embedding", b="b.embedding")}
      / ( sqrt({_DDOT.format(a="a.embedding", b="a.embedding")})
        * sqrt({_DDOT.format(a="b.embedding", b="b.embedding")}) ) >= 0.4
    """,
)
def embedding_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs (fixed-point ->
    oracle hash-match). The verification path: at scale the candidate
    set comes from the LSH buckets (similarity_ann_lsh) and only
    candidates get the exact cosine."""
    emb = t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    from ..operators.similarity import _dot_fixed

    cos = _dot_fixed(F.col("va"), F.col("vb")).cast("double") / (
        F.sqrt(_dot_fixed(F.col("va"), F.col("va")).cast("double"))
        * F.sqrt(_dot_fixed(F.col("vb"), F.col("vb")).cast("double"))
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------


@register(
    "text_stats_documents",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS n_chars_computed,
           len(string_split(lower(text), ' ')) AS n_tokens,
           len(list_distinct(string_split(lower(text), ' '))) AS n_unique_tokens,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / len(string_split(lower(text), ' ')) AS avg_token_len,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
             / len(string_split(lower(text), ' ')) AS uniq_ratio
    FROM documents
    """,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: map-only, no shuffle, O(corpus)."""
    return text.text_stats(t(spark, sf_dir, "documents"))


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(lower(text), ' ')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return text.token_count(t(spark, sf_dir, "documents"))


def _lang_oracle() -> str:
    def inter(lang: str) -> str:
        markers = ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang])
        return f"len(list_intersect(string_split(lower(text), ' '), [{markers}]))"

    s = {lang: inter(lang) for lang in ("en", "de", "fr", "es")}
    best = f"GREATEST({s['en']}, {s['de']}, {s['fr']}, {s['es']})"
    return f"""
    SELECT doc_id,
      CASE
        WHEN regexp_matches(text, '{text.CJK_PATTERN_RE2}') THEN 'zh'
        WHEN {best} = 0 THEN 'und'
        WHEN {s['en']} = {best} THEN 'en'
        WHEN {s['de']} = {best} THEN 'de'
        WHEN {s['fr']} = {best} THEN 'fr'
        WHEN {s['es']} = {best} THEN 'es'
      END AS lang_pred
    FROM documents
    """


@register("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (CJK regex + per-language marker
    intersection scores, deterministic tie-break)."""
    return text.lang_id(t(spark, sf_dir, "documents"))


@register(
    "text_quality_score",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS uniq_ratio,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS avg_len
      FROM documents)
    SELECT doc_id, n_tokens, uniq_ratio,
           0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (CASE WHEN avg_len >= 2.0 AND avg_len <= 12.0 THEN 1.0 ELSE 0.0 END)
         + 0.3 * uniq_ratio AS quality
    FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality heuristic in [0,1], pure arithmetic."""
    return text.quality_score(t(spark, sf_dir, "documents"))


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tfc.term, tf,
             ROUND(tf * LN((n_docs + 1.0) / (df + 1)), 6) AS tfidf
      FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n)
    SELECT doc_id, term, tf, tfidf, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
      FROM scored) x
    WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: two partial-aggregated shuffles
    + broadcast df join, corpus-size-independent reduce fan-in."""
    return text.tfidf_top_terms(t(spark, sf_dir, "documents"), k=3)


@register(
    "text_fingerprint_md5",
    oracle="SELECT doc_id, md5(text) AS content_md5 FROM documents",
)
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-address fingerprint (md5) - the oracle-checkable slice
    of the fingerprint family."""
    return text.fingerprint(t(spark, sf_dir, "documents")).select(
        "doc_id", "content_md5"
    )


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       CAST(('0x' || substring(md5(text), 2, 15)) AS BIGINT) AS h60,
       list_min(list_transform(
         generate_series(1, greatest(length(text) - 7, 1)),
         i -> CAST(('0x' || substring(md5(substr(text, CAST(i AS INT), 8)), 2, 15))
                   AS BIGINT))) AS winnow_min
FROM documents
"""


@register("text_fingerprint_engine", oracle=_FINGERPRINT_ORACLE)
def text_fingerprint_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 60-bit content hash + winnowing min-shingle-hash
    fingerprints. Both hashes derive from md5 hex digits (not
    engine-private xxhash64), so DuckDB recomputes them bit-identically
    and the whole fingerprint table hash-matches; pytest keeps the
    determinism + near-dup collision checks."""
    return text.fingerprint(t(spark, sf_dir, "documents")).select(
        "doc_id", "h60", "winnow_min"
    )


# ---------------------------------------------------------------------------
# Multimodal.
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           'utf-8' AS format,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata column: sizes/format/content
    address from the binary column, all JVM-side."""
    mm = multimodal.attach_binary_payload(t(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.format").alias("format"),
        F.md5("payload").alias("payload_md5"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(CEIL(octet_length(encode(text)) / 32.0) AS BIGINT) AS n_frames_total,
           CAST(CEIL(CEIL(octet_length(encode(text)) / 32.0) / 4.0) AS BIGINT)
             AS n_frames_sampled
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Video' frame sampling over raw payload bytes (32-byte frames,
    every 4th kept): counts are oracle-checked; the frame bytes
    themselves are exercised in pytest."""
    mm = multimodal.attach_binary_payload(t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(mm, frame_size=32, every_k=4).select(
        "doc_id",
        F.col("n_frames_total").cast("long").alias("n_frames_total"),
        F.col("n_frames_sampled").cast("long").alias("n_frames_sampled"),
    )


@register(
    "multimodal_resize",
    oracle="""
    -- ASCII corpus: char positions == byte positions, and DuckDB's
    -- md5(VARCHAR) hashes the same bytes Spark's md5(BINARY) does.
    WITH m AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
             GREATEST(CAST(FLOOR(length(text) / 64.0) AS BIGINT), 1) AS s,
             text
      FROM documents)
    SELECT doc_id, n AS orig_bytes,
           CASE WHEN n <= 64 THEN n
                ELSE LEAST(64, (n - 1) // s + 1) END AS resized_bytes,
           CASE WHEN n <= 64 THEN md5(text)
                ELSE md5(array_to_string(list_transform(
                       generate_series(1, LEAST(64, (n - 1) // s + 1)),
                       i -> substring(text, CAST(1 + (i - 1) * s AS INT), 1)),
                     ''))
           END AS resized_md5
    FROM m
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-sampling binary 'resize' to 64 bytes (JVM-side byte
    slicing; a real image resize plugs into the same output schema).
    Upgraded from rows-only to ORACLE-checked: sizes plus a content
    address (md5 of the resized payload) — the oracle re-samples the
    identical stride positions in DuckDB, so the byte mechanics are
    hash-verified end to end; pytest keeps the invariant checks."""
    mm = multimodal.attach_binary_payload(t(spark, sf_dir, "documents"))
    return multimodal.resize_payload(mm, target_bytes=64).select(
        "doc_id",
        "orig_bytes",
        "resized_bytes",
        F.md5("payload_resized").alias("resized_md5"),
    )


_DECODE_FEATURES_ORACLE = """
-- Fixture payloads are the documents' ASCII bytes (attach_binary_
-- payload), so the stub codec's 16-bin byte histogram recomputes from
-- ord() over the text. round(x, 9) agrees across engines here despite
-- different tie rules (half-even vs half-away): a tie needs
-- k/n * 1e9 to land exactly on a half-integer, which requires n to
-- carry the factor 2^10 * 5^9 — impossible for document lengths.
-- Output stays SCALAR (no oracle query has ever shipped an array
-- column through the driver compare): an exact integer checksum
-- (each feature is m/1e9, so floor(f*1e9 + 0.5) recovers m exactly)
-- plus the max bin — together they pin the whole vector.
WITH per AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
         list_transform(generate_series(0, 15), k ->
           round(CAST(len(list_filter(generate_series(1, length(text)),
                     i -> ord(substr(text, CAST(i AS INT), 1)) % 16 = k))
                 AS DOUBLE)
                 / CASE WHEN length(text) = 0 THEN 1.0
                        ELSE CAST(length(text) AS DOUBLE) END, 9))
           AS features
  FROM documents)
SELECT doc_id, n_bytes,
       CAST(list_sum(list_transform(features,
              f -> CAST(FLOOR(f * 1e9 + 0.5) AS BIGINT))) AS BIGINT)
         AS feat_sum_1e9,
       CAST(list_max(features) AS DOUBLE) AS f_max
FROM per
"""


@register("multimodal_decode_features", oracle=_DECODE_FEATURES_ORACLE)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode plumbing with the deterministic
    stub codec (16-bin byte histogram, normalized, rounded to 9
    decimals), projected to exact scalars: an integer feature checksum
    and the max bin. On the ASCII fixture payloads the whole feature
    vector recomputes from ord() over the text, so the oracle
    hash-matches exactly; pytest additionally checks vector shape,
    normalization and determinism (and the NotImplementedError codec
    seam for real formats)."""
    from pyspark.sql import functions as F

    mm = multimodal.attach_binary_payload(t(spark, sf_dir, "documents"))
    feats = multimodal.decode_image_features(mm)
    checksum = F.aggregate(
        F.transform(
            F.col("features"),
            lambda f: F.floor(f * F.lit(1e9) + F.lit(0.5)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return feats.select(
        "doc_id",
        "n_bytes",
        checksum.alias("feat_sum_1e9"),
        F.array_max("features").cast("double").alias("f_max"),
    )


_BINFILE_ORACLE = """
WITH sel AS (SELECT doc_id, text FROM documents
             WHERE doc_id % 20 = 0 AND text IS NOT NULL),
per AS (
  SELECT doc_id,
    list_aggregate(list_transform(generate_series(1, least(length(text), 256)),
                   i -> ord(substr(text, CAST(i AS INT), 1))), 'sum') AS png_sum,
    list_aggregate(list_transform(generate_series(1, least(length(text), 64)),
                   i -> ord(substr(text, CAST(i AS INT), 1))), 'sum') AS wav_sum,
    least(length(text), 64) AS wav_n
  FROM sel)
SELECT 'audio' AS modality, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(wav_n) AS BIGINT) AS n_values,
       CAST(SUM(wav_sum) AS BIGINT) AS val_sum
FROM per
UNION ALL
SELECT 'image', CAST(COUNT(*) * 2 AS BIGINT),
       CAST(COUNT(*) * 512 AS BIGINT),
       CAST(SUM(png_sum) * 2 AS BIGINT)
FROM per
"""


@register("multimodal_binaryfile_ingest", oracle=_BINFILE_ORACLE)
def multimodal_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary ingestion end-to-end: genuine PNG, BMP and WAV
    files (written by the pure-python public-format codecs from every
    20th doc's text bytes) are read back via ``spark.read.format
    ("binaryFile")``, metadata parsed JVM-side from the magic bytes,
    payloads DECODED (zlib inflate + filter strip for PNG, palette
    lookup + row un-pad for BMP, RIFF frame read for WAV) in one
    Arrow-batched mapInPandas, then aggregated per modality — the PNG
    and BMP of each doc carry identical pixels, so the compressed and
    uncompressed decode paths must agree with each other AND the
    oracle. The DuckDB oracle recomputes the same pixel/sample
    sums from the source text — so the whole
    encode -> file -> binaryFile -> parse -> decode loop is
    hash-verified against an independent path. The file-writing step
    is the capped fixture generator (production data already exists as
    objects; `multimodal.ingest_binary_dir` is the scale path)."""
    import hashlib
    import tempfile
    from pathlib import Path

    docs = t(spark, sf_dir, "documents")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out_dir = str(Path(tempfile.gettempdir()) / f"spark_graft_binfix_{key}")
    multimodal.write_binary_fixtures(docs, out_dir)
    # Default glob deliberately excludes the (lossy) .jpg twins —
    # their decode can't be text-replayed; multimodal_jpeg_ingest
    # covers them.
    mm = multimodal.ingest_binary_dir(spark, out_dir)
    return (
        multimodal.decode_binary_stats(mm)
        .groupBy("modality")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("n_values").cast("bigint").alias("n_values"),
            F.sum("val_sum").cast("bigint").alias("val_sum"),
        )
    )


_JPEG_ORACLE = """
-- Every 20th doc gets a real 16x16 baseline JPEG; the engine query
-- returns the JVM-parsed SOF0 dimensions AND the entropy-decoded
-- pixel count per file. JPEG is lossy, so pixel SUMS are not
-- text-replayable (unlike PNG/BMP) — but dims and pixel COUNT are
-- format contracts: any header mis-parse, Huffman desync, or
-- truncated scan breaks the hash. The decoded-value fidelity bound
-- (|err| <= 2/pixel at the all-ones quant table) is pinned in pytest.
SELECT doc_id,
       CAST(16 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(256 AS BIGINT) AS n_pixels
FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL
"""


@register("multimodal_jpeg_ingest", oracle=_JPEG_ORACLE)
def multimodal_jpeg_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSY-codec ingestion twin of `multimodal_binaryfile_ingest`:
    real baseline JPEGs (pure-python DCT + quantization + canonical
    Huffman encoder, `multimodal.encode_jpeg_gray`) written from every
    20th doc, read back via binaryFile with an explicit ``*.jpg``
    glob, SOF0 height/width parsed JVM-SIDE (byte-aligned anchored
    regexp over the hex string, precision-byte-validated, NULL dims
    on no match), and the payload entropy-DECODED (Huffman + DC prediction
    + dequant + IDCT, `multimodal.decode_jpeg`) in the
    Arrow-batched stats pass. Output: per-doc JVM-parsed dims + the
    decoded pixel count — the full encode -> file -> binaryFile ->
    header-parse -> entropy-decode loop must agree with the oracle's
    format constants row-for-row. Fidelity (near-lossless round-trip
    at the all-ones quant table; standard-table determinism) is pinned
    in `tests/test_operators.py::TestJpegCodec`."""
    import hashlib
    import tempfile
    from pathlib import Path

    docs = t(spark, sf_dir, "documents")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out_dir = str(Path(tempfile.gettempdir()) / f"spark_graft_binfix_{key}")
    multimodal.write_binary_fixtures(docs, out_dir)
    mm = multimodal.ingest_binary_dir(spark, out_dir, glob="*.jpg")
    stats = multimodal.decode_binary_stats(mm).select(
        "file_name", F.col("n_values").alias("n_pixels")
    )
    return (
        mm.select(
            "file_name",
            F.regexp_extract("file_name", r"doc_(\d+)\.jpg", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
        )
        .join(stats, "file_name")
        .select("doc_id", "width", "height", "n_pixels")
    )


_CJPEG_ORACLE = """
-- Every 20th doc gets a REAL 3-component 4:2:0 color JPEG
-- (doc_{id}.jfif) whose pixels are four 8x8 GREY tiles valued by the
-- doc's first 4 text bytes. Grey block-constant content is EXACT
-- through the lossy color pipeline (RGB->YCbCr maps grey to
-- (Y=g, 128, 128); constant blocks quantize losslessly at the
-- all-ones tables; constant chroma survives 4:2:0 box-downsampling
-- and triangular upsampling bit-for-bit), so unlike the grayscale
-- JPEG twin the decoded VALUE SUM is text-replayable here:
-- val_sum = 3 channels * 64 pixels/tile * sum(first 4 byte values)
-- (documents.text is pure ASCII — a pinned fixture invariant — so
-- ord(char) == byte). Dims come from the JVM segment-chain walk over
-- a COLOR SOF0; n_values = 16*16*3 from the Python-side decode.
SELECT doc_id,
       CAST(16 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(768 AS BIGINT) AS n_values,
       CAST(192 * (
         CASE WHEN length(text) >= 1 THEN ord(substr(text, 1, 1)) ELSE 0 END +
         CASE WHEN length(text) >= 2 THEN ord(substr(text, 2, 1)) ELSE 0 END +
         CASE WHEN length(text) >= 3 THEN ord(substr(text, 3, 1)) ELSE 0 END +
         CASE WHEN length(text) >= 4 THEN ord(substr(text, 4, 1)) ELSE 0 END
       ) AS BIGINT) AS val_sum
FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL
"""


@register("multimodal_color_jpeg_ingest", oracle=_CJPEG_ORACLE)
def multimodal_color_jpeg_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR-codec ingestion twin (round 7): real 3-component YCbCr
    4:2:0 JPEGs (pure-python encoder `multimodal.encode_jpeg_color` —
    interleaved MCU scan order, per-component quant/Huffman table
    pairs, JFIF color transform, box-averaged chroma subsampling)
    written from every 20th doc, read back via binaryFile with a
    ``*.jfif`` glob, dims parsed JVM-SIDE by the segment-chain walk
    (which reads ANY SOF — here a 3-component SOF0), and the payload
    decoded through the full color path (per-component entropy decode
    -> dequant -> IDCT -> triangular chroma upsample -> YCbCr->RGB) in
    the Arrow-batched stats pass. The fixtures are grey 8x8 tiles, so
    the lossy pipeline is exact by construction and the oracle replays
    width/height/n_values AND the decoded value sum from the source
    text — a stronger contract than the grayscale JPEG twin's
    (dims+count only). Codec fidelity on REAL color content is pinned
    against javax.imageio in tests/fixtures_jpeg (foreign golden
    files, both directions). Reference has no multimodal surface
    (SURVEY §2.7); north-star scope."""
    import hashlib
    import tempfile
    from pathlib import Path

    docs = t(spark, sf_dir, "documents")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out_dir = str(Path(tempfile.gettempdir()) / f"spark_graft_binfix_{key}")
    multimodal.write_binary_fixtures(docs, out_dir)
    mm = multimodal.ingest_binary_dir(spark, out_dir, glob="*.jfif")
    stats = multimodal.decode_binary_stats(mm).select(
        "file_name", "n_values", "val_sum"
    )
    return (
        mm.select(
            "file_name",
            F.regexp_extract("file_name", r"doc_(\d+)\.jfif", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.channels").alias("channels"),
        )
        .join(stats, "file_name")
        .select(
            "doc_id", "width", "height", "channels", "n_values", "val_sum"
        )
    )


# ---------------------------------------------------------------------------
# Temporal.
# ---------------------------------------------------------------------------


@register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_idx
      FROM flagged)
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM sessions GROUP BY user_id, session_idx
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) + per-session rollup: one
    shuffle on user_id shared by both window passes and the final
    aggregation."""
    return temporal.session_stats(t(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "asof_join_events",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         clicks    AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.user_id, p.event_id, p.ts, p.value,
           c.ts AS ts_asof, c.event_id AS event_id_asof, c.value AS value_asof
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest
    click at-or-before it (inclusive). Union+last_value single-shuffle
    implementation vs DuckDB's native ASOF JOIN as the oracle."""
    events = t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    return temporal.asof_join(
        purchases, clicks, on="user_id", right_cols=["event_id", "value"]
    )


@register(
    "range_join_click_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id, COUNT(*) AS n_clicks,
           CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    GROUP BY 1
    """,
)
def range_join_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: every click from ANY user in the 30 minutes
    before each purchase - no equi-key, the case a naive theta join
    turns into a cross product. `temporal.band_join` bucketizes time
    into band-width buckets so the join is a plain equi shuffle; the
    oracle is DuckDB's native inequality join (IEJoin)."""
    events = t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "value"
    )
    pairs = temporal.band_join(
        purchases, clicks, lower_seconds=-1800.0, upper_seconds=0.0, suffix="_c"
    )
    return pairs.groupBy(F.col("event_id").alias("purchase_id")).agg(
        F.count("*").alias("n_clicks"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("click_value"),
    )


@register(
    "rollup_event_multigrain",
    oracle="""
    WITH src AS (
      SELECT value,
             date_trunc('minute', ts) AS g_minute,
             date_trunc('hour', ts) AS g_hour,
             date_trunc('day', ts) AS g_day
      FROM events)
    SELECT CASE WHEN GROUPING(g_minute) = 0 THEN 'minute'
                WHEN GROUPING(g_hour) = 0 THEN 'hour'
                WHEN GROUPING(g_day) = 0 THEN 'day' END AS grain,
           COALESCE(g_minute, g_hour, g_day) AS bucket_ts,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM src
    GROUP BY GROUPING SETS ((g_minute), (g_hour), (g_day))
    """,
)
def rollup_event_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (minute/hour/day) in one
    scan: GROUPING SETS expands the grains inside a single shuffle
    (Expand -> one hash aggregate) instead of three scans + union."""
    return temporal.multi_grain_rollup(t(spark, sf_dir, "events"))


@register(
    "gapfill_hourly_user_values",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bucket_value
      FROM events GROUP BY 1, 2),
    spans AS (
      SELECT user_id, MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi
      FROM b GROUP BY 1),
    grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
      FROM spans)
    SELECT g.user_id, g.bucket_ts,
           COALESCE(b.n_events, 0) AS n_events,
           b.bucket_value,
           last_value(b.bucket_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g
    LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_ts = b.bucket_ts
    """,
)
def gapfill_hourly_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per user with forward-filled values
    (`temporal.gapfill`): sequence()+explode densification generated
    distributed per key; empty buckets -> 0 events, carried-forward
    value. Oracle: DuckDB generate_series + IGNORE NULLS window."""
    return temporal.gapfill(t(spark, sf_dir, "events"), grain="hour")


# ---------------------------------------------------------------------------
# Dedup clustering (pairs -> connected components) and sampling.
# ---------------------------------------------------------------------------

# Same bigram-Jaccard pair derivation as JACCARD_ORACLE, then min-label
# closure via a recursive CTE (UNION dedups, so the fixpoint terminates
# despite cycles): min reachable start label == min node id in the
# component, because the edge set is symmetrized.
CC_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk)-1),
                               i -> tk[i] || ' ' || tk[i+1])) AS s
  FROM toks WHERE len(tk) >= 2),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""


@register("dedup_connected_components", oracle=CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (exact bigram Jaccard >= 0.5) closed into
    duplicate clusters via iterative min-label propagation
    (operators.dedup.connected_components); cluster_id = min doc_id in
    the component, singletons label themselves. The pairs->clusters
    step is what makes cluster-level "keep one canonical doc" dedup
    possible; the oracle computes the same closure with a recursive
    CTE."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, n=2, threshold=0.5)
    cc = dedup.connected_components(
        pairs,
        src="doc_a",
        dst="doc_b",
        nodes=docs.select("doc_id"),
        node_col="doc_id",
    )
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "text_repetition_score",
    oracle="""
    WITH tk AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(MAX(c) AS BIGINT) AS top_token_count,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_token_frac
    FROM c GROUP BY doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal: fraction of tokens taken
    by the most frequent token. Exact-int division -> deterministic
    double on both engines."""
    return text.repetition_score(t(spark, sf_dir, "documents"))


@register(
    "sample_stratified_hash",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS UBIGINT) % 100
          < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: md5-of-key buckets (engine-
    independent, reproducible across runs/cluster sizes, unlike
    df.sample's partition-seeded RNG) with a per-stratum rate -
    downsample over-represented languages (10% en, 50% rest). Pure
    map-side filter: no shuffle, scales linearly."""
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(50))
    return docs.filter(bucket < rate).select("doc_id", "lang", "source")


_CLUSTERS_MINHASH_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE.lstrip()},
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(s), 1, 8)) AS UBIGINT) AS h
  FROM sh),
perms(i, a, b) AS (VALUES {{perms}}),
proj AS (
  SELECT doc_id, i,
         CAST((CAST(a AS HUGEINT) * h + b) % 2147483647 AS BIGINT) AS hv
  FROM hashed CROSS JOIN perms),
sig AS (SELECT doc_id, i, MIN(hv) AS m FROM proj GROUP BY 1, 2),
sigarr AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sig GROUP BY doc_id),
keyed AS (
  SELECT doc_id, band,
         array_to_string(sig[4*band+1 : 4*band+4], ',') AS bk, sig
  FROM sigarr CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band)),
prs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM keyed x JOIN keyed y
    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id
  WHERE CAST(list_sum(list_transform(generate_series(1, 32),
        i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
        >= 0.5),
edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
          UNION ALL SELECT doc_b, doc_a FROM prs),
reach(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
lbl AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM lbl GROUP BY cluster_id
HAVING COUNT(*) >= 2
""".format(perms=_minhash_perm_values())


@register("dedup_clusters_minhash", oracle=_CLUSTERS_MINHASH_ORACLE)
def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup pipeline end-to-end: MinHash signatures -> LSH
    banding -> candidate pairs -> connected components -> per-cluster
    summary (cluster id, member count). Linear in corpus size (no
    exact-Jaccard self-join anywhere). With the portable md5-derived
    signatures the WHOLE pipeline is now oracle-checked: DuckDB
    rebuilds the identical signature matrix and candidate pairs, then
    closes them with a recursive-CTE reachability whose min-id labels
    equal the engine's star CC output (components are unique
    regardless of algorithm). pytest additionally pins recall 1.0 vs
    exact pairs at threshold 0.5.
    Closure runs the large-star/small-star CC (O(log^2 n) rounds,
    Kiveris et al.) rather than min-label propagation, whose round
    count — and bench variance — follows component DIAMETER: chained
    near-dup clusters at corpus scale make diameter the tail risk."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5)
    cc = dedup.connected_components_star(pairs, src="doc_a", dst="doc_b")
    return (
        cc.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


@register(
    "corpus_top_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(tk)-1),
                                   i -> tk[i] || ' ' || tk[i+1])) AS bigram
      FROM toks WHERE len(tk) >= 2)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM sh GROUP BY bigram
    ORDER BY doc_freq DESC, bigram LIMIT 20
    """,
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: top-20 bigrams by document
    frequency. Shuffles only (bigram, partial-count) pairs after
    map-side combine - reduce fan-in is vocabulary-sized, independent
    of corpus row count; final top-k is a TakeOrdered, no global sort
    materialization. Tie-broken on the bigram for determinism."""
    docs = t(spark, sf_dir, "documents")
    sh = spread(docs).select(
        "doc_id", F.explode(dedup.shingles("text", 2)).alias("bigram")
    )
    return (
        sh.groupBy("bigram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("bigram"))
        .limit(20)
    )


@register(
    "embedding_centroids_by_label",
    oracle="""
    WITH ex AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS i,
             unnest(embedding) AS v
      FROM embeddings)
    SELECT label, CAST(i - 1 AS BIGINT) AS pos,
           CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
             / (1e6 * COUNT(v)) AS c
    FROM ex GROUP BY label, i
    """,
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the reduce step of k-means / IVF
    training) as (label, component, mean) rows: posexplode, then one
    partial-aggregated shuffle keyed by (label, pos) - the shuffle
    carries dim x labels rows, independent of corpus size. Component
    means are fixed-point (floor at 1e-6) so parallel sums are
    order-independent and engine-exact; scalar output columns keep the
    result hashable by the driver (array reassembly would be
    array_sort(collect_list(struct)) on top)."""
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    fixed = F.floor(F.col("v").cast("double") * F.lit(1e6)).cast("bigint")
    return ex.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        (F.sum(fixed).cast("double") / (F.lit(1e6) * F.count("v"))).alias("c")
    )


@register(
    "text_redact_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS redacted
    FROM documents
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: email-like tokens and long digit runs
    replaced map-side with regexp_replace (JVM codegen, no UDF). The
    patterns are chosen to mean the same thing in Java regex (Spark)
    and RE2 (DuckDB); Spark replaces globally by default, DuckDB needs
    the 'g' flag."""
    docs = t(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), "[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
        "[0-9]{6,}",
        "<NUM>",
    )
    return docs.select("doc_id", redacted.alias("redacted"))


@register(
    "text_chunk_windows",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    st AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, greatest(len(tk) - 7, 1), 6)) AS start
      FROM toks)
    SELECT doc_id,
           CAST((start - 1) / 6 AS BIGINT) AS chunk_idx,
           array_to_string(tk[start:start+7], ' ') AS chunk_text,
           CAST(least(8, len(tk) - start + 1) AS BIGINT) AS n_tokens
    FROM st
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 8, stride 6): the
    transform that turns a document corpus into training-context rows.
    Explode + array slice, fully JVM-side, shuffle-free."""
    return text.chunk_documents(
        t(spark, sf_dir, "documents"), window=8, stride=6
    )


@register("dedup_connected_components_star", oracle=CC_ORACLE)
def dedup_connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as ``dedup_connected_components`` but
    via alternating large-star/small-star (O(log^2 n) rounds
    independent of graph diameter - the variant for adversarially long
    duplicate chains). Both algorithms hash-match the same recursive-
    CTE oracle; pytest additionally asserts they agree on random
    graphs."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, n=2, threshold=0.5)
    cc = dedup.connected_components_star(
        pairs,
        src="doc_a",
        dst="doc_b",
        nodes=docs.select("doc_id"),
        node_col="doc_id",
    )
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


# Composite pretraining corpus filter: reuse the already-registered
# signal oracles as nested CTEs so the filter's oracle is BY
# CONSTRUCTION consistent with the individual signal oracles.
def _corpus_filter_oracle() -> str:
    from .registry import REGISTRY

    return f"""
    WITH lang AS ({REGISTRY["text_lang_id"].oracle}),
         qual AS ({REGISTRY["text_quality_score"].oracle}),
         rep AS ({REGISTRY["text_repetition_score"].oracle})
    SELECT lang.doc_id, lang.lang_pred, qual.quality, rep.top_token_frac,
           (lang.lang_pred <> 'und' AND qual.quality >= 0.5
            AND rep.top_token_frac <= 0.3) AS keep
    FROM lang
    JOIN qual ON lang.doc_id = qual.doc_id
    JOIN rep ON lang.doc_id = rep.doc_id
    """


@register("corpus_quality_filter", oracle=_corpus_filter_oracle())
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style corpus filter: language identified AND composite
    quality >= 0.5 AND top-token repetition <= 0.3 -> keep flag per
    document. The three signals are computed in parallel branches over
    ONE cached scan shape (two are map-only; repetition adds its two
    partial-aggregated shuffles) and joined on doc_id; at 100 TB this
    is the shape of a real pretraining filter pass, and the decision
    column is a plain boolean so downstream pruning is a pushed-down
    predicate, not a recompute."""
    docs = t(spark, sf_dir, "documents")
    lang = text.lang_id(docs).select("doc_id", "lang_pred")
    qual = text.quality_score(docs).select("doc_id", "quality")
    rep = text.repetition_score(docs).select("doc_id", "top_token_frac")
    keep = (
        (F.col("lang_pred") != F.lit("und"))
        & (F.col("quality") >= 0.5)
        & (F.col("top_token_frac") <= 0.3)
    )
    return (
        lang.join(qual, "doc_id")
        .join(rep, "doc_id")
        .select("doc_id", "lang_pred", "quality", "top_token_frac", keep.alias("keep"))
    )


_INCR_ORACLE = f"""
WITH {_SHINGLE_CTE},
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(s), 1, 8)) AS UBIGINT) AS h
  FROM sh),
perms(i, a, b) AS (VALUES {{perms}}),
proj AS (
  SELECT doc_id, i,
         CAST((CAST(a AS HUGEINT) * h + b) % 2147483647 AS BIGINT) AS hv
  FROM hashed CROSS JOIN perms),
sig AS (SELECT doc_id, i, MIN(hv) AS m FROM proj GROUP BY 1, 2),
sigarr AS (
  SELECT doc_id, doc_id % 10 = 0 AS is_new, list(m ORDER BY i) AS sig
  FROM sig GROUP BY doc_id),
keyed AS (
  SELECT doc_id, is_new, band,
         array_to_string(sig[4*band+1 : 4*band+4], ',') AS bk, sig
  FROM sigarr CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band)),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_match,
         x.sig AS sa, y.sig AS sb
  FROM keyed x JOIN keyed y
    ON x.band = y.band AND x.bk = y.bk
  WHERE x.is_new AND ((NOT y.is_new) OR y.doc_id < x.doc_id))
SELECT doc_new, doc_match,
       CAST(list_sum(list_transform(generate_series(1, 32),
            i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
         AS est_jaccard
FROM pairs
WHERE CAST(list_sum(list_transform(generate_series(1, 32),
           i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 >= 0.5
""".format(perms=_minhash_perm_values())


@register("dedup_incremental_batch", oracle=_INCR_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup gate: docs with doc_id % 10 == 0 play the NEW
    ingest batch, the rest are the existing corpus whose persisted
    MinHash signature table is all the batch ever touches (corpus text
    is never re-read - the shape that keeps per-ingest cost O(batch)
    instead of O(lake) at 100 TB). Portable md5-derived signatures let
    DuckDB rebuild the identical batch-vs-corpus candidate set and
    estimates (hash-exact); TestIncrementalDedup pins planted
    corpus-dup and intra-batch-dup detection."""
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    base_sigs = dedup.minhash_signatures(base)
    return dedup.incremental_minhash_pairs(new, base_sigs, threshold=0.5)


# ---------------------------------------------------------------------------
# Round-1 continuation: paragraph-block dedup, benchmark decontamination,
# int8 quantization, semantic dedup.
# ---------------------------------------------------------------------------

BLOCK_DEDUP_ORACLE = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
st AS (SELECT doc_id, tk,
              unnest(generate_series(1, greatest(len(tk) - 15, 1), 16)) AS s
       FROM tk),
blocks AS (
  SELECT doc_id,
         CAST(FLOOR((s - 1) / 16.0) AS BIGINT) AS block_idx,
         array_to_string(list_slice(tk, s, s + 15), ' ') AS chunk_text
  FROM st),
flagged AS (
  SELECT doc_id,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY chunk_text
                                      ORDER BY doc_id, block_idx) > 1
              THEN 1 ELSE 0 END AS is_dup
  FROM blocks)
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_blocks,
       CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_frac
FROM flagged GROUP BY doc_id
"""


@register("text_block_dedup", oracle=BLOCK_DEDUP_ORACLE)
def text_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (Dolma/RefinedWeb-style) on
    16-token blocks: per-doc duplicated-block fraction with keep-first
    semantics. The reference has no sub-document operator at all (its
    unit is the whole row, salesforce_pipeline.py:90-130); this is the
    finer-grained dedup a pretraining pipeline layers on top."""
    return text.block_dedup(t(spark, sf_dir, "documents"), block=16)


CONTAMINATION_ORACLE = """
WITH cand AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
              FROM documents WHERE doc_id % 10 <> 0),
bench AS (SELECT string_split(lower(text), ' ') AS tk
          FROM documents WHERE doc_id % 10 = 0),
cg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 2),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
  FROM cand WHERE len(tk) >= 3),
bg AS (
  SELECT DISTINCT
         unnest(list_transform(generate_series(1, len(tk) - 2),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
  FROM bench WHERE len(tk) >= 3),
j AS (SELECT cg.doc_id, bg.g IS NOT NULL AS hit
      FROM cg LEFT JOIN bg ON cg.g = bg.g)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS contamination
FROM j GROUP BY doc_id
"""


@register("text_contamination", oracle=CONTAMINATION_ORACLE)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: docs with doc_id % 10 == 0 play
    the held-out eval set; every other document reports the fraction of
    its distinct word 3-grams that appear in that set. The benchmark
    gram set is broadcast, so the corpus side never shuffles payloads -
    the standard pre-training decontamination shape at 100 TB."""
    docs = t(spark, sf_dir, "documents")
    return text.contamination(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=3,
    )


_SQL_QVEC = """
CASE WHEN {ma} = 0 THEN list_transform({v}, x -> 0)
     ELSE list_transform({v}, x ->
          CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / {ma}) + 0.5) AS INT))
END
"""

QUANTIZE_ORACLE = f"""
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS maxabs
  FROM embeddings)
SELECT vec_id,
       CASE WHEN maxabs = 0 THEN 0.0 ELSE maxabs / 127.0 END AS dequant_scale,
       array_to_string({_SQL_QVEC.format(ma="maxabs", v="embedding")}, ',')
         AS qvec_str
FROM m
"""


@register("embedding_quantize_int8", oracle=QUANTIZE_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    (4x storage/shuffle reduction for vector columns at 100 TB).
    Rounding is floor(x*scale + 0.5) on doubles - bit-identical across
    engines, unlike library round(). Map-only, no shuffle. The vector
    output is serialized to a string for the hash compare."""
    qz = similarity.quantize_int8(t(spark, sf_dir, "embeddings"))
    return qz.select(
        "vec_id",
        "dequant_scale",
        F.array_join(F.col("qvec"), ",").alias("qvec_str"),
    )


_SQL_IDOT = (
    "CAST(list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT))) AS DOUBLE)"
)

QUANTIZED_TOPK_ORACLE = f"""
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS maxabs
  FROM embeddings),
qz AS (SELECT vec_id, {_SQL_QVEC.format(ma="maxabs", v="embedding")} AS qv
       FROM m),
q AS (SELECT vec_id AS query_id, qv AS qa FROM qz WHERE vec_id < 8),
c AS (SELECT vec_id AS corpus_id, qv AS qb FROM qz),
scored AS (
  SELECT query_id, corpus_id,
         {_SQL_IDOT.format(a="qa", b="qb")}
         / ( sqrt({_SQL_IDOT.format(a="qa", b="qa")})
           * sqrt({_SQL_IDOT.format(a="qb", b="qb")}) ) AS qcosine
  FROM c, q WHERE corpus_id <> query_id)
SELECT query_id, corpus_id, qcosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY qcosine DESC, corpus_id) AS rank
  FROM scored) x
WHERE rank <= 5
"""


@register("similarity_quantized_topk", oracle=QUANTIZED_TOPK_ORACLE)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 over int8-quantized vectors - the cheap first-pass
    shortlist of a quantize -> shortlist -> rerank ANN stack. All
    similarity math is exact integer arithmetic (then one double
    division), so Spark and DuckDB agree bit-for-bit with no
    fixed-point scaffolding."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5
    )


def _semdedup_oracle(
    n_centroids: int = 8, iters: int = 2, dim: int = 64, threshold: float = 0.95
) -> str:
    """Full replay of the quantized SemDeDup pipeline: integer k-means
    trajectory (the `_ivf_oracle` pattern at k=8), per-vector cluster
    assignment, portable unit quantization, within-cluster fixed-point
    cosines, then the GREEDY id-order prune as a recursive CTE that
    carries each cluster's kept-id list one scan position at a time
    (keep i iff no already-kept j<i has cos > threshold — an inductive
    definition, so it genuinely needs recursion: pairwise rules would
    mis-drop the third element of an a~b, b~c, a!~c chain). dup_of /
    max_sim recompute afterwards from the final kept sets (the kept
    prefix before i equals the final kept set restricted to ids < i)."""
    dist = (
        "list_sum(list_transform(generate_series(1, {d}), "
        "i -> (v.qr[i] - c.cent[i]) * (v.qr[i] - c.cent[i])))"
    ).format(d=dim)
    parts = [
        f"""WITH RECURSIVE qv AS MATERIALIZED (
  SELECT vec_id, embedding,
         list_transform(generate_series(1, {dim}),
           i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                     AS BIGINT)) AS qr,
         list_sum(list_transform(generate_series(1, {dim}),
           i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                           * CAST(embedding[i] AS DOUBLE) * 1e15)
                     AS BIGINT))) AS norm2
  FROM embeddings),
qt AS MATERIALIZED (
  SELECT vec_id, qr,
         CASE WHEN norm2 > 0 THEN list_transform(generate_series(1, {dim}),
           i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                           / sqrt(CAST(norm2 AS DOUBLE) / 1e15)
                           * 1000000.0) AS BIGINT))
         ELSE list_transform(generate_series(1, {dim}), i -> CAST(0 AS BIGINT))
         END AS q
  FROM qv),
c0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS cluster, qr AS cent FROM (
    SELECT qr, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM qv)
  WHERE rn <= {n_centroids})"""
    ]
    for r in range(1, iters + 1):
        prev = f"c{r - 1}"
        parts.append(
            f""",
a{r} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cluster) AS pick
    FROM (SELECT vec_id, qr FROM qv) v CROSS JOIN {prev} c) WHERE pick = 1),
u{r} AS MATERIALIZED (
  SELECT a.cluster, dims.i,
         CAST(FLOOR(CAST(SUM(v.qr[dims.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS cent_i
  FROM a{r} a JOIN qv v USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) dims
  GROUP BY a.cluster, dims.i),
c{r} AS MATERIALIZED (
  SELECT p.cluster, COALESCE(u.cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN (
    SELECT cluster, list(cent_i ORDER BY i) AS cent FROM u{r}
    GROUP BY cluster) u USING (cluster))"""
        )
    final = f"c{iters}"
    parts.append(
        f""",
af AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cluster) AS pick
    FROM (SELECT vec_id, qr FROM qv) v CROSS JOIN {final} c) WHERE pick = 1),
ranked AS MATERIALIZED (
  SELECT a.vec_id, a.cluster,
         ROW_NUMBER() OVER (PARTITION BY a.cluster ORDER BY a.vec_id) AS pos
  FROM af a),
norms AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN n2 > 0 THEN sqrt(CAST(n2 AS DOUBLE)) ELSE 1.0 END AS nd
  FROM (SELECT vec_id,
          list_sum(list_transform(q, x -> x * x)) AS n2 FROM qt)),
sims AS MATERIALIZED (
  SELECT ra.cluster, ra.vec_id AS a, rb.vec_id AS b,
         CAST(list_sum(list_transform(generate_series(1, {dim}),
              i -> qa.q[i] * qb.q[i])) AS DOUBLE) / (na.nd * nb.nd) AS cos
  FROM ranked ra JOIN ranked rb
    ON rb.cluster = ra.cluster AND ra.vec_id < rb.vec_id
  JOIN qt qa ON qa.vec_id = ra.vec_id
  JOIN qt qb ON qb.vec_id = rb.vec_id
  JOIN norms na ON na.vec_id = ra.vec_id
  JOIN norms nb ON nb.vec_id = rb.vec_id),
greedy(pos, cluster, kept) AS (
  SELECT 0, cluster, CAST([] AS BIGINT[])
  FROM (SELECT DISTINCT cluster FROM ranked)
  UNION ALL
  SELECT g.pos + 1, g.cluster,
         CASE WHEN r.vec_id IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM sims s
                WHERE s.cluster = g.cluster AND s.b = r.vec_id
                  AND s.cos > {threshold!r}
                  AND list_contains(g.kept, s.a))
              THEN list_append(g.kept, r.vec_id)
              ELSE g.kept END
  FROM greedy g
  LEFT JOIN ranked r ON r.cluster = g.cluster AND r.pos = g.pos + 1
  WHERE g.pos < (SELECT MAX(pos) FROM ranked)),
kfinal AS (
  SELECT cluster, kept FROM greedy
  WHERE pos = (SELECT MAX(pos) FROM ranked)),
flags AS (
  SELECT r.vec_id, r.cluster, list_contains(k.kept, r.vec_id) AS keep
  FROM ranked r JOIN kfinal k USING (cluster)),
prior AS (
  SELECT s.b AS vec_id, s.a AS j, s.cos
  FROM sims s JOIN flags f ON f.vec_id = s.a AND f.keep),
agg AS (
  SELECT vec_id, MAX(cos) AS max_sim FROM prior GROUP BY vec_id),
pick AS (
  SELECT vec_id, j AS dup_of FROM (
    SELECT vec_id, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, j) AS rk
    FROM prior) WHERE rk = 1)
SELECT f.vec_id, CAST(f.cluster AS INTEGER) AS cluster, f.keep,
       CASE WHEN f.keep THEN NULL ELSE p.dup_of END AS dup_of,
       a.max_sim
FROM flags f
LEFT JOIN agg a USING (vec_id)
LEFT JOIN pick p USING (vec_id)"""
    )
    return "".join(parts)


@register("similarity_semantic_dedup", oracle=_semdedup_oracle())
def similarity_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means clusters bound the
    pairwise work, then a per-cluster greedy cosine prune (id order,
    deterministic) marks vectors >0.95-similar to an already-kept
    vector as duplicates. The quantizer is the integer `kmeans_fit`
    and the greedy sims are exact int64 dots of `_quantize_unit_np`
    vectors over portable sqrt norms, so the ENTIRE operator — Lloyd
    trajectory, assignment, every keep/drop decision, dup_of targets,
    max_sim values — replays in DuckDB (recursive-CTE greedy over the
    kept-id lists) and hash-matches exactly; pytest additionally
    plants exact near-duplicates and asserts they (and only they) are
    pruned."""
    return similarity.semantic_dedup(
        t(spark, sf_dir, "embeddings"), threshold=0.95, n_centroids=8
    )


# ---------------------------------------------------------------------------
# Round-1 continuation 2: profiling, EWMA, Python UDTF.
# ---------------------------------------------------------------------------

PROFILE_ORACLE = """
WITH one AS (
  SELECT
    COUNT(1) AS r1, CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u1,
      COUNT(DISTINCT o_orderkey) AS d1, CAST(MIN(o_orderkey) AS VARCHAR) AS mn1, CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
    COUNT(1) AS r2, CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u2,
      COUNT(DISTINCT o_orderstatus) AS d2, CAST(MIN(o_orderstatus) AS VARCHAR) AS mn2, CAST(MAX(o_orderstatus) AS VARCHAR) AS mx2,
    COUNT(1) AS r3, CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u3,
      COUNT(DISTINCT o_orderpriority) AS d3, CAST(MIN(o_orderpriority) AS VARCHAR) AS mn3, CAST(MAX(o_orderpriority) AS VARCHAR) AS mx3,
    COUNT(1) AS r4, CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u4,
      COUNT(DISTINCT o_orderdate) AS d4, CAST(MIN(o_orderdate) AS VARCHAR) AS mn4, CAST(MAX(o_orderdate) AS VARCHAR) AS mx4
  FROM orders)
SELECT 'o_orderkey' AS "column", r1 AS n_rows, u1 AS n_null, d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM one
UNION ALL
SELECT 'o_orderstatus', r2, u2, d2, mn2, mx2 FROM one
UNION ALL
SELECT 'o_orderpriority', r3, u3, d3, mn3, mx3 FROM one
UNION ALL
SELECT 'o_orderdate', r4, u4, d4, mn4, mx4 FROM one
"""


@register("profile_table_orders", oracle=PROFILE_ORACLE)
def profile_table_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (generalizes the reference's count+head
    verification, check_tables.py:39-53): per-column row/null/distinct
    counts and min/max over orders. Columns restricted to types whose
    string casts agree between engines (doubles format differently)."""
    from ..operators.profiling import profile_table

    return profile_table(
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"],
    )


_EWMA_ORACLE = """
WITH RECURSIVE seq AS (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events),
rec AS (
  SELECT user_id, ts, value, rn, CAST(value AS DOUBLE) AS ewma
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.ts, s.value, s.rn,
         0.3 * CAST(s.value AS DOUBLE) + 0.7 * r.ewma
  FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
SELECT user_id, ts, value, ewma FROM rec
"""


@register("timeseries_ewma_user_values", oracle=_EWMA_ORACLE)
def timeseries_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values over time (alpha=0.3). The
    recursion y_t = a*x_t + (1-a)*y_{t-1} is a sequential fold - not a
    window aggregate - so it runs as one shuffle + Arrow-batched
    per-group fold with a PINNED float-op sequence. The oracle replays
    the identical recursion as a SQL recursive CTE: same multiplicands
    (1-0.3 == 0.7 exactly in float64), commutative-exact addition, and
    (user_id, ts) is unique in the fixtures so the fold order is fully
    determined — the results hash-match bit-for-bit. pytest also
    checks the recursion against a plain Python loop."""
    ev = t(spark, sf_dir, "events")
    return temporal.ewma(ev, "user_id", "ts", "value", alpha=0.3)


UDTF_RUNS_ORACLE = """
WITH tk AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
pos AS (
  SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM tk),
tokens AS (
  SELECT doc_id, i - 1 AS idx, tk[i] AS token FROM pos),
islands AS (
  SELECT doc_id, token, idx,
         idx - ROW_NUMBER() OVER (PARTITION BY doc_id, token ORDER BY idx)
           AS grp
  FROM tokens)
SELECT doc_id, token,
       MIN(idx) AS run_start,
       COUNT(*) AS run_len
FROM islands GROUP BY doc_id, token, grp
"""


@register("udtf_token_runs", oracle=UDTF_RUNS_ORACLE)
def udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (PySpark 4 table function) lateral-joined against
    the corpus: run-length encoding of consecutive repeated tokens.
    The oracle is the declarative twin - the gaps-and-islands double
    window - demonstrating the UDTF computes it in one imperative
    map-side pass with no shuffle."""
    from ..functions.udtfs import token_runs

    return token_runs(spark, t(spark, sf_dir, "documents"))


RARE_TOKEN_ORACLE = """
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tk
  FROM documents),
rare AS (
  SELECT tk FROM dt GROUP BY tk HAVING COUNT(*) <= 2)
SELECT dt.doc_id,
       COUNT(*) AS n_distinct_tokens,
       CAST(SUM(CASE WHEN rare.tk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rare_tokens,
       CAST(SUM(CASE WHEN rare.tk IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS rare_fraction
FROM dt LEFT JOIN rare ON dt.tk = rare.tk
GROUP BY dt.doc_id
"""


@register("text_rare_token_fraction", oracle=RARE_TOKEN_ORACLE)
def text_rare_token_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-rare-token quality signal: fraction of each doc's
    distinct tokens with document frequency <= 2. The rare-token set
    is vocabulary-bounded and broadcast - the corpus side never
    shuffles its payload."""
    return text.rare_token_fraction(t(spark, sf_dir, "documents"), max_df=2)


@register("approx_heavy_hitters_users")
def approx_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries top-10 heaviest users by event count: per-partition
    bounded-state summaries (capacity 64), merged in one tiny reduce -
    the top-k shape that avoids shuffling a billion-key histogram at
    100 TB. Rows-only gate (the sketch's intermediate state is not
    SQL); pytest asserts the MG guarantees (all true heavy hitters
    present, estimates within n/capacity of truth) against exact
    counts."""
    from ..operators.sketches import heavy_hitters

    ev = t(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", capacity=64, k=10)


@register(
    "sketch_count_min_users",
    oracle="""
    WITH ds AS (SELECT unnest(generate_series(0, 3)) AS i),
    exp AS (
      SELECT CAST(user_id AS VARCHAR) AS k, i FROM events CROSS JOIN ds),
    sk AS (
      SELECT i,
             CAST(('0x' || substring(md5(k || '#' || CAST(i AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 64 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM exp GROUP BY 1, 2),
    dk AS (SELECT DISTINCT user_id, CAST(user_id AS VARCHAR) AS k FROM events),
    probes AS (
      SELECT user_id, i,
             CAST(('0x' || substring(md5(k || '#' || CAST(i AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 64 AS bucket
      FROM dk CROSS JOIN ds)
    SELECT p.user_id, CAST(MIN(s.cnt) AS BIGINT) AS est
    FROM probes p JOIN sk s ON p.i = s.i AND p.bucket = s.bucket
    GROUP BY p.user_id
    """,
)
def sketch_count_min_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: build a 4x64 md5-bucket
    sketch table over event user_ids, then point-estimate every
    distinct user's event count from the sketch alone.

    The sketch is a first-class mergeable TABLE (union + re-sum rolls
    daily sketches into monthly), and because buckets are md5-derived
    - not engine-private hashes - DuckDB rebuilds the identical sketch
    and the estimates hash-match exactly. Estimates never
    underestimate; tests/test_approx.py pins est >= exact and the
    mean-excess bound. Reduce fan-in is depth*width cells regardless
    of corpus size; the lookup joins against a broadcast sketch.
    """
    from ..operators.sketches import count_min_lookup, count_min_table

    ev = t(spark, sf_dir, "events")
    sketch = count_min_table(ev, "user_id", depth=4, width=64)
    return count_min_lookup(sketch, ev, "user_id", depth=4, width=64)


def _hll_oracle() -> str:
    from ..operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        _RHO_MAX,
        _linear_counting_constants,
    )

    const = repr(HLL_ALPHA * HLL_M * HLL_M * float(1 << _RHO_MAX))
    mask = (1 << 54) - 1
    # explicit CAST per element: a bare numeric list literal infers
    # DECIMAL in DuckDB and silently rounds the constants off
    lc = (
        "["
        + ", ".join(
            f"CAST({c!r} AS DOUBLE)" for c in _linear_counting_constants()
        )
        + "]"
    )
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 2, 15))
              AS BIGINT) AS h
  FROM events),
jr AS (
  SELECT event_type, CAST(h >> 54 AS INT) AS j,
         CASE WHEN (h & {mask}) = 0 THEN {_RHO_MAX}
              ELSE {_RHO_MAX} - length(to_base(h & {mask}, 2))
         END AS rho
  FROM h),
regs AS (SELECT event_type, j, MAX(rho) AS register FROM jr GROUP BY 1, 2),
regs2 AS (
  SELECT event_type, j, register FROM regs
  UNION ALL
  SELECT '__ALL__', j, MAX(register) FROM regs GROUP BY 2),
agg AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << ({_RHO_MAX} - register))
              + ({HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {_RHO_MAX})
              AS BIGINT) AS harmonic_fixed,
         CAST({HLL_M} - COUNT(*) AS INT) AS v_zero
  FROM regs2 GROUP BY event_type)
SELECT event_type, harmonic_fixed,
       CASE WHEN ({const} / CAST(harmonic_fixed AS DOUBLE)) <= {2.5 * HLL_M}
                 AND v_zero > 0
            THEN ({lc})[v_zero]
            ELSE {const} / CAST(harmonic_fixed AS DOUBLE)
       END AS estimate
FROM agg
"""


@register("sketch_hll_portable_users", oracle=_hll_oracle())
def sketch_hll_portable_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HyperLogLog distinct-user estimates per event_type PLUS
    the '__ALL__' row obtained by MERGING the per-type register tables
    (per-(group, j) MAX — the re-aggregation property that makes HLL
    the 100 TB distinct-count story: sketch per day/partition, union
    forever). Every bit is md5-derived and the harmonic sum is held in
    fixed point, so DuckDB rebuilds the identical registers and the
    estimates hash-match exactly — the engine-exact complement of the
    DataSketches-backed `sketch_hll_distinct_users` (whose binary
    sketches stay rows-only); tests bound both against exact counts."""
    from ..operators.sketches import hll_estimate, hll_table

    ev = t(spark, sf_dir, "events")
    tbl = hll_table(ev, "user_id", ["event_type"])
    merged = (
        tbl.groupBy("j")
        .agg(F.max("register").alias("register"))
        .withColumn("event_type", F.lit("__ALL__"))
    )
    return hll_estimate(tbl, ["event_type"]).unionByName(
        hll_estimate(merged, ["event_type"])
    )


@register("sketch_hll_distinct_users")
def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL per event_type: a MERGEABLE distinct-
    count summary - per-type sketches union into the global sketch
    without touching raw rows again, the re-aggregation property
    approx_count_distinct (HLL++) lacks a SQL surface for.

    At 100 TB this is the distinct-users story: sketch once per
    partition/day (bounded bytes per group), union forever after.
    Rows-only at the driver (sketch binaries are engine-internal);
    tests/test_approx.py pins each estimate within 5% of the exact
    count and asserts union-of-group-sketches == whole-table sketch.
    """
    ev = t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n_events"),
    )
    return per_type.select(
        "event_type",
        "n_events",
        F.hll_sketch_estimate("sk").alias("est_distinct_users"),
    ).orderBy("event_type")


@register(
    "sample_topk_per_key",
    oracle="""
    SELECT event_id, user_id FROM (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events) x
    WHERE rn <= 3
    """,
)
def sample_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key sampling: exactly min(3, n) events per
    user, chosen by md5(event_id) order - a reservoir-sample stand-in
    that is reproducible across engines, runs, and cluster sizes
    (df.sample's partition-seeded RNG is none of those).

    Spark plans the rank-filter as WindowGroupLimit: each partition
    keeps only its top-3 per key BEFORE the shuffle, so the full
    event payload never moves - only per-key survivors. The md5 sort
    key is uniform, so the sample is unbiased per key.
    """
    ev = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_id", "user_id")
    )


def _pack_oracle(cap: int = 128, parts: int = 8) -> str:
    """Replay of the md5-bucketed FFD packing: per bucket, docs in
    (n_tokens DESC, doc_id) order place into the FIRST open bin with
    room else open a new one — a genuinely sequential fold, expressed
    as a recursive CTE that carries each bucket's remaining-capacity
    list one placement at a time (all buckets advance in lockstep;
    exhausted buckets idle). placed is the 0-based bin index chosen at
    each step; bin ids reassemble as bucket * 2^32 + placed."""
    idx = (
        "list_min(list_filter(generate_series(1, len(g.spaces)), "
        "j -> g.spaces[j] >= o.n_tokens))"
    )
    return f"""
WITH RECURSIVE
sized AS MATERIALIZED (
  SELECT doc_id,
         LEAST(CAST(len(str_split(lower(text), ' ')) AS BIGINT), {cap})
           AS n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {parts} AS part
  FROM documents),
ordered AS MATERIALIZED (
  SELECT doc_id, n_tokens, part,
         ROW_NUMBER() OVER (PARTITION BY part
                            ORDER BY n_tokens DESC, doc_id) AS pos
  FROM sized),
ffd(pos, part, spaces, placed) AS (
  SELECT 0, part, CAST([] AS BIGINT[]), CAST(NULL AS BIGINT)
  FROM (SELECT DISTINCT part FROM ordered)
  UNION ALL
  SELECT g.pos + 1, g.part,
         CASE WHEN o.doc_id IS NULL THEN g.spaces
              WHEN {idx} IS NULL
                THEN list_append(g.spaces, {cap} - o.n_tokens)
              ELSE list_transform(generate_series(1, len(g.spaces)),
                     i -> CASE WHEN i = {idx}
                               THEN g.spaces[i] - o.n_tokens
                               ELSE g.spaces[i] END)
         END,
         CASE WHEN o.doc_id IS NULL THEN CAST(NULL AS BIGINT)
              WHEN {idx} IS NULL THEN CAST(len(g.spaces) AS BIGINT)
              ELSE CAST({idx} - 1 AS BIGINT) END
  FROM ffd g
  LEFT JOIN ordered o ON o.part = g.part AND o.pos = g.pos + 1
  WHERE g.pos < (SELECT MAX(pos) FROM ordered)),
assign AS (
  SELECT o.doc_id, o.n_tokens,
         f.part * 4294967296 + f.placed AS bin_id
  FROM ffd f JOIN ordered o ON o.part = f.part AND o.pos = f.pos
  WHERE f.placed IS NOT NULL)
SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
FROM assign GROUP BY bin_id
"""


@register("text_pack_sequences", oracle=_pack_oracle())
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing summary: documents greedily packed into
    128-token bins (FFD per md5 bucket, globally unique bin ids),
    reported as per-bin fill statistics. The packing domain is a
    PORTABLE md5 bucket and every placement is a deterministic
    function of (n_tokens DESC, doc_id) order, so the DuckDB oracle
    replays the full first-fit-decreasing fold (recursive CTE over
    per-bucket remaining-capacity lists) and hash-matches exactly;
    tests/test_operators.py additionally pins the invariants: every
    doc assigned exactly once, every bin <= capacity, deterministic
    assignment across runs."""
    docs = t(spark, sf_dir, "documents")
    packed = text.pack_sequences(docs, max_tokens=128, num_partitions=8)
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("bin_id")
    )


# Mirrors text_quality_score's oracle EXACTLY (same sub-expression
# association order) - 0.3 * uniq_ratio with uniq_ratio a named column,
# NOT 0.3 * num / den, which associates differently and drifts a ulp.
_QUALITY_CTE = """
    WITH qs AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS uniq_ratio,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS avg_len
      FROM documents)
    SELECT doc_id,
           0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (CASE WHEN avg_len >= 2.0 AND avg_len <= 12.0 THEN 1.0 ELSE 0.0 END)
         + 0.3 * uniq_ratio AS quality
    FROM qs
"""


@register(
    "corpus_sample_quality_weighted",
    oracle=f"""
    WITH q AS ({_QUALITY_CTE})
    SELECT doc_id, quality FROM q
    WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) AS DOUBLE) / 4294967296.0 < quality
    """,
)
def corpus_sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling: keep each document with
    probability equal to its quality score - the pretraining-mix move
    that upsamples clean text without a global sort or any RNG state.

    The uniform draw is md5(doc_id)/2^32: engine-independent,
    reproducible across runs and cluster sizes, and independent of the
    quality signal (md5 of the id, not the text). Pure map-side
    filter - no shuffle, linear scan, trivially parallel at 100 TB.
    """
    docs = t(spark, sf_dir, "documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        / F.lit(4294967296.0)
    )
    return q.filter(u < F.col("quality"))


@register(
    "dedup_keep_best_representative",
    oracle=f"""
    WITH q AS ({_QUALITY_CTE})
    SELECT keep_id, quality, n_copies FROM (
      SELECT d.doc_id AS keep_id, q.quality,
             CAST(COUNT(*) OVER (PARTITION BY d.text) AS BIGINT) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY d.text
                                ORDER BY q.quality DESC, d.doc_id) AS rn
      FROM documents d JOIN q ON d.doc_id = q.doc_id) x
    WHERE rn = 1
    """,
)
def dedup_keep_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with QUALITY-aware canonical selection: per
    duplicate group keep the highest-quality copy (tie: lowest id) -
    the production policy, vs the min-id baseline of
    ``dedup_exact_documents``.

    Spark-first shape: a single groupBy(text) with max(struct(quality,
    -doc_id)) - an ordinary partial-aggregatable MAX, so the argmax
    rides map-side combine and only (text-hash, 16-byte struct)
    partials shuffle. No window, no per-group sort: at 100 TB the
    window formulation (the oracle's) would sort every group; the
    struct-max doesn't.
    """
    docs = t(spark, sf_dir, "documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    joined = docs.select("doc_id", "text").join(q, "doc_id")
    best = (
        joined.groupBy("text")
        .agg(
            F.max(F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))).alias(
                "best"
            ),
            F.count("*").alias("n_copies"),
        )
        .select(
            (-F.col("best.neg_id")).alias("keep_id"),
            F.col("best.quality").alias("quality"),
            "n_copies",
        )
    )
    return best


@register(
    "bitmap_exact_distinct_users",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def bitmap_exact_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmaps
    (bitmap_bit_position -> bitmap_construct_agg -> bitmap_count):
    each group's partial state is a fixed-width bitmap instead of a
    hash set of raw keys, and partials OR-merge - the exact-count
    analog of the HLL sketch rollup, for when "approximately" isn't
    acceptable but a COUNT(DISTINCT) expand-shuffle is too expensive.

    The oracle is plain COUNT(DISTINCT): the bitmap path must agree
    exactly, which is the whole point. Bucketed bitmaps partition the
    key domain (bitmap_bucket_number), so the state stays bounded per
    (group, bucket) at any key cardinality.
    """
    ev = t(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_users"))
        .orderBy("event_type")
    )


@register(
    "scalar_try_functions",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / NULLIF(CAST(o_orderkey % 5 AS DOUBLE), 0.0) AS safe_ratio,
           TRY_CAST(o_orderpriority AS DOUBLE) AS bad_number,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS priority_digit
    FROM orders
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_-family error-safe expressions (NULL instead of raise):
    division by zero, unparseable casts - the ANSI-off permissive
    semantics the reference relies on (dlt silently nulls bad values),
    expressed explicitly so they survive even with ANSI mode ON.
    """
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 5).cast("double")
        ).alias("safe_ratio"),
        F.col("o_orderpriority").cast("double").alias("bad_number"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("priority_digit"),
    )


@register(
    "window_locf_ignore_nulls",
    oracle="""
    SELECT event_id, user_id,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'click' THEN value END AS v
          FROM events) x
    """,
)
def window_locf_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward via LAST_VALUE ... IGNORE
    NULLS: forward-fill each user's most recent click value onto every
    subsequent event - the window-function gap-fill idiom (vs the
    grid-join approach in ``gapfill_hourly_user_values``).

    One shuffle on user_id; the running frame is computed in a single
    sort pass per partition. Deterministic total order via (ts,
    event_id) tiebreak.
    """
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "click", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last(v, ignorenulls=True).over(w).alias("filled"),
    )


@register(
    "layout_zorder_key",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(list_sum(list_transform(generate_series(0, 15), i ->
               (((l_partkey >> i) & 1) << (2 * i))
             + (((l_suppkey >> i) & 1) << (2 * i + 1))
           )) AS BIGINT) AS zkey
    FROM lineitem
    """,
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order interleaved sort key over (l_partkey, l_suppkey):
    the clustering key behind multi-dimensional file pruning
    (`operators/layout.py`). Exact integer bit arithmetic, identical in
    any engine - the oracle recomputes it bit-for-bit. One codegen'd
    projection; no shuffle."""
    from ..operators.layout import zorder_key

    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(["l_partkey", "l_suppkey"]).alias("zkey"),
    )


def _hilbert_oracle_sql(bits: int = 16) -> str:
    """DuckDB replay of `layout.hilbert_key_2d`'s per-bit fold as a
    chain of CTE stages (two per bit: rx/ry extraction, then the
    rotate+accumulate) — DuckDB's list_reduce mis-evaluates struct
    accumulators (the round-3 playbook), so sequential fold state
    unrolls into stages instead. Same two's-complement BIGINT ops as
    the engine: bit-exact."""
    mask = (1 << bits) - 1
    stages = [
        "h0 AS (SELECT l_orderkey, l_linenumber, "
        f"CAST(l_partkey & {mask} AS BIGINT) AS x, "
        f"CAST(l_suppkey & {mask} AS BIGINT) AS y, "
        "CAST(0 AS BIGINT) AS d FROM lineitem)"
    ]
    k = 0
    for i in reversed(range(bits)):
        s = 1 << i
        k += 1
        stages.append(
            f"p{k} AS (SELECT l_orderkey, l_linenumber, x, y, d, "
            f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx, "
            f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry FROM h{k - 1})"
        )
        stages.append(
            f"h{k} AS (SELECT l_orderkey, l_linenumber, "
            f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s}-1-y ELSE y END) "
            f"ELSE x END AS x, "
            f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s}-1-x ELSE x END) "
            f"ELSE y END AS y, "
            f"d + {s * s} * xor(3 * rx, ry) AS d FROM p{k})"
        )
    return (
        "WITH "
        + ", ".join(stages)
        + f" SELECT l_orderkey, l_linenumber, d AS hkey FROM h{k}"
    )


@register("layout_hilbert_key", oracle=_hilbert_oracle_sql())
def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve sort key over (l_partkey, l_suppkey) — the
    locality upgrade over `layout_zorder_key`: adjacent key values are
    adjacent grid cells (unit steps, no Z-block diagonal jumps), so
    range-partitioned files cover compact blobs in BOTH dimensions
    (`operators/layout.py:hilbert_key_2d`, the clustering newer
    lakehouse OPTIMIZE implementations prefer). One aggregate-fold
    expression per row, exact two's-complement BIGINT arithmetic; the
    oracle replays the fold as unrolled CTE stages. Bijectivity on the
    full 2^4-grid and the python-reference equality are pinned in
    tests."""
    from ..operators.layout import hilbert_key_2d

    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        hilbert_key_2d("l_partkey", "l_suppkey").alias("hkey"),
    )


EXACT_SUBSTRING_ORACLE = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
win AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, len(tk) - 7)) AS pos
  FROM tk WHERE len(tk) >= 8),
wtx AS (
  SELECT doc_id, pos, pos + 7 AS e,
         array_to_string(list_slice(tk, pos, pos + 7), ' ') AS wtext
  FROM win),
dup AS (
  SELECT doc_id, pos, e
  FROM (SELECT doc_id, pos, e, COUNT(*) OVER (PARTITION BY wtext) AS c
        FROM wtx)
  WHERE c > 1),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > COALESCE(MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              THEN 1 ELSE 0 END AS st
  FROM dup),
ids AS (
  SELECT doc_id, pos, e,
         SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS gid
  FROM isl),
spans AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
          FROM ids GROUP BY doc_id, gid),
agg AS (SELECT doc_id, COUNT(*) AS n_dup_spans,
               SUM(e - s + 1) AS dup_tokens
        FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / len(t.tk)
         AS dup_token_frac
FROM tk t LEFT JOIN agg a USING (doc_id)
"""


@register("text_exact_substring_dedup", oracle=EXACT_SUBSTRING_ORACLE)
def text_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022 sec. 4.1) at threshold 8:
    per-doc maximal duplicated spans and duplicated-token fraction,
    counting a span duplicated when its exact 8-token text recurs
    ANYWHERE in the corpus (any offset, any doc, intra-doc repeats
    included) — the any-offset upgrade over `text_block_dedup`'s
    aligned blocks. The reference has no sub-document operator (its
    unit is the whole Salesforce row, salesforce_pipeline.py:90-130).
    Suffix-array equivalence at threshold = window is argued and
    property-tested in operators/text.py:exact_substring_spans."""
    return text.exact_substring_spans(
        t(spark, sf_dir, "documents"), window=8
    )


EXACT_SUBSTRING_REMOVE_ORACLE = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
win AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, len(tk) - 7)) AS pos
  FROM tk WHERE len(tk) >= 8),
wtx AS (
  SELECT doc_id, pos, pos + 7 AS e,
         array_to_string(list_slice(tk, pos, pos + 7), ' ') AS wtext
  FROM win),
dup AS (
  SELECT doc_id, pos, e
  FROM (SELECT doc_id, pos, e, COUNT(*) OVER (PARTITION BY wtext) AS c
        FROM wtx)
  WHERE c > 1),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > COALESCE(MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              THEN 1 ELSE 0 END AS st
  FROM dup),
ids AS (
  SELECT doc_id, pos, e,
         SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS gid
  FROM isl),
spans AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
          FROM ids GROUP BY doc_id, gid),
cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM spans),
toks AS (SELECT doc_id, unnest(tk) AS tok,
                unnest(generate_series(1, len(tk))) AS p
         FROM tk),
kept AS (SELECT t.doc_id, t.tok, t.p
         FROM toks t ANTI JOIN cov c USING (doc_id, p)),
clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN t.tk IS NULL THEN NULL
            ELSE COALESCE(c.clean_text, '') END AS text_clean,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       CAST(len(t.tk) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
FROM tk t LEFT JOIN clean c USING (doc_id)
"""


@register(
    "text_exact_substring_remove", oracle=EXACT_SUBSTRING_REMOVE_ORACLE
)
def text_exact_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022 sec. 4.1), the step after
    `text_exact_substring_dedup` reports: rebuild every document with
    all tokens inside duplicated maximal spans dropped — the
    conservative drop-all-occurrences variant (keep-one needs a
    global occurrence order no distributed plan can define
    deterministically). Fully relational: spans expand to covered
    positions, a coverage-marking LEFT join over the posexploded
    tokens feeds ONE doc_id aggregation producing text_clean,
    n_tokens and n_removed together (array_sort of (pos, tok)
    structs — bounded by doc length; one corpus-token exchange total,
    the r8-verdict two-exchange shape collapsed). The rebuilt TEXT
    itself is hash-compared against
    DuckDB's string_agg reconstruction, so tokenization, span
    merging, coverage arithmetic, and the join/anti-join all verify
    at string granularity. The reference has no sub-document
    operator (its unit is the whole Salesforce row,
    salesforce_pipeline.py:90-130)."""
    return text.exact_substring_remove(
        t(spark, sf_dir, "documents"), window=8
    )


INCR_EXACT_SUBSTRING_ORACLE = """
WITH tk AS (SELECT doc_id, doc_id % 10 = 0 AS is_new,
                   string_split(text, ' ') AS tk
            FROM documents),
win AS (
  SELECT doc_id, is_new, tk,
         unnest(generate_series(1, len(tk) - 7)) AS pos
  FROM tk WHERE len(tk) >= 8),
wtx AS (
  SELECT doc_id, is_new, pos, pos + 7 AS e,
         md5(array_to_string(list_slice(tk, pos, pos + 7), ' ')) AS fp
  FROM win),
base_fp AS (SELECT DISTINCT fp FROM wtx WHERE NOT is_new),
batch AS (
  SELECT doc_id, pos, e, fp,
         COUNT(*) OVER (PARTITION BY fp) AS bc
  FROM wtx WHERE is_new),
dup AS (
  SELECT doc_id, pos, e FROM batch
  WHERE bc >= 2 OR fp IN (SELECT fp FROM base_fp)),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > COALESCE(MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              THEN 1 ELSE 0 END AS st
  FROM dup),
ids AS (
  SELECT doc_id, pos, e,
         SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS gid
  FROM isl),
spans AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
          FROM ids GROUP BY doc_id, gid),
agg AS (SELECT doc_id, COUNT(*) AS n_dup_spans,
               SUM(e - s + 1) AS dup_tokens
        FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / len(t.tk)
         AS dup_token_frac
FROM tk t LEFT JOIN agg a USING (doc_id)
WHERE t.is_new
"""


@register(
    "dedup_incremental_exact_substring", oracle=INCR_EXACT_SUBSTRING_ORACLE
)
def dedup_incremental_exact_substring(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ExactSubstr gate: docs with doc_id % 10 == 0 play
    the NEW ingest batch, the rest the existing corpus whose persisted
    window-fingerprint index (`text.exact_substring_index`) is all the
    batch ever touches - corpus text is never re-read, the shape that
    keeps per-ingest cost O(batch) instead of O(lake) at 100 TB
    (mirrors `dedup_incremental_batch` for MinHash). Equivalence to the
    full corpus-wide run restricted to batch docs is pinned as a
    property law in tests/test_properties.py. md5 fingerprints keep
    the index portable: DuckDB rebuilds identical values."""
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    idx = text.exact_substring_index(base, window=8)
    return text.incremental_exact_substring_spans(new, idx, window=8)


DSIR_ORACLE = """
WITH tk AS (SELECT doc_id, doc_id % 10 = 0 AS is_target,
                   string_split(lower(text), ' ') AS tk
            FROM documents),
uni AS (SELECT doc_id, is_target, unnest(tk) AS gram FROM tk),
big AS (
  SELECT doc_id, is_target, tk[s] || ' ' || tk[s + 1] AS gram
  FROM tk, LATERAL unnest(generate_series(1, len(tk) - 1)) AS t(s)
  WHERE len(tk) >= 2),
gr AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
bk AS (SELECT doc_id, is_target,
              CAST(CAST(('0x' || substring(md5(gram), 1, 8)) AS UBIGINT) % 64
                   AS BIGINT) AS bucket
       FROM gr),
tc AS (SELECT bucket, COUNT(*) AS t_b FROM bk WHERE is_target GROUP BY 1),
rc AS (SELECT bucket, COUNT(*) AS r_b FROM bk WHERE NOT is_target GROUP BY 1),
tot AS (SELECT (SELECT COALESCE(SUM(t_b), 0) FROM tc) AS tt,
               (SELECT COALESCE(SUM(r_b), 0) FROM rc) AS rr),
dom AS (SELECT unnest(generate_series(0, 63)) AS bucket),
lut AS (
  SELECT d.bucket,
         CAST(FLOOR(ln(CAST((COALESCE(t_b, 0) + 1) * (rr + 64) AS DOUBLE)
                       / CAST((COALESCE(r_b, 0) + 1) * (tt + 64) AS DOUBLE))
                    * 1e6 + 0.5) AS BIGINT) AS lr_micro
  FROM dom d LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tot),
imp AS (
  SELECT doc_id, COUNT(*) AS n_grams, SUM(lr_micro) AS logw_micro
  FROM bk JOIN lut USING (bucket)
  WHERE NOT is_target GROUP BY doc_id)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(logw_micro AS BIGINT) AS logw_micro,
       CAST(logw_micro
            + FLOOR(-ln(-ln((CAST(('0x' || substring(
                                 md5(CAST(doc_id AS VARCHAR)), 1, 8))
                               AS UBIGINT) + 0.5) / 4294967296.0))
                    * 1e6 + 0.5) AS BIGINT) AS sel_key_micro
FROM imp
ORDER BY sel_key_micro DESC, doc_id
LIMIT 50
"""


@register("text_dsir_select", oracle=DSIR_ORACLE)
def text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): docs with doc_id % 10
    == 0 play the TARGET domain, the rest the raw pool; hashed
    unigram+bigram multinomials (64 md5 buckets, add-1 smoothing)
    give each raw doc an importance weight, and Gumbel-top-k with
    md5-derived noise resamples 50 docs proportionally to weight
    WITHOUT replacement — deterministically, so the DuckDB oracle
    replays the exact selection. All arithmetic is integer micro-units
    (the ln-quantization absorb, tfidf precedent); selection is
    TakeOrdered, no global sort. The reference has no data-selection
    stage (its unit of choice is a whole Salesforce table)."""
    docs = t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    return text.dsir_select(raw, target, n_select=50)
