"""Vector similarity search over an embedding column (array<float>).

Two tiers, per the standard ANN playbook:

- **Brute-force cosine top-k** - the exactness baseline. Query set is
  broadcast (it's small by construction); the corpus is scanned once,
  dot products run entirely in codegen'd JVM expressions
  (zip_with + aggregate, no Python, no explode), and per-query top-k
  is a TakeOrdered-style window. O(|corpus| * |queries| * dim) flops
  but a single pass over the data - at 100 TB this is the verifier
  and the re-ranker, not the ANN.

- **Random-hyperplane LSH ANN** - the scale path. Each vector maps to
  a ``n_planes``-bit bucket (sign of projection onto fixed
  pseudo-random hyperplanes); queries probe only their bucket
  (+ optional multi-probe neighbors at Hamming distance 1). Bucket
  assignment is O(corpus) map-only work; the candidate join keys on
  the bucket id, so shuffle volume is corpus-size, not corpus x
  queries. Recall tuned by n_planes / n_tables / multiprobe.

- **IVF-flat ANN** - the cluster-structured alternative: a k-means
  coarse quantizer (Lloyd iterations as DataFrame jobs, centroids
  collected driver-side - k x dim floats, tiny) assigns every corpus
  vector to an inverted list; queries probe only the ``n_probe``
  nearest lists and exact-rerank those candidates. Same two-phase
  shape as LSH with data-adaptive buckets.

Determinism: hyperplanes derive from a seeded NumPy generator and are
embedded as plan literals - the same plan every run, broadcast with
the closure (a few KB for 16 planes x 1k dims).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .materialize import materialize, release


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays, JVM-side.
    Left-fold in index order -> deterministic per row."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# Fixed-point variants for cross-engine bit-reproducibility: each
# per-element double product (identical IEEE result in any engine) is
# scaled by 1e15 and floored to int64 - floor/scale are bit-identical
# everywhere, integer sums are exact and order-free. (A DECIMAL cast
# is NOT enough: double->decimal rounding at the cut digit differs
# between Java HALF_UP and DuckDB round-half-even, drifting the last
# ulp.) The 1e15 scale cancels in the cosine ratio.
FIXED_SCALE = 1e15


def _dot_fixed(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(x.cast("double") * y.cast("double") * FIXED_SCALE),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    exact_decimal: bool = False,
) -> DataFrame:
    """Exact cosine top-k: for every query vector, the k most similar
    corpus vectors (excluding itself when ids collide). Ties broken by
    corpus id - fully deterministic output. ``exact_decimal`` switches
    to fixed-point accumulation (bit-reproducible across engines)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec"))
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("corpus_id") != F.col("query_id")
    )
    if exact_decimal:
        # scale cancels: (dot*S) / (sqrt(na*S) * sqrt(nb*S)) = cosine
        cos = _dot_fixed(F.col("qvec"), F.col("cvec")).cast("double") / (
            F.sqrt(_dot_fixed(F.col("qvec"), F.col("qvec")).cast("double"))
            * F.sqrt(_dot_fixed(F.col("cvec"), F.col("cvec")).cast("double"))
        )
    else:
        cos = _dot(F.col("qvec"), F.col("cvec")) / (
            _norm(F.col("qvec")) * _norm(F.col("cvec"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        scored.select("query_id", "corpus_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _table_buckets_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Pandas UDF computing ALL hash-table buckets for a vector batch in
    one numpy matmul: (batch, dim) @ (dim, n_tables*n_planes) -> signs
    -> per-table bucket ids.

    This replaces n_tables*n_planes zip_with/aggregate folds per row:
    Spark evaluates higher-order functions interpreted (no codegen), so
    the fold version cost 18s for 5k x 128 projections at sf0.1; the
    Arrow-batched matmul is ~50x faster and is the documented
    'vectorized Pandas UDF beats per-element lambdas' tier-2 case.
    """
    planes = np.concatenate(
        [
            np.array(_hyperplanes(dim, n_planes, seed + 1000 * t_))
            for t_ in range(n_tables)
        ]
    )  # (n_tables*n_planes, dim)
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m, valid = _stack_valid(vecs, planes.shape[1])
        # Sign bits from FIXED-POINT projections (per-element
        # floor(v*w*1e15) summed exactly as int64), not a float matmul:
        # pairwise-summed matmul dots can flip sign in the last ulp
        # near zero, and the sign pattern here must be reproducible by
        # the SQL oracle replaying the same arithmetic. Chunked per
        # plane-block to keep the (n, P, dim) intermediate bounded.
        n = len(m)
        bits = np.empty((n, planes.shape[0]), dtype=bool)
        # one plane at a time: the (n, dim) temporaries stay cache-
        # sized (a 3D (n, planes, dim) tensor measured 4x slower from
        # memory traffic alone)
        for j in range(planes.shape[0]):
            # association order pinned to the SQL form (v * w) * 1e15
            d = np.floor(m * planes[j] * 1e15).astype(np.int64).sum(axis=1)
            bits[:, j] = d > 0
        per_table = bits.reshape(n, n_tables, n_planes)
        ids = (per_table * powers).sum(axis=2)  # (n, T)
        out = [ids[i] if valid[i] else None for i in range(len(valid))]
        return pd.Series(out)

    return buckets


def _stack_valid(vecs: "pd.Series", dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Stack a vector batch, tolerating NULL / wrong-length rows: invalid
    rows become zero vectors and are flagged so callers emit NULL for
    them (matching the graceful degradation of Column expressions)
    instead of crashing the Python worker."""
    valid = np.array([v is not None and len(v) == dim for v in vecs])
    m = np.zeros((len(vecs), dim), dtype=np.float64)
    for i, v in enumerate(vecs):
        if valid[i]:
            m[i] = np.asarray(v, dtype=np.float64)
    return m, valid


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing the
    query's LSH bucket in ANY of ``n_tables`` independent hash tables
    (plus, with ``multiprobe``, buckets at Hamming distance 1), then
    exact cosine re-rank of candidates only.

    Recall is governed by (n_planes, n_tables, multiprobe): fewer
    planes -> bigger buckets -> higher recall & cost; more tables ->
    union of independent chances. Corpus-side work stays O(corpus x
    n_tables) map-only (one Arrow-batched matmul); the join keys on
    (table, bucket).
    """
    buckets = _table_buckets_udf(dim, n_planes, n_tables, seed)
    c = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.col(vec_col).alias("cvec"),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "qbucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
    else:
        probes = F.array(F.col("qbucket"))
    q = qb.select(
        "query_id", "qvec", "tbl", F.explode(probes).alias("bucket")
    )
    # fixed-point re-rank: with the bucket bits already bit-portable,
    # this makes the WHOLE ANN result (candidates + scores + ranks)
    # reproducible by the SQL oracle
    cos = _dot_fixed(F.col("qvec"), F.col("cvec")).cast("double") / (
        F.sqrt(_dot_fixed(F.col("qvec"), F.col("qvec")).cast("double"))
        * F.sqrt(_dot_fixed(F.col("cvec"), F.col("cvec")).cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", cos.alias("cosine"))
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def lsh_neighbor_pairs(
    corpus: DataFrame,
    eps_cosine: float = 0.4,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Epsilon-neighborhood CANDIDATE pairs via LSH self-join — the
    scale-path pair generator for :func:`dbscan` (and any other
    pairwise consumer): corpus vectors sharing a bucket in ANY of the
    ``n_tables`` hash tables pair up, then an exact fixed-point cosine
    filter keeps pairs >= ``eps_cosine``. No all-pairs join ever
    happens: per table the self-join keys on (table, bucket), so
    shuffle volume tracks bucket occupancy — at 100 TB raise
    ``n_planes`` so buckets stay bounded (2^n_planes buckets/table)
    and the join stays linear-ish in corpus size.

    Deterministic end to end (fixed seeded planes, fixed-point
    projections and cosines), so a SQL oracle can replay bucket
    assignment, the candidate join, and the filter bit-exactly.
    Returns (id_a, id_b) with id_a < id_b, distinct. Approximate BY
    DESIGN: pairs whose vectors collide in no table are missed —
    recall is tuned by (n_planes, n_tables), and the exact all-pairs
    path remains ``dbscan(pairs=None)``.
    """
    buckets = _table_buckets_udf(dim, n_planes, n_tables, seed)
    b = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )

    out_schema = T.StructType(
        [T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]
    )

    def pairs_in_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # Exact fixed-point cosine per in-bucket pair, vectorized: the
        # same floor(x*y*1e15)-sum / sqrt-product arithmetic as
        # `_dot_fixed`, one numpy row-block at a time (an interpreted
        # zip_with fold per candidate pair measured ~10x slower; a
        # full b^2 x dim tensor would blow memory on a hot bucket).
        m, valid = _stack_valid(pdf["v"], dim)
        ids = pdf["id"].to_numpy()
        m, ids = m[valid], ids[valid]
        order = np.argsort(ids)
        m, ids = m[order], ids[order]
        n2 = np.floor(m * m * FIXED_SCALE).astype(np.int64).sum(axis=1)
        nd = np.sqrt(n2.astype(np.float64))
        # Zero fixed-point norm ⇒ cosine undefined: drop the row from
        # the block entirely (as anchor AND partner — a zero-norm
        # partner would divide by nd=0 and emit ±inf cosines that
        # diverge from the SQL oracle and the exact all-pairs path).
        nz = nd > 0
        m, ids, nd = m[nz], ids[nz], nd[nz]
        outa: list[int] = []
        outb: list[int] = []
        for i in range(len(ids) - 1):
            rest = m[i + 1 :]
            dots = np.floor(rest * m[i] * FIXED_SCALE).astype(np.int64).sum(axis=1)
            cos = dots.astype(np.float64) / (nd[i] * nd[i + 1 :])
            hits = np.nonzero(cos >= eps_cosine)[0]
            outa.extend([int(ids[i])] * len(hits))
            outb.extend(int(ids[i + 1 + j]) for j in hits)
        return pd.DataFrame({"id_a": outa, "id_b": outb})

    return (
        b.groupBy("tbl", "bucket")
        .applyInPandas(pairs_in_bucket, out_schema)
        .distinct()
    )


KMEANS_SCALE = 10**6


def kmeans_fit(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Lloyd's k-means over DataFrames, centroids driver-side — in
    QUANTIZED INTEGER space: vectors quantize once to
    floor(x * 1e6) int64, distances are exact integer sums of squared
    diffs, and the mean update is an exact integer floor-mean
    (SUM // COUNT). Every decision in the fit (assignments, updates,
    tie-breaks) is therefore order-free and engine-portable: a SQL
    engine replaying the same arithmetic reproduces the identical
    centroid trajectory, which is what lets the IVF driver-gate query
    be oracle-checked instead of rows-only. Quantization error (1e-6
    per element; embeddings are unit-scale) is far below cluster
    geometry at any realistic scale.

    Init = the ``n_centroids`` lowest-id vectors (deterministic).
    Per iteration: one assignment pass (Arrow-batched numpy integer
    argmin, `_assign_cluster_udf`) and one mean-update (posexplode ->
    (cluster, dim) exact integer sums - a shuffle of k x dim cells,
    independent of corpus size). The collected centroid matrix is
    k x dim ints - always driver-safe. Rows with NULL/malformed
    vectors assign to a NULL cluster and are excluded from the update;
    empty clusters keep their previous centroid.
    """
    import math

    # NULL and non-finite vectors have no geometry: both are dropped
    # from the fit (a NaN element would crash the driver-side integer
    # init and poison every centroid it touches; sklearn raises on the
    # same input).
    corpus = _non_null_vectors(corpus, vec_col, finite=True)
    centroids = [
        [int(math.floor(float(x) * KMEANS_SCALE)) for x in r[vec_col]]
        for r in corpus.orderBy(id_col).limit(n_centroids).collect()
    ]
    if not centroids:  # empty corpus: the iteration loop was vacuous
        return []
    # wrong-length vectors (the only remaining NULL-assignment cause
    # after the null/finite entry filter) are excluded JVM-side BEFORE
    # the UDF: a post-hoc .filter(cluster.isNotNull()) makes Catalyst
    # extract the assign UDF into TWO ArrowEvalPython nodes (Filter +
    # Project, no CSE across the extraction), running the assignment
    # pass twice per Lloyd iteration
    corpus = corpus.filter(F.size(F.col(vec_col)) == len(centroids[0]))
    for _ in range(iters):
        assigned = corpus.select(
            F.col(vec_col).alias("v"),
            _assign_cluster(F.col(vec_col), centroids).alias("cluster"),
        )
        qx = F.floor(F.col("x").cast("double") * KMEANS_SCALE).cast("long")
        cells = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.sum(qx).alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in cells:
            # exact integer floor-mean; |s| < 2^53 so the SQL twin
            # FLOOR(CAST(s AS DOUBLE)/n) lands on the same integer
            new[r["cluster"]][r["dim"]] = r["s"] // r["n"]
        centroids = new
    return centroids


def _quantize(m: np.ndarray) -> np.ndarray:
    """floor(x * 1e6) as int64 — the kmeans quantization, identical to
    the SQL FLOOR(CAST(x AS DOUBLE) * 1000000.0)."""
    return np.floor(m * KMEANS_SCALE).astype(np.int64)


def _sq_cap(dim: int) -> float:
    """Per-element bound on the fixed-point square ``x*x*1e15``: rows
    with any element's product above this are OUTSIDE the quantized
    domain. 2^62/dim guarantees the int64 floor-sum of ``dim``
    elements stays under 2^62 < int64 max — no wraparound, no
    undefined float->int64 casts. One Python float both the numpy
    kernel and the JVM twin predicate embed literally, so the
    boundary comparison is the identical IEEE op on both sides."""
    return (2.0 ** 62) / dim


def _quantize_unit_np(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Quantized UNIT vectors, fully bit-portable: per-element
    ``floor(x*x*1e15)`` (exact in float64 — x² ≤ 1 keeps the product
    under 2^53), integer sum (order-free), ``norm =
    sqrt(sum/1e15)``, then ``floor(x / norm * 1e6)`` as int64. Every
    step is a single correctly-rounded IEEE op or integer arithmetic,
    so numpy, Spark SQL (:func:`_quantized_unit`) and the DuckDB
    oracle all land on the identical integers. Returns (uq int64
    matrix, valid mask); zero-norm, non-finite, AND out-of-domain
    rows are left as zeros and masked out."""
    # Non-finite rows AND rows whose fixed-point square exceeds
    # _sq_cap are masked BEFORE the int64 cast (round-10 twin audit):
    # floor(NaN*...) or floor(1e19) cast to int64 is platform-defined
    # garbage (numpy warns, x86 gives INT64_MIN), and even in-range
    # per-element floors can WRAP the int64 row sum — safety must be
    # by construction, not by the garbage happening to fail the norm
    # test downstream. Such rows land in the mask exactly like zero
    # vectors, and `_encodable` replays the identical product-bound
    # comparison JVM-side so the pre-filter and this mask agree
    # bit-exactly.
    with np.errstate(invalid="ignore", over="ignore"):
        # overflow->inf and NaN<=cap->False are exactly the masked
        # outcomes; the warnings are noise here
        sq = mat * mat * FIXED_SCALE
        ok = (
            np.isfinite(mat).all(axis=1)
            & (sq <= _sq_cap(mat.shape[1])).all(axis=1)
        )
    fl = np.floor(sq)
    fl[~ok] = 0.0
    s = fl.astype(np.int64).sum(axis=1)
    norms = np.sqrt(s.astype(np.float64) / FIXED_SCALE)
    nz = (norms > 0) & ok
    unit = np.divide(mat, norms[:, None], where=nz[:, None])
    unit[~nz] = 0.0
    uq = np.floor(unit * float(KMEANS_SCALE)).astype(np.int64)
    return uq, nz


def _encodable(vec_col: str, dim: int):
    """JVM-side predicate that is TRUE exactly when
    :func:`_quantize_unit_np` / :func:`_pq_encode_udf` would give a
    non-NULL row: correct length AND nonzero quantized norm.
    The norm test replays _quantize_unit_np's arithmetic — per-element
    ``floor(x*x*1e15)`` summed as nonneg integers is > 0 iff SOME
    element's floor is >= 1 — as the same IEEE double op sequence, so
    the filter and the UDF's mask agree bit-exactly. The forall
    clause is the exact twin of the kernel's domain mask (round-10
    twin audit): ``x*x*1e15 <= 2^62/dim`` compares the identical IEEE
    product against the identical Python-float literal on both sides,
    excluding rows the numpy path masks as out-of-domain (whose
    floors would otherwise garbage-cast / wrap int64 — a finite
    x=1e150 passed here but NULLed in the UDF before this clause
    existed). It also rejects NaN/Inf elements (non-ANSI NaN/Inf
    comparisons yield false), so agreement no longer ASSUMES the
    ``_non_null_vectors(finite=True)`` prefilter — callers still
    apply it for fit/candidate symmetry.

    Why filter BEFORE the UDF instead of ``.filter(
    udf_out.isNotNull())`` after: Catalyst's Python-UDF extraction
    does not CSE across the Filter/Project split — the post-hoc
    filter plans TWO ArrowEvalPython nodes in one pipeline (one
    feeding the Filter, one recomputed for the Project), executing
    the Arrow encode over the whole corpus twice (verified in
    pq_topk's executed plan; the encode is the query's hottest
    Python stage)."""
    c = F.col(vec_col)
    sq = lambda x: x.cast("double") * x.cast("double") * F.lit(FIXED_SCALE)
    return (
        (F.size(c) == dim)
        & F.exists(c, lambda x: F.floor(sq(x)) >= 1)
        & F.forall(c, lambda x: sq(x) <= F.lit(_sq_cap(dim)))
    )


def _centroid_distances_int(mq: np.ndarray, cents_q: np.ndarray) -> np.ndarray:
    """Exact integer squared L2 distances (n, k), one centroid at a
    time (cache-sized temporaries; diffs <= 2e6 so squares sum well
    inside int64). Used by BOTH corpus assignment and query probe
    ranking so near-tie decisions agree between the two sides (a
    corpus vector on a cluster boundary is probed by the same list it
    was assigned to)."""
    out = np.empty((len(mq), len(cents_q)), dtype=np.int64)
    for j in range(len(cents_q)):
        d = mq - cents_q[j]
        out[:, j] = (d * d).sum(axis=1)
    return out


def _assign_cluster_udf(centroids: "list[list[int]]"):
    """Pandas UDF: nearest-centroid index for a vector batch via exact
    integer distances (ties -> lowest index via argmin;
    NULL/wrong-length vectors -> NULL)."""
    cents = np.asarray(centroids, dtype=np.int64)  # (k, dim)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m, valid = _stack_valid(vecs, cents.shape[1])
        idx = _centroid_distances_int(_quantize(m), cents).argmin(axis=1)
        return pd.Series(
            [int(idx[i]) if valid[i] else None for i in range(len(valid))],
            dtype="Int32",
        )

    return assign


def _probe_clusters_udf(centroids: "list[list[int]]", n_probe: int):
    """Pandas UDF: the ``n_probe`` nearest centroid indices per query
    vector, same integer distance formulation as assignment
    (ties -> lower cluster id via stable argsort)."""
    cents = np.asarray(centroids, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        m, valid = _stack_valid(vecs, cents.shape[1])
        order = np.argsort(
            _centroid_distances_int(_quantize(m), cents), axis=1, kind="stable"
        )
        top = order[:, :n_probe].astype("int32")
        return pd.Series([top[i] if valid[i] else None for i in range(len(valid))])

    return probes


def _assign_cluster(vec: Column, centroids: "list[list[int]]") -> Column:
    """Index of the nearest centroid for one vector column. NULL
    assignments (malformed vectors) surface as sentinel -1 — a
    cluster id no probe, join, or update path references — so the
    column is NON-NULLABLE to Catalyst: an inner join keyed on a
    nullable Python-UDF output gets an implicit IsNotNull on the key,
    which re-extracts the UDF into a second ArrowEvalPython and runs
    the whole corpus assignment twice (ivf_topk's executed plan
    confirmed it; coalesce-with-literal kills the implicit filter
    because the result can never be null)."""
    return F.coalesce(_assign_cluster_udf(centroids)(vec), F.lit(-1))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k: k-means inverted lists + n_probe
    nearest lists per query + exact cosine rerank of candidates.

    Corpus-side work: one assignment pass (map-only). Query-side: each
    query explodes to its n_probe list ids; the candidate join keys on
    the list id, so shuffle volume tracks list sizes (corpus/n_centroids
    on balanced data), not corpus x queries.
    """
    # finite=True: non-finite corpus vectors are excluded from the
    # CANDIDATE set, not just from centroid training (a NaN element
    # otherwise scores NaN cosine and can surface in top-k).
    corpus = _non_null_vectors(corpus, vec_col, finite=True)
    queries = _non_null_vectors(queries, vec_col)
    centroids = kmeans_fit(corpus, n_centroids, iters, vec_col, id_col)
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cvec"),
        _assign_cluster(F.col(vec_col), centroids).alias("cluster"),
    )
    return _ivf_search(c, centroids, queries, k, id_col, vec_col, n_probe)


def _ivf_search(
    c: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Shared IVF probe + exact-rerank body over a pre-assigned corpus
    (corpus_id, cvec, cluster) — used by the build-and-query-in-one
    :func:`ivf_topk` and the persisted-index :func:`ivf_query` path.

    Probe ranking shares the integer distance formulation with
    assignment, so a boundary corpus vector is probed by the list it
    was assigned to; the rerank is the fixed-point cosine, making the
    whole probe+rerank result engine-portable."""
    probes = _probe_clusters_udf(centroids, n_probe)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .select("query_id", "qvec", F.explode(probes(F.col("qvec"))).alias("cluster"))
    )
    cos = _dot_fixed(F.col("qvec"), F.col("cvec")).cast("double") / (
        F.sqrt(_dot_fixed(F.col("qvec"), F.col("qvec")).cast("double"))
        * F.sqrt(_dot_fixed(F.col("cvec"), F.col("cvec")).cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_build(
    corpus: DataFrame,
    lake,
    index_name: str,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Build an IVF index ONCE and persist it to the lake — the
    production split of :func:`ivf_topk` (which retrains k-means per
    call): queries then pay only probe + rerank against the stored
    inverted lists, and the index rebuilds on ITS schedule, not the
    query path's. Two tables:

    - ``{index}__assignments``: (corpus_id, cluster, pos, val) — the
      corpus vectors FLATTENED to scalars, because the lake's
      reference-parity schema policy has no array type
      (`normalize.widen_types` falls back to string; on real Iceberg
      the array column persists natively and this flattening
      disappears);
    - ``{index}__centroids``: (cluster, pos, val) — k x dim cells.

    Both written with the atomic ``replace`` disposition, so a rebuild
    swaps the whole index in one snapshot per table and time travel
    keeps the previous index readable. Returns the centroid matrix.
    """
    corpus = _non_null_vectors(corpus, vec_col, finite=True)
    centroids = kmeans_fit(corpus, n_centroids, iters, vec_col, id_col)
    flat = corpus.select(
        F.col(id_col).alias("corpus_id"),
        _assign_cluster(F.col(vec_col), centroids).alias("cluster"),
        F.posexplode(F.col(vec_col)).alias("pos", "val0"),
    ).select(
        "corpus_id", "cluster", "pos", F.col("val0").cast("double").alias("val")
    )
    lake.replace(flat, f"{index_name}__assignments")
    lake.replace(
        pa.Table.from_pylist(
            [
                {"cluster": ci, "pos": pi, "val": float(v)}
                for ci, row in enumerate(centroids)
                for pi, v in enumerate(row)
            ],
            pa.schema([("cluster", pa.int64()), ("pos", pa.int64()), ("val", pa.float64())]),
        ),
        f"{index_name}__centroids",
    )
    return centroids


def ivf_query(
    lake,
    index_name: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_build`): load the k x dim
    centroid matrix driver-side (tiny), reassemble the stored inverted
    lists (one groupBy on corpus_id — the cost of the lake's flat
    schema; native-array storage skips it), and run the shared probe +
    exact-rerank body. Same output contract as :func:`ivf_topk`."""
    cent = lake.read(f"{index_name}__centroids").collect()
    by_cluster: dict[int, dict[int, float]] = {}
    for r in cent:
        by_cluster.setdefault(r.cluster, {})[r.pos] = r.val
    centroids = [
        [by_cluster[ci][pi] for pi in sorted(by_cluster[ci])]
        for ci in sorted(by_cluster)
    ]
    flat = lake.read(f"{index_name}__assignments")
    c = (
        flat.groupBy("corpus_id", "cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s["val"],
            ).alias("cvec")
        )
    )
    return _ivf_search(c, centroids, queries, k, id_col, vec_col, n_probe)


# ---------------------------------------------------------------------------
# int8 embedding quantization (storage/bandwidth path for 100 TB vectors).
# ---------------------------------------------------------------------------


def quantize_int8(
    vecs: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = round(x_i * 127 /
    max|x|)`` - the standard storage/bandwidth compression for embedding
    columns (4x smaller than float32, 8x than float64; int8 dot products
    SIMD-accelerate downstream).

    Determinism across engines: rounding is ``floor(x*scale + 0.5)`` on
    the double product (bit-identical IEEE ops everywhere; library
    round() rounding modes differ between Java and C). A zero vector
    quantizes to all zeros with scale 0.

    Map-only - no shuffle at any scale. Output keeps the dequantization
    scale (``max|x|/127``) per row.
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / maxabs
    q = F.when(maxabs == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("int"))
    )
    return vecs.select(
        F.col(id_col).alias("vec_id"),
        q.alias("qvec"),
        F.when(maxabs == 0.0, F.lit(0.0))
        .otherwise(maxabs / F.lit(127.0))
        .alias("dequant_scale"),
    )


def _idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int arrays (order-free)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors: the cheap first-pass
    ranking in a quantize -> shortlist -> full-precision-rerank ANN
    stack. All similarity math is exact integer arithmetic (then one
    double division) - bit-reproducible across engines, no fixed-point
    scaling needed.
    """
    q = quantize_int8(queries, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qa")
    )
    c = quantize_int8(corpus, id_col, vec_col).select(
        F.col("vec_id").alias("corpus_id"), F.col("qvec").alias("qb")
    )
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("corpus_id") != F.col("query_id")
    )
    qcos = _idot(F.col("qa"), F.col("qb")).cast("double") / (
        F.sqrt(_idot(F.col("qa"), F.col("qa")).cast("double"))
        * F.sqrt(_idot(F.col("qb"), F.col("qb")).cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("corpus_id")
    )
    return (
        scored.select("query_id", "corpus_id", qcos.alias("qcosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster, then greedy cosine prune).
# ---------------------------------------------------------------------------


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    within each cluster greedily drop vectors whose cosine similarity
    to an already-kept vector exceeds ``threshold`` (scan order = id
    order, so output is deterministic).

    Runs in the QUANTIZED-INTEGER discipline end to end: the k-means
    quantizer is `kmeans_fit` (integer Lloyd trajectory), and the
    greedy sims are computed on `_quantize_unit_np` vectors — exact
    int64 dots divided by portable sqrt norms, so every cosine (and
    every keep/drop decision) is bit-identical in any engine and the
    whole operator replays in a SQL oracle (recursive-CTE greedy).

    Scale shape: clustering bounds the pairwise work to within-cluster
    (corpus**2 / k on balanced clusters) and the greedy pass runs
    per-cluster via applyInPandas - one shuffle on the cluster id. At
    100 TB the cluster count scales with corpus size so per-group state
    stays bounded; skewed clusters would be recursively re-clustered
    (not needed at fixture scale).

    Returns one row per input vector: ``vec_id, cluster, keep,
    dup_of, max_sim`` (``dup_of``/``max_sim`` NULL for kept vectors
    with no prior neighbor above threshold).
    """
    centroids = kmeans_fit(corpus, n_centroids, iters, vec_col, id_col)
    # exclusion JVM-side BEFORE the assign UDF (null / wrong-length
    # vectors, the exact conditions that made assign return NULL) —
    # the old post-hoc .filter(cluster.isNotNull()) double-planned the
    # assignment pass (see _assign_cluster)
    dim = len(centroids[0]) if centroids else -1
    assigned = (
        corpus.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        )
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            _assign_cluster(F.col(vec_col), centroids).alias("cluster"),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("max_sim", T.DoubleType()),
        ]
    )

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        uq, nz = _quantize_unit_np(m)
        # portable norms of the QUANTIZED vectors: int sum of squares
        # -> one exact int->double conversion -> one sqrt (zero-norm
        # rows keep norm 1 so their sims are exactly 0, as before)
        n2 = (uq * uq).sum(axis=1)
        norm_d = np.array(
            [math.sqrt(float(x)) if x > 0 else 1.0 for x in n2], dtype=np.float64
        )
        kept_rows: list[int] = []
        keep = np.ones(len(pdf), dtype=bool)
        dup_of = np.full(len(pdf), -1, dtype=np.int64)
        max_sim = np.full(len(pdf), np.nan)
        for i in range(len(pdf)):
            if kept_rows:
                dots = uq[kept_rows] @ uq[i]  # exact int64
                sims = np.array(
                    [
                        float(d) / (norm_d[kr] * norm_d[i])
                        for d, kr in zip(dots, kept_rows)
                    ]
                )
                j = int(np.argmax(sims))
                max_sim[i] = float(sims[j])
                if sims[j] > threshold:
                    keep[i] = False
                    dup_of[i] = int(pdf["vec_id"].iloc[kept_rows[j]])
            if keep[i]:
                kept_rows.append(i)
        out = pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "cluster": pdf["cluster"].astype("int32"),
                "keep": keep,
                "dup_of": pd.array(
                    [None if d < 0 else d for d in dup_of], dtype="Int64"
                ),
                "max_sim": max_sim,
            }
        )
        return out

    return assigned.groupBy("cluster").applyInPandas(prune, out_schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN: codebook compression + ADC scoring.
# ---------------------------------------------------------------------------


def _non_null_vectors(df: DataFrame, vec_col: str, finite: bool = False) -> DataFrame:
    """NULL vectors have no geometry: every vector operator that feeds
    them to numpy kernels or driver-side fits drops them up front
    (production corpora carry nulls routinely — a failed embedding
    job, a late column — and ``len(None)`` inside an Arrow batch takes
    the whole job down). The driver-gate comparisons run on null-free
    fixture corpora, so oracle results are unchanged; an oracle twin
    fed null-bearing data must add ``embedding IS NOT NULL`` to its
    corpus scan to match. JVM-expression paths (brute-force cosine,
    LSH) need no
    filter: SQL null semantics propagate and the final threshold/rank
    predicates drop the null rows.

    ``finite=True`` additionally drops vectors containing ANY NaN/Inf
    element — the index-family entry filter (kmeans/IVF/PQ): a
    non-finite vector can neither train a codebook nor be a meaningful
    candidate, and excluding it at entry keeps fits and candidate sets
    symmetric (previously only the FIT dropped them, so NaN-scored
    garbage rows could surface in top-k results)."""
    out = df.filter(F.col(vec_col).isNotNull())
    if finite:
        out = out.filter(
            ~F.exists(
                F.col(vec_col),
                lambda x: F.isnan(x.cast("double"))
                | (F.abs(x.cast("double")) == F.lit(float("inf"))),
            )
        )
    return out


class EmptyCorpusError(ValueError):
    """Raised by training operators when the corpus has no usable rows
    (empty, or only zero-norm vectors) — a codebook cannot be fit.
    Query-shaped callers (`pq_topk`) catch it and return an empty
    result with the documented schema, matching how every scan-shaped
    operator behaves on empty inputs."""


def pq_fit(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_fraction: float = 1.0,
) -> "list[list[list[int]]]":
    """Train ``m`` per-subspace codebooks (each ``n_codes`` centroids)
    with JOINT Lloyd iterations: one Arrow-batched assignment pass
    computes all ``m`` sub-codes per vector (`_pq_encode_udf`), and one
    aggregation updates every (subspace, code, dim) mean cell - 2 Spark
    jobs per iteration total, vs ``m`` independent k-means runs (the
    naive composition was m*iters*2 jobs and dominated wall-clock).
    The update shuffle carries at most ``m * n_codes * dim/m`` cells
    regardless of corpus size. Init = the ``n_codes`` lowest-id
    vectors' QUANTIZED-UNIT slices (deterministic). Codebook matrix is
    ``m * n_codes * (dim/m)`` int64 - always driver-safe.

    Runs in QUANTIZED INTEGER space, the `kmeans_fit` discipline
    applied per subspace: vectors quantize to unit-normalized
    floor(u * 1e6) int64 (`_quantize_unit_np`), distances are exact
    integer squared-L2 sums, centroid updates are exact integer
    floor-means — so the whole Lloyd trajectory (and the downstream
    ADC scoring) replays bit-exactly in a SQL oracle.

    ``train_fraction < 1`` trains on a DETERMINISTIC md5 sample of the
    corpus (reproducible across runs/cluster sizes, unlike df.sample's
    partition-seeded RNG) — the 100 TB path: codebook quality saturates
    long before the corpus is exhausted, so Lloyd iterations touch
    O(fraction * corpus) while ENCODING still covers every vector
    (recall bound re-asserted under sampling in
    ``TestProductQuantization``)."""
    books, base = _pq_fit_impl(
        corpus, m, n_codes, iters, vec_col, id_col, train_fraction,
        with_ids=False,
    )
    release(base)
    return books


def _pq_fit_impl(
    corpus: DataFrame,
    m: int,
    n_codes: int,
    iters: int,
    vec_col: str,
    id_col: str,
    train_fraction: float,
    with_ids: bool,
) -> "tuple[list[list[list[int]]], DataFrame]":
    """:func:`pq_fit` body, additionally returning the fit's quantized
    checkpoint (see :func:`_pq_lloyd`). With ``with_ids=True`` and
    ``train_fraction == 1.0`` the checkpoint carries ``id_col`` and
    covers EXACTLY the `_encodable` corpus row set — pq_topk/pq_build
    reuse it for the final encode instead of re-quantizing the whole
    corpus through a fourth Arrow pass. (At train_fraction < 1 the
    checkpoint is a training subset and reuse is impossible — callers
    must check they trained on the full corpus before reusing.)"""
    import numpy as np

    corpus = _non_null_vectors(corpus, vec_col, finite=True)
    if train_fraction < 1.0:
        keep = int(train_fraction * 10_000)
        bucket = (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 10_000
        )
        train = corpus.filter(bucket < keep)
    else:
        train = corpus
    # Zero-norm vectors can neither seed nor train (their unit vector
    # is undefined); the oracle filters the same rows.
    train = train.filter(_dot_fixed(F.col(vec_col), F.col(vec_col)) > 0)

    dim_row = corpus.select(vec_col).first()
    if dim_row is None:
        raise EmptyCorpusError("pq_fit: corpus is empty - cannot train a codebook")
    dim = len(dim_row[0])
    if m <= 0 or dim % m != 0:
        # ADVICE r9: without this, every vector fails the pre_quantized
        # length check (uq length dim != m*(dim//m)), encode returns
        # all-NULL codes, and the Lloyd update crashes on a None index
        # — fail with the actual contract instead
        raise ValueError(
            f"pq_fit: embedding dim {dim} is not divisible by m={m}; "
            "product quantization needs equal subspaces - pick m "
            "dividing the dimension (or pad the vectors)"
        )
    dsub = dim // m
    seed_rows = train.orderBy(id_col).limit(n_codes).collect()
    if not seed_rows:
        raise EmptyCorpusError(
            "pq_fit: corpus has no nonzero-norm vectors - cannot train a codebook"
        )
    seeds = np.array(
        [[float(x) for x in r[vec_col]] for r in seed_rows], dtype=np.float64
    )
    # A codebook cannot have more centroids than training vectors: a
    # corpus smaller than n_codes caps the effective code count (the
    # same implicit k-reduction kmeans_fit's limit() gives) instead of
    # indexing past the seed matrix.
    n_codes = min(n_codes, len(seed_rows))
    sq, _ = _quantize_unit_np(seeds)
    books = [
        [[int(x) for x in sq[c, j * dsub : (j + 1) * dsub]]
         for c in range(n_codes)]
        for j in range(m)
    ]

    return _pq_lloyd(
        train, books, iters, dim, dsub, vec_col, id_col,
        with_ids=with_ids and train_fraction >= 1.0,
    )


def _pq_lloyd(
    train: DataFrame,
    books: "list[list[list[int]]]",
    iters: int,
    dim: int,
    dsub: int,
    vec_col: str,
    id_col: str,
    with_ids: bool,
) -> "tuple[list[list[list[int]]], DataFrame]":
    """The shared Lloyd loop of :func:`pq_fit`: returns the trained
    codebooks AND the quantized-unit training checkpoint (so callers
    encoding the SAME row set afterwards — pq_topk / pq_build at
    train_fraction=1.0 — can reuse it instead of re-quantizing the
    whole corpus; the caller frees it otherwise).

    Round-10 optimization (guide §4: each ArrowEvalPython stage has a
    fixed per-task Python round-trip cost on top of its kernel): the
    quantize pass and the FIRST encode pass are fused into ONE struct-
    returning pandas UDF — the checkpoint materializes (uq, codes0)
    together, so Lloyd iteration 1 aggregates its cells with NO Python
    stage at all, and later passes run pre-quantized over the stored
    uq. pq_topk's plan went from 4 Arrow passes over the corpus
    (quantize, encode x2 iters, final encode) to 3, with the final
    encode also skipping the in-kernel re-quantization. Arithmetic is
    unchanged: encode(pre_quantized uq) with the same books produces
    the identical codes the fused kernel produced, and the update
    cells are the same exact integer sums.

    ``with_ids`` carries ``id_col`` through the checkpoint (needed for
    reuse; the fit itself does not need ids)."""
    fused = _pq_fused_udf(books)
    cols = ([F.col(id_col)] if with_ids else []) + [
        fused(F.col(vec_col)).alias("qe")
    ]
    base = materialize(
        train.filter(_encodable(vec_col, dim))
        .select(*cols)
        .select(*(([id_col] if with_ids else []) + ["qe.uq", "qe.codes"]))
    )  # reused by every Lloyd iteration
    for it in range(iters):
        if it == 0:
            # the fused pass already computed codes under books_0
            enc_rows = base.select(F.col("uq"), F.col("codes"))
        else:
            enc = _pq_encode_udf(books, pre_quantized=True)
            # no codes-null filter: uq rows are always full-length (the
            # quantize UDF emits fixed-dim arrays) and pre_quantized
            # encode NULLs only on length mismatch
            enc_rows = base.select(F.col("uq"), enc(F.col("uq")).alias("codes"))
        cells = (
            enc_rows
            .select(F.posexplode("uq").alias("dim", "x"), F.col("codes"))
            .select(
                (F.col("dim") / dsub).cast("int").alias("j"),
                F.element_at(
                    "codes", (F.col("dim") / dsub).cast("int") + 1
                ).alias("code"),
                (F.col("dim") % dsub).cast("int").alias("d"),
                F.col("x"),
            )
            .groupBy("j", "code", "d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [[list(c) for c in book] for book in books]
        for r in cells:
            # exact integer floor-mean; |s| < 2^53 so the SQL twin
            # FLOOR(CAST(s AS DOUBLE)/n) lands on the same integer
            new[r["j"]][r["code"]][r["d"]] = r["s"] // r["n"]
        books = new
    return books, base


def _pq_fused_udf(books: "list[list[list[int]]]"):
    """Pandas UDF fusing :func:`_quantize_unit_np` and
    :func:`_pq_encode_udf` into one Python pass: returns
    struct(uq array<long>, codes array<int>) — the quantized unit
    vector plus its sub-codes under the given (initial) codebooks.
    Same kernels, same arithmetic, half the Arrow round-trips for the
    fit's first pass. Callers pre-filter with :func:`_encodable`, so
    neither field is ever NULL here (matching the unfused pair)."""
    mats = [np.asarray(b, dtype=np.int64) for b in books]
    m = len(mats)
    dsub = mats[0].shape[1]
    out_t = T.StructType(
        [
            T.StructField("uq", T.ArrayType(T.LongType())),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    @F.pandas_udf(out_t)
    def fused(vecs: pd.Series) -> pd.DataFrame:
        mat, valid = _stack_valid(vecs, m * dsub)
        uq, nz = _quantize_unit_np(mat)
        codes = np.empty((uq.shape[0], m), dtype="int32")
        for j in range(m):
            sub = uq[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = _centroid_distances_int(sub, mats[j]).argmin(axis=1)
        ok = valid & nz
        return pd.DataFrame(
            {
                "uq": [uq[i] if ok[i] else None for i in range(len(ok))],
                "codes": [codes[i] if ok[i] else None for i in range(len(ok))],
            }
        )

    return fused


def _pq_encode_udf(books: "list[list[list[int]]]", pre_quantized: bool = False):
    """Pandas UDF: all ``m`` sub-codes for a vector batch in one numpy
    pass — exact integer squared-L2 argmin against each subspace's
    int64 codebook (ties -> lowest code, matching the oracle's
    ROW_NUMBER tie-break). ``pre_quantized`` skips the unit
    quantization when the input column already holds
    `_quantized_unit` arrays (the fit loop's case)."""
    mats = [np.asarray(b, dtype=np.int64) for b in books]
    m = len(mats)
    dsub = mats[0].shape[1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        mat, valid = _stack_valid(vecs, m * dsub)
        if pre_quantized:
            uq, nz = mat.astype(np.int64), np.ones(len(mat), dtype=bool)
        else:
            uq, nz = _quantize_unit_np(mat)
        codes = np.empty((uq.shape[0], m), dtype="int32")
        for j in range(m):
            sub = uq[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = _centroid_distances_int(sub, mats[j]).argmin(axis=1)
        return pd.Series(
            [codes[i] if valid[i] and nz[i] else None
             for i in range(len(valid))]
        )

    return encode


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    n_codes: int = 16,
    iters: int = 2,
    shortlist: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float = 1.0,
    rerank: bool = True,
) -> DataFrame:
    """Product-quantization approximate top-k by cosine.
    ``rerank=False`` returns the integer ADC ranking directly
    (query_id, corpus_id, adc_score, rank) — the memory-only mode
    where full vectors are never touched after encoding.

    The 100 TB memory path: each corpus vector is stored as ``m`` int8
    codes (16 bytes here vs 256+ for the float vector); scoring is
    asymmetric distance computation (ADC) - the quantized query
    sub-vectors dotted against each subspace's codebook entry, i.e.
    ``score = sum_j <q_j, codebook_j[code_j]>``, which on
    unit-normalized inputs approximates cosine. Codebooks, codes, LUT
    entries and ADC sums are ALL exact integers (`pq_fit`'s quantized
    discipline), so shortlist selection is order-free and replays
    bit-exactly in a SQL oracle; the rerank is the fixed-point cosine.

    Plan shape: encode is map-only (Arrow-batched numpy); scoring
    cross-joins the (tiny, broadcast) query set against corpus codes
    and evaluates the per-query lookup tables as PLAN-LITERAL nested
    arrays via ``transform``/``aggregate`` higher-order functions - the
    hot scoring loop is JVM codegen, no Python in the per-corpus-row
    path. ADC picks a ``shortlist * k`` candidate set per query
    (WindowGroupLimit prunes pre-shuffle), then an EXACT cosine rerank
    over the shortlist - the standard PQ recall fix, and only
    ``shortlist*k*|Q|`` full vectors are ever touched after the scan.
    """
    corpus = _non_null_vectors(corpus, vec_col, finite=True)
    queries = _non_null_vectors(queries, vec_col)
    try:
        books, base = _pq_fit_impl(
            corpus, m, n_codes, iters, vec_col, id_col, train_fraction,
            with_ids=True,
        )
    except EmptyCorpusError:
        # Empty / all-zero-norm corpus: no candidates exist. Return an
        # empty result with the documented schema instead of crashing -
        # the behavior every scan-shaped query has on empty inputs.
        # (pq_build_index keeps raising: failing a BUILD step loudly is
        # the correct contract there.)
        score_col, score_t = (
            ("cosine", "double") if rerank else ("adc_score", "bigint")
        )
        return (
            queries.select(F.col(id_col).alias("query_id")).limit(0)
            .crossJoin(corpus.select(F.col(id_col).alias("corpus_id")).limit(0))
            .withColumn(score_col, F.lit(None).cast(score_t))
            .withColumn("rank", F.lit(None).cast("long"))
        )
    c = _pq_corpus_codes(corpus, books, base, iters, id_col, vec_col,
                         train_fraction)
    return _pq_search(
        c, books, queries, k, shortlist, corpus if rerank else None, id_col, vec_col
    )


def _pq_corpus_codes(
    corpus: DataFrame,
    books: "list[list[list[int]]]",
    base: DataFrame,
    iters: int,
    id_col: str,
    vec_col: str,
    train_fraction: float,
) -> DataFrame:
    """(corpus_id, codes) under the FINAL codebooks — shared by
    pq_topk and pq_build.

    Round-10 optimization: at ``train_fraction == 1.0`` the fit's
    quantized checkpoint covers exactly the `_encodable` corpus rows
    (the `_dot_fixed > 0` train filter is implied by `_encodable`'s
    ``exists(floor(x*x*1e15) >= 1)``), so the final encode runs
    PRE-QUANTIZED over the stored uq — same codes, one less full
    quantization, and at ``iters == 0`` the checkpoint's codes ARE the
    final codes (no Python at all).

    Round-11 (ADVICE r10): the reused ``base`` checkpoint pins
    corpus-sized (uq, codes) blocks — uq is dim int64s per row, ~8x
    the float vector — and pq_topk could never free it because the
    lazy result consumed it. Now the final (corpus_id, codes)
    projection materializes as its OWN checkpoint (m int32s + id per
    row, ~dim/4 smaller) and ``base`` is freed immediately; repeated
    pq_topk calls no longer accumulate corpus-scale blocks in the
    block manager (the exact pressure ``materialize.release``'s
    docstring blames for 2x bench variance). Same codes: the encode
    kernel just runs inside the checkpoint's materialization job
    instead of inside the consumer's plan. At train_fraction < 1 the old re-quantizing
    encode over the full corpus remains — the checkpoint only covers
    the sample."""
    if train_fraction >= 1.0:
        if iters == 0:
            final = base.select(F.col(id_col).alias("corpus_id"), "codes")
        else:
            enc = _pq_encode_udf(books, pre_quantized=True)
            final = base.select(
                F.col(id_col).alias("corpus_id"), enc(F.col("uq")).alias("codes")
            )
        codes = materialize(final)
        release(base)
        return codes
    release(base)  # training-sample checkpoint: not reusable
    enc = _pq_encode_udf(books)
    # pre-filter on the JVM twin of encode's NULL mask instead of
    # .filter(codes.isNotNull()) after — the post-hoc filter planned
    # TWO ArrowEvalPython nodes, encoding the whole corpus twice
    return corpus.filter(
        _encodable(vec_col, len(books) * len(books[0][0]))
    ).select(F.col(id_col).alias("corpus_id"), enc(F.col(vec_col)).alias("codes"))


def _pq_search(
    c: DataFrame,
    books: "list[list[list[int]]]",
    queries: DataFrame,
    k: int,
    shortlist: int,
    rerank_corpus: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared ADC body over pre-encoded corpus codes (corpus_id,
    codes) — used by the fit-and-query-in-one :func:`pq_topk` and the
    persisted-index :func:`pq_query` path. With ``rerank_corpus`` the
    integer ADC shortlist reranks by exact fixed-point cosine against
    the full vectors (pq_topk's contract: query_id, corpus_id, cosine,
    rank); without it the ADC ranking IS the answer (query_id,
    corpus_id, adc_score, rank) — the memory-only mode where full
    vectors are too big to keep."""
    # Per-query ADC lookup tables, computed driver-side from the query
    # vectors (queries are the small side by construction). Quantized
    # query units dotted against int64 codebooks -> exact int64 LUT
    # cells (|cell| <= dsub * 1e6 * 1e6, well inside int64).
    qrows = queries.select(id_col, vec_col).collect()
    mats = [np.asarray(b, dtype=np.int64) for b in books]
    dsub = mats[0].shape[1]
    qids, luts = [], []
    for r in qrows:
        v = np.asarray([r[vec_col]], dtype=np.float64)
        qq, nz = _quantize_unit_np(v)
        if not nz[0]:
            continue
        qids.append(int(r[id_col]))
        luts.append(
            [[int(x) for x in mats[j] @ qq[0, j * dsub : (j + 1) * dsub]]
             for j in range(len(mats))]
        )
    # ONE nested Literal, not F.array-of-F.array-of-F.lit: per-element
    # construction adds n_q*m*n_codes analyzer nodes (2k+ here) and the
    # plan-time cost dwarfs execution (see functions/bloom.py note).
    lut_lit = F.lit(luts).cast("array<array<array<bigint>>>")
    qdf = F.broadcast(
        queries.sparkSession.createDataFrame(
            pa.table({"query_id": qids, "qpos": list(range(1, len(qids) + 1))}),
            "query_id long, qpos int",
        )
    )
    lut_q = F.element_at(lut_lit, F.col("qpos"))
    score = F.aggregate(
        F.transform(
            F.col("codes"),
            lambda code, j: F.element_at(
                F.element_at(lut_q, j.cast("int") + 1), code + 1
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("corpus_id")
    )
    limit = shortlist * k if rerank_corpus is not None else k
    cands = (
        c.crossJoin(qdf)
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", score.alias("adc_score"))
        .withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= limit)
    )
    if rerank_corpus is None:
        return cands.select(
            "query_id",
            "corpus_id",
            "adc_score",
            F.col("adc_rank").cast("long").alias("rank"),
        )
    cands = cands.drop("adc_rank")
    # Exact cosine rerank over the shortlist only (fixed-point, so the
    # final ranking is engine-portable like the IVF/brute-force paths).
    cvec = rerank_corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    qvec = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    )
    cos = _dot_fixed(F.col("qvec"), F.col("cvec")).cast("double") / (
        F.sqrt(_dot_fixed(F.col("qvec"), F.col("qvec")).cast("double"))
        * F.sqrt(_dot_fixed(F.col("cvec"), F.col("cvec")).cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        cands.join(cvec, "corpus_id")
        .join(qvec, "query_id")
        .select("query_id", "corpus_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_build(
    corpus: DataFrame,
    lake,
    index_name: str,
    m: int = 16,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float = 1.0,
) -> "list[list[list[int]]]":
    """Build a PQ index ONCE and persist it to the lake — the
    production split of :func:`pq_topk` (which retrains codebooks per
    call), mirroring :func:`ivf_build`: queries then pay only
    LUT + ADC (+ optional rerank) against the stored codes, and the
    index rebuilds on ITS schedule. Two tables, both written with the
    atomic ``replace`` disposition (a rebuild swaps the whole index in
    one snapshot per table; time travel keeps the previous index):

    - ``{index}__codes``: (corpus_id, j, code) — each vector's ``m``
      sub-codes, the 16-bytes-per-vector memory story made durable;
    - ``{index}__books``: (j, code, d, val) — the integer codebook
      cells (m x n_codes x dsub, tiny).

    Returns the codebooks."""
    corpus = _non_null_vectors(corpus, vec_col, finite=True)
    books, base = _pq_fit_impl(
        corpus, m, n_codes, iters, vec_col, id_col, train_fraction,
        with_ids=True,
    )
    # Final codes via _pq_corpus_codes (reuses the fit's quantized
    # checkpoint at train_fraction=1.0, materialized as a codes-only
    # checkpoint with the fat uq blocks already freed — see there).
    c = _pq_corpus_codes(
        corpus, books, base, iters, id_col, vec_col, train_fraction
    )
    flat = (
        # The explode deliberately generates over a CONSTANT sequence
        # and element_at's the codes — round-10 sweep finding:
        # posexplode(codes) over an ALIASED UDF output lets
        # InferFiltersFromGenerate add size(codes)>0 which filter
        # pushdown rewrites to size(encode(vec))>0, re-extracting the
        # encode into a second ArrowEvalPython (the whole corpus
        # encoded twice; Spark's own UDF exemption in that rule only
        # catches a DIRECT UDF generator child)
        c.select(
            "corpus_id",
            F.explode(F.sequence(F.lit(0), F.lit(len(books) - 1))).alias("j"),
            F.col("codes"),
        )
        .select(
            "corpus_id",
            F.col("j").cast("long"),
            F.element_at("codes", F.col("j") + 1).cast("long").alias("code"),
        )
    )
    lake.replace(flat, f"{index_name}__codes")
    lake.replace(
        pa.Table.from_pylist(
            [
                {"j": j, "code": code, "d": d, "val": int(val)}
                for j, book in enumerate(books)
                for code, cent in enumerate(book)
                for d, val in enumerate(cent)
            ],
            pa.schema([(c, pa.int64()) for c in ("j", "code", "d", "val")]),
        ),
        f"{index_name}__books",
    )
    return books


def pq_query(
    lake,
    index_name: str,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 10,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted PQ index (:func:`pq_build`): load the integer
    codebooks driver-side (tiny), reassemble the stored codes (one
    groupBy on corpus_id — the cost of the lake's flat schema), and
    run the shared ADC body. Pass ``corpus`` to rerank the shortlist
    by exact fixed-point cosine (same output contract as
    :func:`pq_topk`); omit it for the ADC-only mode where the full
    vectors are not kept."""
    queries = _non_null_vectors(queries, vec_col)
    rows = lake.read(f"{index_name}__books").collect()
    by_j: dict[int, dict[int, dict[int, int]]] = {}
    for r in rows:
        by_j.setdefault(r.j, {}).setdefault(r.code, {})[r.d] = r.val
    books = [
        [
            [by_j[j][code][d] for d in sorted(by_j[j][code])]
            for code in sorted(by_j[j])
        ]
        for j in sorted(by_j)
    ]
    c = (
        lake.read(f"{index_name}__codes")
        .groupBy("corpus_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "code"))),
                lambda s: s["code"].cast("int"),
            ).alias("codes")
        )
    )
    return _pq_search(c, books, queries, k, shortlist, corpus, id_col, vec_col)


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction.
# ---------------------------------------------------------------------------


def projection_signs(dim: int, k: int) -> list[list[int]]:
    """Deterministic ±1 sign matrix (k rows × dim cols) for sign random
    projection, derived per-cell from md5 — reproducible in any
    language, so a SQL oracle can inline the identical matrix as a list
    literal and match bit-for-bit."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp#{j}#{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def random_projection(
    emb: DataFrame,
    dim: int,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Johnson–Lindenstrauss-style ±1 random projection: reduce a
    ``dim``-wide embedding to ``k`` components (Achlioptas 2003 — a
    Rademacher matrix preserves pairwise distances in expectation like
    a Gaussian one, with integer-only arithmetic).

    Map-only: each output component is a per-row fold
    ``sum_i sign(j,i) * floor(x_i * scale + 0.5)`` — fixed-point, so
    the sums are exact integers (order-independent, engine-independent)
    and NO shuffle happens at any corpus size; this is the cheap first
    stage in front of any clustering/ANN pass at 100 TB. Output
    components stay in micro-units (``scale``); downstream cosine-style
    ratios cancel the scale.
    """
    signs = projection_signs(dim, k)
    outs = []
    for j in range(k):
        folded = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.lit(signs[j]),
                lambda x, s: F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
                    "long"
                )
                * s.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        outs.append(folded.alias(f"r{j}"))
    return emb.select(F.col(id_col), *outs)


def maxsim_scores(
    emb: DataFrame,
    query_label: int = 0,
    n_query: int = 5,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """ColBERT-style MaxSim late-interaction scoring: treat each label's
    vectors as a multi-vector BAG (document token embeddings), take the
    ``n_query`` lowest-id vectors of ``query_label`` as the query bag,
    and score every other bag with sum_q max_d <q, d>.

    Scale shape: the query bag is tiny by construction and rides a
    broadcast; the corpus is scanned once and fans out x|Q| through a
    BroadcastNestedLoopJoin (the correct plan when one side has no join
    key and fits in memory). Dot products run in codegen'd JVM folds
    (zip_with + aggregate) over integer-quantized components
    (floor(x*scale+0.5) — the near-integer rounding both engines agree
    on), so every dot, max and sum is EXACT BIGINT arithmetic: the
    score is engine-reproducible with no float accumulation anywhere.
    max-per-(bag,query) then sum-per-bag are two combinable
    aggregations — at 100 TB the shuffle carries |bags| x |Q| rows.
    """
    quant = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )
    q = (
        emb.filter(F.col(label_col) == query_label)
        .orderBy(id_col)
        .limit(n_query)
        .select(F.col(id_col).alias("qid"), quant.alias("qarr"))
    )
    docs = emb.filter(F.col(label_col) != query_label).select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("did"),
        quant.alias("darr"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qarr"), F.col("darr"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dots = docs.crossJoin(F.broadcast(q)).select("label", "qid", dot.alias("dot"))
    per_query = dots.groupBy("label", "qid").agg(F.max("dot").alias("m"))
    return per_query.groupBy("label").agg(F.sum("m").alias("maxsim_score"))


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): per query, greedily pick the candidate
    maximizing ``lam * sim(q, d) - (1-lam) * max_{s in selected}
    sim(d, s)`` — relevance traded against redundancy, the re-rank
    step that keeps a RAG context window from filling with five copies
    of the same paragraph.

    Two-phase scale shape (the house ANN playbook): a distributed
    EXACT shortlist per query (`cosine_topk`, JVM-side codegen dot
    products) bounds the sequential part, then the inherently greedy
    MMR loop runs per query-group in ONE applyInPandas over
    ``shortlist`` rows x dim floats — O(shortlist^2 * dim) numpy per
    query, never over the corpus. Deterministic: candidates enter in
    (relevance DESC, corpus_id ASC) order and numpy's argmax takes the
    first maximum, so exact score ties break toward higher relevance
    then smaller id.

    Every similarity in the loop — the relevance shortlist AND the
    candidate-candidate redundancy sims — uses the house FIXED-POINT
    cosine (per-element floor(a*b*1e15) summed as int64, then
    sqrt/divide on identical doubles), so the whole greedy trajectory
    is bit-reproducible by any engine replaying the same arithmetic:
    the driver-gate oracle unrolls the k selection stages in SQL and
    hash-matches exactly.

    Returns (query_id, corpus_id, mmr_rank, relevance, mmr_score);
    pinned in pytest against a pure-Python reference.
    """
    corpus = _non_null_vectors(corpus, vec_col)
    queries = _non_null_vectors(queries, vec_col)
    short = cosine_topk(
        corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col,
        exact_decimal=True,
    )
    cand = short.join(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")),
        "corpus_id",
    ).select("query_id", "corpus_id", "cosine", "rank", "cvec")

    out_schema = (
        "query_id long, corpus_id long, mmr_rank long, "
        "relevance double, mmr_score double"
    )

    def pick(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["rank"]).reset_index(drop=True)
        vecs = np.stack(pdf["cvec"].map(np.asarray).values).astype("float64")
        # fixed-point norms (sqrt of the exact int64 self-dot, as a
        # double): identical to the SQL sqrt(DDOT(v,v)) the oracle runs
        fnorm = np.sqrt(
            np.floor(vecs * vecs * 1e15).astype(np.int64).sum(axis=1).astype("float64")
        )
        fnorm[fnorm == 0.0] = 1.0
        rel = pdf["cosine"].to_numpy()
        n = len(pdf)
        chosen: list[int] = []
        scores: list[float] = []
        penalty = np.full(n, -1.0)  # max sim to selected so far
        alive = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            mmr = lam * rel - (1.0 - lam) * np.where(penalty < 0, 0.0, penalty)
            mmr[~alive] = -np.inf
            i = int(np.argmax(mmr))
            chosen.append(i)
            scores.append(float(mmr[i]))
            alive[i] = False
            dots = (
                np.floor(vecs * vecs[i] * 1e15)
                .astype(np.int64)
                .sum(axis=1)
                .astype("float64")
            )
            sim_to_i = dots / (fnorm * fnorm[i])
            penalty = np.maximum(penalty, sim_to_i)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[chosen].values,
                "corpus_id": pdf["corpus_id"].iloc[chosen].values,
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int64"),
                "relevance": rel[chosen],
                "mmr_score": np.array(scores, dtype="float64"),
            }
        )

    return cand.groupBy("query_id").applyInPandas(pick, out_schema)


def dbscan(
    corpus: DataFrame,
    eps_cosine: float = 0.4,
    min_pts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
    exact_max_rows: int | None = 20_000,
    lsh_planes: int = 4,
    lsh_tables: int = 16,
    lsh_seed: int = 42,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. KDD'96) over
    cosine similarity — the clustering k-means cannot do: arbitrary
    cluster shapes, no preset k, and an explicit NOISE bucket (exactly
    what embedding-corpus curation wants: dense semantic blobs =
    topics/near-dup families, noise = the long tail worth keeping).

    Composition of existing scale primitives, no new iteration scheme:

    1. epsilon-neighborhood pairs (cosine >= ``eps_cosine``) — AUTO-
       ROUTED when ``pairs`` is None: corpora up to ``exact_max_rows``
       take the exact fixed-point all-pairs join (lossless, O(n²)
       comparisons — fine below the threshold, where the quadratic
       term is smaller than LSH's bucketing overhead); larger corpora
       route to :func:`lsh_neighbor_pairs` (bucket self-join, no
       all-pairs at any size — the 100 TB path; approximate recall
       tuned by ``lsh_planes``/``lsh_tables``). Because the switch
       changes result semantics (recall < 1 can split clusters), the
       approximate route emits a ``RuntimeWarning`` so it is never
       silent. Pass
       ``exact_max_rows=None`` to force exact, or supply ``pairs``
       from any candidate generator to override routing entirely. The
       routing count is one cheap aggregate over the id column;
    2. CORE points = >= ``min_pts`` neighbors (self excluded — the
       common minPts-1 convention, pinned by the tests);
    3. clusters = `dedup.connected_components` over core-core edges
       (deterministic min-id labels);
    4. BORDER points attach to the min cluster id among their core
       neighbors (deterministic tie-break); everything else is NOISE.

    Returns (id_col, cluster_id, role) — cluster_id NULL for noise.
    DBSCAN's classic border ambiguity (a border point reachable from
    two clusters) resolves by min cluster id here, so the output is
    deterministic regardless of partitioning.
    """
    from .dedup import connected_components

    if pairs is None and exact_max_rows is not None:
        n_rows = corpus.select(id_col).count()
        if n_rows > exact_max_rows:
            import warnings

            warnings.warn(
                f"dbscan: corpus has {n_rows} rows > exact_max_rows="
                f"{exact_max_rows}; auto-routing epsilon-neighborhood "
                f"generation to approximate LSH ({lsh_planes} planes x "
                f"{lsh_tables} tables). Recall can be < 1, so clusters may "
                f"split vs the exact path. Pass exact_max_rows=None to force "
                f"exact all-pairs, or pairs=<candidates> to control routing.",
                RuntimeWarning,
                stacklevel=2,
            )
            dim = len(corpus.select(vec_col).first()[0])
            pairs = lsh_neighbor_pairs(
                corpus,
                eps_cosine=eps_cosine,
                dim=dim,
                n_planes=lsh_planes,
                n_tables=lsh_tables,
                seed=lsh_seed,
                id_col=id_col,
                vec_col=vec_col,
            )
    if pairs is None:
        a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        cos = _dot_fixed(F.col("va"), F.col("vb")).cast("double") / (
            F.sqrt(_dot_fixed(F.col("va"), F.col("va")).cast("double"))
            * F.sqrt(_dot_fixed(F.col("vb"), F.col("vb")).cast("double"))
        )
        pairs = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= eps_cosine)
            .select("id_a", "id_b")
        )
    nb = materialize(pairs.select("id_a", "id_b").unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ))
    deg = nb.groupBy("id_a").agg(F.count("*").alias("n_neighbors"))
    core = deg.filter(F.col("n_neighbors") >= min_pts).select(
        F.col("id_a").alias("cid")
    )
    core_edges = (
        nb.join(core.select(F.col("cid").alias("id_a")), "id_a")
        .join(core.select(F.col("cid").alias("id_b")), "id_b")
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    cc = connected_components(core_edges, nodes=core.select(F.col("cid").alias("node")))
    core_lbl = cc.select(
        F.col("node").alias("id"), F.col("cluster_id"), F.lit("core").alias("role")
    )
    border = (
        nb.join(core.select(F.col("cid").alias("id_b")), "id_b")
        .join(core_lbl.select(F.col("id").alias("id_b"), "cluster_id"), "id_b")
        .join(core.select(F.col("cid").alias("id_a")), "id_a", "left_anti")
        .groupBy(F.col("id_a").alias("id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
        .withColumn("role", F.lit("border"))
    )
    labeled = core_lbl.unionByName(border)
    all_ids = corpus.select(F.col(id_col).alias("id"))
    noise = all_ids.join(labeled.select("id"), "id", "left_anti").select(
        "id",
        F.lit(None).cast(labeled.schema["cluster_id"].dataType).alias("cluster_id"),
        F.lit("noise").alias("role"),
    )
    return labeled.unionByName(noise).select(
        F.col("id").alias(id_col), "cluster_id", "role"
    )
