"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these shapes):

- exact dedup is a single hash aggregation - map-side partial, one
  shuffle of (key, min_id) pairs, never the payloads;
- exact Jaccard is quadratic-in-candidates and exists as the small-SF
  oracle / verification path;
- MinHash+LSH is the 100 TB path: O(corpus) signature pass (explode ->
  64 partial-aggregated mins), then banding so only probable-duplicate
  pairs are ever joined. Band width r and band count b set the
  S-curve: P(candidate) = 1-(1-s^r)^b;
- SimHash is the O(corpus) bit-signature alternative; pairs via
  pigeonhole banding on 16-bit chunks (any pair within Hamming
  distance 3 shares at least one of 4 chunks).

All hashing is deterministic (murmur3 `hash` / `xxhash64` with fixed
seeds + fixed a/b permutation constants) so results are reproducible
run-to-run - required for both the driver's hash-compare and
idempotent re-runs of a production dedup job.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import full_width, materialize, release, spread
from .text import tokens

MERSENNE_31 = (1 << 31) - 1


def shingles(col: Column | str, n: int = 2) -> Column:
    """Word n-gram shingle array (distinct), the dedup unit.

    n=2 bigrams: discriminative enough on small vocabularies while
    staying cheap; character k-grams would drop in identically.

    NOTE: prefer ``shingles_tokens`` over an already-projected token
    array when the plan is expression-heavy - higher-order functions
    run interpreted (no codegen, no common-subexpression elimination),
    so the inlined split/lower here re-evaluates per element_at.
    """
    return shingles_tokens(tokens(col), n)


def shingles_tokens(t: Column, n: int = 2) -> Column:
    """``shingles`` over a pre-tokenized array column. Materializing the
    token array into a projected column first makes it a per-row
    attribute (computed once), instead of re-splitting the text for
    every element of the interpreted shingle lambda - observed 5x on
    the contamination scan at sf0.1."""
    if n == 1:
        return F.array_distinct(t)
    # Guard: sequence(0, -1) would produce a DEscending sequence in
    # Spark, not an empty array - short docs must yield [] explicitly.
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]
                ),
            )
        )
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with n-gram Jaccard >= threshold via PREFIX FILTERING
    (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08). LOSSLESS: returns exactly :func:`jaccard_pairs`' result
    set, but the candidate join touches only each document's rarest
    prefix shingles instead of every shingle.

    Under any global shingle order, a document whose Jaccard with some
    partner is >= t shares >= ceil(t*m) shingles with it, so its first
    ``m - ceil(t*m) + 1`` shingles (its *prefix*) must contain the
    order-minimal shared shingle — pigeonhole, applied to both sides.
    Ordering shingles by ascending document frequency puts the RAREST
    shingles in prefixes: the candidate self-join fans out per shingle
    as df_prefix^2 instead of df^2, which removes exactly the hot-token
    quadratic blowup that makes the naive all-shingle join collapse at
    corpus scale (a stopword bigram shared by 1M docs contributes 10^12
    join rows naive, ~0 via prefixes because its df rank is last).

    Threshold is held as an exact rational so the prefix length and
    size filter are integer arithmetic (no float-rounding loss);
    surviving candidates get the exact intersection verify.
    """
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10**6)
    num, den = fr.numerator, fr.denominator

    d = spread(docs).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("tk0")
    ).select("doc", shingles_tokens(F.col("tk0"), n).alias("sh"))
    # tok feeds the df-count and the encode join; it stays LAZY on
    # purpose — the shingle map pipelines into both consumers' partial
    # aggregations, and checkpointing it (a full materialization
    # barrier of every exploded shingle row) measured SLOWER than the
    # double compute at sf0.1.
    tok = d.select("doc", F.explode("sh").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count("*").alias("df"))
    # Dictionary-encode shingles as dense ints in (df, shingle) order:
    # ascending id == ascending rarity rank, so the per-doc "sort by
    # rarity" is a plain int sort, the candidate join keys are ints,
    # and the verify intersects sorted int arrays — the string payloads
    # never leave this block (3x on the verify stage at sf0.1). The
    # global window runs over the VOCABULARY (distinct shingles), which
    # is orders of magnitude smaller than the corpus; at true scale the
    # same id assignment shards into zipWithIndex-style range ids.
    sid = dfreq.withColumn(
        "sid", F.row_number().over(Window.orderBy("df", "s")).cast("long")
    )
    # Materialize once: `ranked` feeds the prefix explode AND both
    # sides of the verify join — left lazy, the tokenize/encode/sort
    # pipeline re-executes per consumer (3x the whole upstream at
    # sf0.1, the dominant cost before this checkpoint). Then re-spread:
    # at small input sizes AQE coalesces the groupBy output to ONE
    # partition (byte-based), and the checkpoint freezes that layout —
    # every downstream stage (prefix self-join, verify) then runs as a
    # single task (measured: the whole candidate+verify pipeline fused
    # into one 1.2 s serial task at sf0.1). spread() widens only when
    # below core count, so at scale this is a no-op branch.
    ranked = materialize(
        tok.join(sid, "s")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list("sid")).alias("sh"))
        .select("doc", "sh", F.size("sh").alias("m"))
        .withColumn(
            "prefix",
            F.expr(f"slice(sh, 1, m - ((({num} * m) + {den} - 1) DIV {den}) + 1)"),
        )
    )
    ranked = spread(ranked)
    # Carry each prefix shingle's POSITION in the rarity order: the
    # PPJoin positional filter bounds the best-possible overlap of a
    # candidate matched at positions (pa, pb) by 1 + min(ma-pa, mb-pb)
    # (valid for the pair's order-minimal shared shingle, which is the
    # row that keeps the pair alive — so pruning other rows is safe).
    # Overlap must reach alpha = ceil(t/(1+t) * (ma+mb)); matches late
    # in the prefix can't, and late prefix positions are exactly the
    # highest-df shingles where the join fan-out concentrates — this
    # predicate prunes DURING the join, before any shuffle of the
    # candidate set (3x wall-clock on the fixture corpus at sf0.1).
    # The prefix rows are CPU-heavy per byte downstream (candidate
    # join, positional filter, verify), but their shuffle payload is
    # tiny — AQE's byte-based coalescing (minPartitionSize) collapses
    # the join read to ONE task at small SF and serializes the whole
    # candidate+verify pipeline (measured 1.1 s single-task stage at
    # sf0.1). A USER-specified hash repartition on the join key is
    # exempt from AQE coalescing and satisfies the self-join's
    # distribution requirement, so the join reuses it (ReusedExchange
    # on the other side) with no extra shuffle at any scale.
    # Width = max(cores, spark.sql.shuffle.partitions): a user
    # repartition is also exempt from AQE skew-join SPLITTING, so
    # pinning it at defaultParallelism alone would cap shuffle width
    # below the configured partition count on a real cluster (round-6
    # ADVICE) — taking the max keeps the small-SF anti-coalesce fix a
    # no-op change locally while honoring the tuned width at scale.
    target = full_width(docs.sparkSession)
    p = (
        ranked.select("doc", "m", F.posexplode("prefix").alias("p0", "s"))
        .select("doc", "m", "s", (F.col("m") - F.col("p0") - 1).alias("r"))
        .repartition(target, "s")
    )
    cand = (
        p.alias("x")
        .join(
            p.alias("y"),
            (F.col("x.s") == F.col("y.s"))
            & (F.col("x.doc") < F.col("y.doc"))
            # size filter: t * max(|A|,|B|) <= min(|A|,|B|), in integers
            & (
                num * F.greatest(F.col("x.m"), F.col("y.m"))
                <= den * F.least(F.col("x.m"), F.col("y.m"))
            )
            # positional filter: reachable overlap >= alpha
            & F.expr(
                f"least(x.r, y.r) + 1 >= "
                f"(({num} * (x.m + y.m) + {num} + {den} - 1) DIV ({num} + {den}))"
            ),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        # same coalesce exemption for the dedup+verify stage: hash on
        # the pair satisfies dropDuplicates' clustering requirement, so
        # this is the dedup's own shuffle, just pinned at full width.
        .repartition(target, "doc_a", "doc_b")
        .dropDuplicates()
    )
    ta = ranked.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"),
                       F.col("m").alias("ma"))
    tb = ranked.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"),
                       F.col("m").alias("mb"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("n_inter", inter)
        .filter(den * F.col("n_inter") >= num * (F.col("ma") + F.col("mb") - F.col("n_inter")))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("ma") + F.col("mb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup.
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Exact deduplication on ``cols``: one row per distinct key, the
    representative being the minimum id (deterministic, unlike
    dropDuplicates' partition-order-dependent pick). Only (key-hash,
    id) pairs shuffle, never full payloads."""
    return docs.groupBy(*cols).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification/oracle path).
# ---------------------------------------------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with n-gram Jaccard >= threshold, computed exactly:
    explode distinct shingles, self-join on shingle, count
    intersections, |A∪B| = |A|+|B|-|A∩B|.

    Quadratic in shared-shingle pairs -> the *verification* path. The
    production path is :func:`minhash_lsh_candidates` which feeds its
    survivors through this same exact check on candidates only.
    """
    sh = (
        spread(docs)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("tk"))
        .select("doc", F.explode(shingles_tokens(F.col("tk"), n)).alias("s"))
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path).
# ---------------------------------------------------------------------------


def _permutation_constants(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    num_perm: int = 32,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document (default 32 permutations: with
    4-row bands the candidate S-curve is effectively identical to 64
    perms - P(candidate|s=0.9) = 1-(1-0.9^4)^8 = 0.9998 - while the
    generated whole-stage-codegen unit and signature width halve;
    the 64-perm variant measured ~10s of one-time Janino compilation).

    Shape: explode distinct shingles -> PORTABLE 32-bit base hash (the
    first 8 hex chars of md5, not an engine-private murmur3, so an
    independent engine can rebuild bit-identical signatures - the same
    portability choice as the count-min sketch oracle) -> ``num_perm``
    universal-hash permutations ((a*h+b) mod 2^31-1, a*h < 2^63, no
    overflow) -> per-doc min of each. The mins are ``num_perm``
    ordinary partial-aggregated MIN columns: one shuffle of
    (doc, 64 ints), O(corpus) work, no pairwise anything.
    """
    consts = _permutation_constants(num_perm, seed)
    sh = (
        spread(docs)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("tk"))
        .select("doc", F.explode(shingles_tokens(F.col("tk"), n)).alias("s"))
    )
    h = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    proj = sh.select(
        "doc",
        *[
            F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE_31)).alias(f"h{i}")
            for i, (a, b) in enumerate(consts)
        ],
    )
    agg = proj.groupBy("doc").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_perm)]
    )
    return agg.select(
        "doc", F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("signature")
    )


def _banded(signatures: DataFrame, bands: int, num_perm: int) -> DataFrame:
    """(doc, band, bucket) rows: each signature split into ``bands``
    bands of ``num_perm/bands`` positions, each band xxhash64'd."""
    r = num_perm // bands
    return signatures.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",", *[F.col("signature")[bi * r + j] for j in range(r)]
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 8, num_perm: int = 32
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``num_perm/bands`` rows, hash each band, and emit pairs that share
    any (band_id, band_hash) bucket.

    The self-join runs per-bucket - at scale the shuffle key is
    (band_id, band_hash), and bucket sizes stay tiny for non-duplicate
    corpora, so candidate generation is ~linear. 8 bands x 4 rows:
    s=0.9 -> P≈0.9998, s=0.3 -> P≈0.063.
    """
    banded = _banded(signatures, bands, num_perm)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 2,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> signature
    similarity estimate -> threshold. ``est_jaccard`` is the fraction
    of agreeing MinHash positions (unbiased estimator of Jaccard).

    The signature table is persisted: it is consumed three times
    (banding + both sides of the candidate join) and is tiny relative
    to the corpus (1 row/doc x 64 ints) - at production scale this is
    the table you would write out and reuse across dedup runs.
    Recomputing it per consumer tripled the wall-clock at sf0.1.
    """
    sigs = minhash_signatures(docs, text_col, id_col, n, num_perm).persist()
    cands = minhash_lsh_candidates(sigs, bands, num_perm)
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sa.signature"),
                F.col("sb.signature"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / num_perm
    )
    return (
        cands.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash.
# ---------------------------------------------------------------------------


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """64-bit SimHash per document as 4x16-bit chunks.

    Features are n-gram shingles (same unit as the Jaccard/MinHash
    operators - unigram bags are too coarse when documents share a
    small vocabulary); each shingle hashes to 64 PORTABLE bits (two
    32-bit halves from the md5 hex digest, not engine-private
    xxhash64, so an independent engine rebuilds identical signatures)
    and per bit position the corpus-side work is a SUM of ±1
    contributions: 64 partial-aggregated sums, one shuffle of
    (doc, 64 ints). Chunked layout feeds the pigeonhole join directly.
    """
    tok = (
        spread(docs)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("tk"))
        .select("doc", F.explode(shingles_tokens(F.col("tk"), n)).alias("t"))
        .select(
            "doc",
            F.conv(F.substring(F.md5("t"), 9, 8), 16, 10)
            .cast("long")
            .alias("h_lo"),
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
            .cast("long")
            .alias("h_hi"),
        )
    )
    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.shiftrightunsigned(
                    F.col("h_lo") if i < 32 else F.col("h_hi"), i % 32
                ).bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    chunks = [
        sum_bits_to_chunk([F.col(f"b{c * 16 + j}") for j in range(16)])
        for c in range(4)
    ]
    return bit_sums.select(
        "doc", F.array(*chunks).alias("chunks")
    )


def sum_bits_to_chunk(bit_cols: list[Column]) -> Column:
    """(sign(b_0)..sign(b_15)) -> 16-bit int."""
    out = F.lit(0)
    for j, b in enumerate(bit_cols):
        out = out + F.when(b > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out.cast("long")


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` (<=3 for
    the 4-chunk pigeonhole: any such pair agrees on >=1 chunk).
    Candidates join on (chunk_idx, chunk_value); verification computes
    the true distance via xor popcount on the 4 chunks."""
    sigs = simhash_signatures(docs, text_col, id_col)
    keyed = sigs.select(
        "doc",
        "chunks",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("ci"), F.col("chunks")[i].alias("cv"))
                    for i in range(4)
                ]
            )
        ).alias("k"),
    ).select("doc", "chunks", "k.ci", "k.cv")
    a = keyed.alias("a")
    b = keyed.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.col("a.chunks"),
            F.col("b.chunks"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Connected components (pair list -> duplicate clusters).
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list: the step that
    turns near-dup PAIRS (minhash/jaccard/simhash output) into duplicate
    CLUSTERS so a 100 TB dedup pass can keep exactly one canonical doc
    per cluster. Returns ``(node, cluster_id)`` with ``cluster_id`` =
    the minimum node id in the component (deterministic labeling).

    Algorithm: iterative min-label propagation - each round every node
    takes the min of its own label and its neighbors' labels (one
    shuffle join + one groupBy per round). Rounds needed = graph
    diameter; near-dup clusters are dense, tiny-diameter graphs, so
    2-4 rounds in practice. Per-round state is three longs per node
    (node, label, previous label) - document payloads never enter the
    loop - and lineage is truncated by materializing each round, so
    the plan stays O(1) deep instead of growing by two joins per round.
    For adversarial long-chain graphs the same message/update shape
    upgrades to large-star/small-star (O(log^2 n) rounds, Kiveris et
    al., "Connected Components in MapReduce and Beyond").

    Convergence: each round's min-aggregate also carries the node's
    previous label, and the round's own checkpoint job observes the
    number of nodes whose label dropped (``materialize`` metrics).
    Labels only ever decrease, so a round with zero changed rows is the
    fixpoint - one job per round, no separate convergence scan.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.union(e.select(F.col("v"), F.col("u"))).distinct()
    sym = materialize(spread(sym))

    # The loop runs over EDGE ENDPOINTS only - in a dedup corpus the
    # overwhelming majority of docs are singletons, and dragging them
    # through every propagation round would multiply loop state by
    # corpus/endpoint ratio (~20x on the fixtures). Singletons join
    # back in one final left join below.
    labels = materialize(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    # The old label is carried per node through the min-aggregate
    # (labels holds exactly one row per node, so min over the tagged
    # branch reconstructs it), and the checkpoint job observes the SUM
    # of changed-row indicators.
    for _ in range(max_iter):
        msgs = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.u") == F.col("l.node"))
            .select(F.col("e.v").alias("node"), F.col("l.label").alias("label"))
        )
        old = labels
        tagged = labels.select(
            "node", "label", F.lit(True).alias("_own")
        ).unionByName(msgs.select("node", "label", F.lit(False).alias("_own")))
        agg = tagged.groupBy("node").agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("_own"), F.col("label"))).alias("_old"),
        )
        # _old stays in the checkpoint (the metric reads it); every
        # consumer selects node/label explicitly.
        labels, vals = materialize(
            agg, F.sum((F.col("label") < F.col("_old")).cast("long")).alias("chg")
        )
        release(old)
        if not (vals["chg"] or 0):
            break
    out = labels.select("node", F.col("label").alias("cluster_id"))
    if nodes is not None:
        allnodes = nodes.select(F.col(node_col).alias("node")).distinct()
        out = allnodes.join(out, "node", "left").select(
            "node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id")
        )
    return out


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    converges in O(log^2 n) rounds regardless of graph DIAMETER, where
    plain min-label propagation (:func:`connected_components`) needs
    O(diameter) rounds - the variant to use when duplicate chains can
    be long (e.g. transitive near-dup chains A~B~C~...~Z).

    large-star: every node points its LARGER neighbors at the minimum
    of its closed neighborhood; small-star: the not-larger neighbors
    (and itself). Each round is one groupBy-min plus one join on the
    current edge list, canonicalized to undirected (min,max) pairs; at
    the fixpoint every component is a star centered at its minimum
    node. Same output contract as :func:`connected_components`.

    Convergence: (edge count, SUM(xxhash64(u,v))) signature per round
    - one cheap agg instead of a set-difference join.
    """
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Self-loops carry no connectivity and are stripped before the
    # star rounds — but a node whose ONLY edge is a self-loop is still
    # an endpoint of the input and must come back as a singleton
    # component (same contract as `connected_components`, which keeps
    # it through the symmetrized edge list). Every non-loop endpoint
    # survives the star rounds (the fixpoint is a star containing the
    # whole component), so the only recoverable loss IS the self-loop
    # set — recovered below via one anti-join over that (usually
    # empty, AQE-collapsed) set, not a full endpoint distinct.
    e = e0.filter(F.col("u") != F.col("v"))
    # The (count, hash-sum) round signature is observed by each
    # checkpoint's own materialization job (round-11) — the standalone
    # per-round signature job (and the pre-loop one) disappear; same
    # tuple over the same rows, so convergence fires on the identical
    # round.
    _SIG = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v")).alias("h"),
    )
    cur, vals = materialize(
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct(),
        *_SIG,
    )
    prev = (vals["n"], vals["h"])

    def _star(cdf: DataFrame, large: bool) -> DataFrame:
        sym = cdf.union(cdf.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        j = sym.join(mins, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(j.select("u", F.col("m").alias("v")))
        return (
            out.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )

    for _ in range(max_iter):
        old = cur
        mid = materialize(_star(cur, large=True))
        release(old)
        cur, vals = materialize(_star(mid, large=False), *_SIG)
        release(mid)
        s = (vals["n"], vals["h"])
        if s == prev:
            break
        prev = s

    sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    out = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"),
            F.least("mn", F.col("u")).alias("cluster_id"),
        )
    )
    if nodes is not None:
        allnodes = nodes.select(F.col(node_col).alias("node")).distinct()
        return allnodes.join(out, "node", "left").select(
            "node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id")
        )
    loop_only = (
        e0.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .distinct()
        .join(out.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    return out.unionByName(loop_only)


def incremental_minhash_pairs(
    new_docs: DataFrame,
    base_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 2,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dedup: match a NEW batch of
    documents against the PERSISTED signature table of the already-
    ingested corpus, without touching the corpus text again - the
    production shape at 100 TB, where re-shingling the whole lake per
    ingest is a non-starter. The signature table (1 row/doc x
    ``num_perm`` ints, the asset :func:`minhash_dedup_pairs` tells you
    to keep) is re-banded map-side; only bucket-collision pairs join.

    Returns ``(doc_new, doc_match, est_jaccard >= threshold)`` where
    ``doc_match`` is an existing corpus doc, or an earlier doc of the
    same new batch (so intra-batch duplicates are caught in the same
    pass - counted once via the id ordering).
    """
    new_sigs = minhash_signatures(new_docs, text_col, id_col, n, num_perm).persist()
    all_sigs = base_signatures.withColumn("is_new", F.lit(False)).unionByName(
        new_sigs.withColumn("is_new", F.lit(True))
    )
    nb = _banded(new_sigs, bands, num_perm).alias("a")
    ab = _banded(all_sigs.select("doc", "signature"), bands, num_perm).join(
        all_sigs.select("doc", "is_new"), "doc"
    ).alias("b")
    cands = (
        nb.join(
            ab,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (
                (~F.col("b.is_new"))
                | (F.col("b.doc") < F.col("a.doc"))
            ),
        )
        .select(F.col("a.doc").alias("doc_new"), F.col("b.doc").alias("doc_match"))
        .distinct()
    )
    sa = new_sigs.alias("sa")
    sb = all_sigs.alias("sb")
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sa.signature"),
                F.col("sb.signature"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / num_perm
    )
    return (
        cands.join(sa, F.col("doc_new") == F.col("sa.doc"))
        .join(sb, F.col("doc_match") == F.col("sb.doc"))
        .select("doc_new", "doc_match", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str = "name",
    id_col: str = "id",
) -> DataFrame:
    """All pairs within Levenshtein distance 1 via FastSS
    deletion-neighborhood blocking (Bocek et al., 2007).

    ed(a, b) <= 1 implies a and b share an entry in their depth-1
    deletion neighborhoods (substitution: both delete the differing
    position; insert/delete: the shorter string IS a deletion of the
    longer; equality: the strings themselves match), so an equi-join
    on the ~L+1 variants per string finds every candidate — O(n*L)
    blocking rows instead of the O(n^2) cross join with a quadratic
    DP distance per pair (the oracle's plan). Levenshtein is an exact
    integer metric, identical in every engine, so the survivors
    hash-match brute force.

    Depth-1 neighborhoods certify only distance <= 1; deeper distance
    thresholds need depth-k deletions (same shape, more variants).
    """
    base = spread(df).select(F.col(id_col).alias("id"), F.col(col).alias("s"))
    variants = F.when(
        F.length("s") == 0, F.array(F.col("s"))
    ).otherwise(
        F.array_union(
            F.expr(
                "transform(sequence(1, length(s)), i -> "
                "concat(substring(s, 1, i - 1), substring(s, i + 1, length(s))))"
            ),
            F.array(F.col("s")),
        )
    )
    v = base.select("id", "s", F.explode(variants).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
        )
        .distinct()
    )
    return cand.filter(F.levenshtein("s_a", "s_b") <= 1).select(
        "id_a", "id_b", F.levenshtein("s_a", "s_b").cast("long").alias("dist")
    )


def _df_histogram(dfreq: DataFrame) -> list:
    """Log2-bucketed df histogram (<= 64 rows collected): per band the
    exact naive-join work sum(df^2), token volume, max df and distinct
    shingle count — the inputs of the containment strategy choices."""
    return (
        dfreq.groupBy(F.floor(F.log2("df")).alias("band"))
        .agg(
            F.sum((F.col("df") * F.col("df")).cast("double")).alias("work"),
            F.sum("df").alias("tokens"),
            F.max("df").alias("mx"),
            F.count("*").alias("cnt"),
        )
        .collect()
    )


def _cap_and_hot_fraction(
    hist: list, cold_work_per_token: int
) -> tuple[int, float]:
    """Pick the cold/hot split from the histogram: the cap is the
    largest df band whose cumulative exact cold-join work sum(df^2)
    fits ``cold_work_per_token * n_tokens`` — cold work held LINEAR in
    corpus size by construction (see :func:`containment_pairs`). Also
    returns the fraction of token MASS left hot at that cap: the
    saturation signal (prefix/inverted-index candidate generation
    relies on rarity existing; a corpus whose token mass is mostly hot
    after the linear-work budget defeats it structurally)."""
    n_tokens = sum(r["tokens"] for r in hist)
    budget = float(cold_work_per_token) * n_tokens
    cum, cap, cold_tokens = 0.0, 1, 0
    for r in sorted(hist, key=lambda r: r["band"]):
        if cum + r["work"] > budget:
            break
        cum += r["work"]
        cap = r["mx"]
        cold_tokens += r["tokens"]
    hot_frac = 1.0 - (cold_tokens / n_tokens if n_tokens else 1.0)
    return cap, hot_frac


def _cap_from_hist(hist: list, cold_work_per_token: int) -> int:
    return _cap_and_hot_fraction(hist, cold_work_per_token)[0]


def _cost_based_df_cap(dfreq: DataFrame, cold_work_per_token: int) -> int:
    return _cap_from_hist(_df_histogram(dfreq), cold_work_per_token)


DENSE_VOCAB_MAX = 4096  # full-vocab bitmap <= 64 longs per doc
DENSE_HOT_FRACTION = 0.5  # token mass hot at the cap => index degenerates


def _pop16_lut():
    import numpy as np

    return np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)


def _containment_dense(
    tok: DataFrame,
    dfreq: DataFrame,
    num: int,
    den: int,
    n_shingles: int,
    n_docs: int,
    block_rows: int = 1024,
) -> DataFrame:
    """SATURATED-VOCABULARY strategy for :func:`containment_pairs`:
    blocked all-pairs verify over FULL-vocabulary bitmaps — no
    candidate generation, no pair shuffle. When every shingle is
    frequent (tiny vocabulary, df ~ corpus size), the prefix/inverted-
    index machinery degenerates: candidates approach all-pairs but
    arrive as a shuffled, distinct-deduped join of co-occurrence rows
    (measured 850M join rows, 330 GB spill, 412 s on the 50k-doc
    growdf slice). Here each doc compresses to ceil(|vocab|/64) longs;
    docs replicate once per block-pair (~sqrt-blocking, O(n*B) rows of
    a few hundred bytes); each block-pair task computes the exact
    pairwise intersection matrix as vectorized AND+popcount and emits
    only qualifying ordered pairs. Same 1.25e9 logical pair checks,
    but as in-task word-ops instead of shuffled rows: 412 s -> ~30 s,
    zero spill.

    EXACT by construction — popcount(bm_a AND bm_b) IS |A∩B| — so the
    result is bit-identical to the index path and the naive-join
    oracle. Chosen only by the cost gate in :func:`containment_pairs`
    (vocabulary small enough for <=64-word bitmaps AND estimated index
    join volume above the blocked all-pairs word-op cost); a corpus
    with real (Heaps-law) vocabulary growth never routes here, and at
    a scale where n^2 word-ops are infeasible the corpus is infeasible
    for ANY exact set-similarity join."""
    import pandas as pd

    width = (n_shingles + 63) // 64
    vocab = dfreq.select("s").withColumn(
        "bit",
        (F.row_number().over(Window.orderBy("s")) - 1).cast("long"),
    )
    bits = (
        tok.join(F.broadcast(vocab), "s")
        .groupBy("doc")
        .agg(F.collect_list("bit").alias("bits"))
    )
    bitmap = F.expr(
        f"transform(sequence(0, {width - 1}), w -> "
        f"aggregate(filter(bits, b -> CAST(b DIV 64 AS INT) = w), "
        f"CAST(0 AS BIGINT), "
        f"(acc, b) -> acc | shiftleft(CAST(1 AS BIGINT), CAST(b % 64 AS INT))))"
    )
    n_blocks = max(1, -(-n_docs // block_rows))
    docbm = materialize(bits.select(
        "doc",
        F.size("bits").cast("long").alias("m"),
        bitmap.alias("bm"),
        F.pmod(F.hash("doc"), F.lit(n_blocks)).cast("int").alias("bid"),
    ))
    spark = docbm.sparkSession
    pairs = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    bp = spark.createDataFrame(
        pa.table({"bi": [i for i, _ in pairs], "bj": [j for _, j in pairs]}),
        "bi int, bj int",
    )
    lside = docbm.join(F.broadcast(bp), docbm["bid"] == bp["bi"]).select(
        "bi", "bj", "doc", "m", "bm", F.lit("L").alias("side")
    )
    rside = docbm.join(F.broadcast(bp), docbm["bid"] == bp["bj"]).select(
        "bi", "bj", "doc", "m", "bm", F.lit("R").alias("side")
    )
    staged = lside.unionByName(rside)
    id_type = docbm.schema["doc"].dataType.simpleString()
    out_schema = f"doc_a {id_type}, doc_b {id_type}, containment double"

    def _block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "doc_a": pd.Series([], dtype=pdf["doc"].dtype),
                "doc_b": pd.Series([], dtype=pdf["doc"].dtype),
                "containment": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) == 0:
            return empty
        same = bool(pdf["bi"].iat[0] == pdf["bj"].iat[0])
        lp = pdf[pdf["side"] == "L"]
        rp = lp if same else pdf[pdf["side"] == "R"]
        if len(lp) == 0 or len(rp) == 0:
            return empty
        ml = np.array(lp["bm"].tolist(), dtype=np.int64).view(np.uint64)
        mr = ml if same else np.array(
            rp["bm"].tolist(), dtype=np.int64
        ).view(np.uint64)
        nl, nr = len(lp), len(rp)
        pop = _pop16_lut()
        acc = np.zeros((nl, nr), dtype=np.int64)
        for w in range(ml.shape[1]):
            band = ml[:, w][:, None] & mr[None, :, w]
            acc += pop[band.view(np.uint16).reshape(nl, nr, 4)].sum(
                axis=2, dtype=np.int64
            )
        ids_a = lp["doc"].to_numpy()
        ids_b = rp["doc"].to_numpy()
        ma = lp["m"].to_numpy()
        mb = rp["m"].to_numpy()
        neq = ids_a[:, None] != ids_b[None, :]
        # Ordered (contained, container). Same-block matrices are
        # square over the full block, so mask AB alone already yields
        # each ordered pair exactly once (cell (j,i) covers B-in-A);
        # cross-block pairs live in exactly one (bi < bj) task and
        # need both direction masks.
        out_a, out_b, out_c = [], [], []
        ia, ib = np.nonzero((den * acc >= num * ma[:, None]) & neq)
        out_a.append(ids_a[ia])
        out_b.append(ids_b[ib])
        out_c.append(acc[ia, ib].astype("float64") / ma[ia])
        if not same:
            ia, ib = np.nonzero((den * acc >= num * mb[None, :]) & neq)
            out_a.append(ids_b[ib])
            out_b.append(ids_a[ia])
            out_c.append(acc[ia, ib].astype("float64") / mb[ib])
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "containment": np.concatenate(out_c),
            }
        )

    return staged.groupBy("bi", "bj").applyInPandas(_block, out_schema)


def containment_split_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    cold_work_per_token: int = 512,
) -> dict:
    """Measurement probe for the :func:`containment_pairs` hot/cold
    split: the cost-based ``df_cap`` the operator would choose on this
    corpus, how many shingles go HOT at that cap, and the corpus df
    shape (n_shingles, n_tokens, max_df). Used by the scale smoke to
    demonstrate the df_cap CROSSOVER on a saturated-vocabulary
    (growing-df) slice — at 10x corpus with fixed vocabulary, dfs grow
    10x and the Zipf head must actually cross into the hot path."""
    tok = (
        spread(docs)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("tk"))
        .select("doc", F.explode(shingles_tokens(F.col("tk"), n)).alias("s"))
    )
    dfreq = materialize(tok.groupBy("s").agg(F.count("*").alias("df")))
    hist = _df_histogram(dfreq)
    cap, hot_frac = _cap_and_hot_fraction(hist, cold_work_per_token)
    n_shingles = sum(r["cnt"] for r in hist)
    row = dfreq.agg(
        F.sum("df").alias("n_tokens"),
        F.max("df").alias("max_df"),
        F.sum((F.col("df") > cap).cast("long")).alias("n_hot"),
    ).collect()[0]
    return {
        "df_cap": cap,
        "n_hot": int(row["n_hot"]),
        "n_shingles": int(n_shingles),
        "n_tokens": int(row["n_tokens"]),
        "max_df": int(row["max_df"]),
        "hot_token_fraction": round(hot_frac, 4),
        "strategy": (
            "dense"
            if 0 < n_shingles <= DENSE_VOCAB_MAX
            and hot_frac > DENSE_HOT_FRACTION
            else "index"
        ),
    }


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold_permil: int = 800,
    df_cap: int | None = None,
    cold_work_per_token: int = 512,
    strategy: str = "auto",
) -> DataFrame:
    """Directional n-gram CONTAINMENT pairs: C(A->B) = |A∩B| / |A| >=
    threshold — the asymmetric cousin of :func:`jaccard_pairs` that
    Jaccard misses by construction: a paragraph quoted inside a much
    larger document has high containment but tiny Jaccard (union is
    dominated by the big doc). This is the quote / excerpt / partial-
    copy detector of a corpus pipeline.

    The pair is ordered — (contained, container), both directions
    emitted when both exceed the bar. The threshold applies as an
    ALL-INTEGER comparison (1000 * n_inter >= threshold_permil * |A|)
    so the kept pair set is engine-exact; the reported score is one
    final IEEE division.

    Scale design — LOSSLESS frequency-split exact join. The naive
    shingle-keyed self-join is the cheapest way to count ALL pair
    intersections (each co-occurrence row IS one intersection unit, so
    total join work = sum over shingles of df^2), but a single hot
    stop-shingle with df=k contributes k^2 rows — the corpus-scale
    killer. Split the inverted index at ``df_cap``:

    - COLD shingles (df <= df_cap): the naive join, now with bounded
      fan-out (<= df_cap per shingle, total <= df_cap * |tokens|).
      One groupBy computes each pair's exact cold-intersection count,
      then a lossless bound prunes before anything else moves:
      overlap <= cnt_cold + min(|hot(A)|, |hot(B)|).
    - HOT shingles (df > df_cap): by construction a SMALL vocabulary
      (at most |tokens| / df_cap values — with df_cap a fraction of
      the corpus doc count this bound is corpus-size-independent).
      Each doc carries its hot-shingle set as a FIXED-WIDTH BITMAP
      (ceil(n_hot/64) longs); surviving candidates get their exact
      hot intersection as popcount(bitmap_a AND bitmap_b) in one
      Arrow-batched numpy kernel (mapInPandas — HOF folds never enter
      codegen, and 64 set-memberships per AND-word beat any per-
      element intersect). The quadratic co-occurrence enumeration
      never happens for hot shingles.
    - Pairs sharing NO cold shingle (possible only when >= t*|A| of A
      is hot, i.e. stopword-dominated docs) are recovered by a prefix
      filter WITHIN the hot ids (pigeonhole over hot(A) in global
      ascending-df order, positional + size pruning — the
      :func:`prefix_jaccard_pairs` machinery restricted to the tiny
      hot vocabulary). On corpora with no hot shingles this path is
      skipped entirely (one metadata-sized count decides).

    Every filter is an upper-bound prune or a pigeonhole-complete
    candidate rule, so the result is bit-identical to the naive join
    (the DuckDB oracle) at any ``df_cap``.

    ``df_cap=None`` (default) picks the split COST-BASED: a
    log2-bucketed df histogram (<= 64 rows collected) yields each
    band's exact cold-join work sum(df^2); the cap is the largest df
    band whose cumulative work fits ``cold_work_per_token * n_tokens``
    — i.e. cold work is held LINEAR in corpus size by construction
    (an average fan-out of <=512 co-occurrences per token occurrence
    stays comfortably inside one shuffle, while a genuine Zipf head —
    a stop-shingle with df a few percent of the corpus — blows the
    budget by orders of magnitude and is split out).
    On a Zipfian (Heaps-law vocabulary) corpus the head goes hot and
    the bitmap/prefix path takes over; when the vocabulary itself is
    TINY relative to the corpus (saturated regime: every shingle's df
    ~ corpus size), candidate generation of ANY index flavor
    degenerates toward all-pairs — there ``strategy='auto'`` routes to
    :func:`_containment_dense` instead (blocked all-pairs popcount
    over full-vocabulary bitmaps, no pair shuffle). The dense gate is
    two THRESHOLDS read off the same histogram, not a full cost
    model: the whole vocabulary must fit the bitmap kernel
    (``n_shingles <= DENSE_VOCAB_MAX`` = 64 words/doc) AND the hot
    token-mass fraction at the cost-based cap must exceed
    ``DENSE_HOT_FRACTION`` (saturation signal — a Heaps-law corpus
    never trips it). Every strategy: same exact result
    (``strategy='index'``/``'dense'`` force a path; an explicit
    ``df_cap`` under ``'auto'`` implies the index path with your cap —
    the histogram is then skipped entirely, nothing is collected).
    """
    import pandas as pd

    num, den = threshold_permil, 1000

    tok = (
        spread(docs)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("tk"))
        .select("doc", F.explode(shingles_tokens(F.col("tk"), n)).alias("s"))
    )
    # Vocabulary-sized (distinct shingles): checkpoint once — it feeds
    # the cost histogram AND the hot split, and left lazy each consumer
    # re-runs the whole tokenize/explode/count pipeline.
    dfreq = materialize(tok.groupBy("s").agg(F.count("*").alias("df")))
    if strategy not in ("auto", "index", "dense"):
        raise ValueError(f"unknown containment strategy {strategy!r}")
    if strategy != "index" and (strategy == "dense" or df_cap is None):
        # An explicit df_cap under 'auto' pins the index path with
        # that cap, so the histogram would be collected-then-unused —
        # skip it (only 'dense' and cap-less 'auto' need it).
        hist = _df_histogram(dfreq)
        n_shingles = sum(r["cnt"] for r in hist)
        cap, hot_frac = _cap_and_hot_fraction(hist, cold_work_per_token)
        # Saturation gate — two thresholds, not a cost model: the
        # vocabulary fits a <=64-word bitmap AND most token mass
        # stays hot even after the linear-work cold budget — the
        # regime where rarity-based candidate generation degenerates
        # to all-pairs-as-shuffled-join-rows (see _containment_dense).
        # A Heaps-law corpus (vocab grows with size, hot_frac ~ Zipf
        # head only) always keeps the index path.
        if strategy == "dense" or (
            df_cap is None
            and 0 < n_shingles <= DENSE_VOCAB_MAX
            and hot_frac > DENSE_HOT_FRACTION
        ):
            n_docs = docs.count()
            if strategy == "dense" or n_docs > 1:
                return _containment_dense(
                    tok, dfreq, num, den, n_shingles, max(n_docs, 1)
                )
        if df_cap is None:
            df_cap = cap
    elif df_cap is None:
        df_cap = _cost_based_df_cap(dfreq, cold_work_per_token)
    # Hot vocabulary: tiny by construction, so it broadcasts; rank
    # gives the ascending-rarity order the hot-prefix path needs. Its
    # count rides the checkpoint's own materialization job (r11).
    hot_vocab, hv = materialize(
        dfreq.filter(F.col("df") > df_cap)
        .withColumn("hid", F.row_number().over(Window.orderBy("df", "s")).cast("long"))
        .select("s", "hid"),
        F.count(F.lit(1)).alias("n"),
    )
    n_hot = int(hv["n"])
    width = (n_hot + 63) // 64  # bitmap words per doc

    # r11 probe note: repartitioning tok_cold on the shingle key to
    # share one exchange between the self-join's sides was measured
    # and REJECTED (median 3.5 s -> 7.7 s, per-run stage time 20 s ->
    # 102 s): hash(s) CO-LOCATES each shingle's quadratic pair
    # fan-out on one task — and a user repartition is exempt from AQE
    # skew splitting — while the join's stream side is doc-partitioned
    # (spread), which distributes enumeration work evenly by
    # construction. At scale the planner's own hash(s) exchanges keep
    # AQE skew handling, and df_cap bounds any single key's fan-out.
    tok_cold = tok.join(F.broadcast(hot_vocab), "s", "left_anti")
    sizes = tok.groupBy("doc").agg(F.count("*").alias("m"))
    if n_hot:
        # Per-doc sorted hot-id list (drives the hot-prefix candidates)
        # and its bitmap twin (drives the exact popcount verify).
        bitmap = F.expr(
            f"transform(sequence(0, {width - 1}), w -> "
            f"aggregate(filter(hot, h -> CAST((h - 1) DIV 64 AS INT) = w), "
            f"CAST(0 AS BIGINT), "
            f"(acc, h) -> acc | shiftleft(CAST(1 AS BIGINT), CAST((h - 1) % 64 AS INT))))"
        )
        hotagg = (
            tok.join(F.broadcast(hot_vocab), "s")
            .groupBy("doc")
            .agg(F.sort_array(F.collect_list("hid")).alias("hot"))
        )
        docinfo = materialize(
            sizes.join(hotagg, "doc", "left")
            .select(
                "doc",
                "m",
                F.coalesce("hot", F.array().cast("array<long>")).alias("hot"),
            )
            .withColumn("nh", F.size("hot").cast("long"))
            .withColumn("hbm", bitmap)
        )
    else:
        docinfo = materialize(sizes.select(
            "doc",
            "m",
            F.array().cast("array<long>").alias("hot"),
            F.lit(0).cast("long").alias("nh"),
            F.array().cast("array<long>").alias("hbm"),
        ))

    # Cold path: bounded naive join over bare (doc, s) rows — the
    # narrowest possible shuffle payload; per-doc stats attach AFTER
    # the groupBy, onto the (already df_cap^2-bounded) pair table,
    # where AQE broadcasts the checkpointed doc-stats side. Then the
    # lossless bound prunes before anything wide moves:
    # overlap <= cnt_cold + min(|hot(A)|, |hot(B)|).
    a = tok_cold.alias("a")
    b = tok_cold.alias("b")
    inter_cold = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") != F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("cnt_cold"))
    )
    stats_a = docinfo.select(
        F.col("doc").alias("doc_a"), F.col("m").alias("ma"), F.col("nh").alias("nh_a")
    )
    if n_hot:
        # Both-sided lossless bound: overlap <= cnt_cold +
        # min(nh_a, nh_b) — the shared-hot count can't exceed EITHER
        # side's hot-set size. The second stats join rides the same
        # broadcast docinfo the bitmap verify uses; pairs it rejects
        # would otherwise carry two bitmap payloads through the verify
        # joins. (A pair pruned here can still surface via the
        # hot-prefix path with cnt_cold=0 — the popcount verify then
        # rejects it, since popcount <= min(nh_a, nh_b).)
        stats_b = docinfo.select(
            F.col("doc").alias("doc_b"), F.col("nh").alias("nh_b")
        )
        pairs_cold = (
            inter_cold.join(stats_a, "doc_a")
            .join(stats_b, "doc_b")
            .filter(
                den * (F.col("cnt_cold") + F.least("nh_a", "nh_b"))
                >= num * F.col("ma")
            )
            .select("doc_a", "doc_b", "cnt_cold", "ma")
        )
    else:
        # No hot vocabulary: nh is 0 everywhere, the bound IS the exact
        # final predicate — one stats join suffices.
        pairs_cold = (
            inter_cold.join(stats_a, "doc_a")
            .filter(den * (F.col("cnt_cold") + F.col("nh_a")) >= num * F.col("ma"))
            .select("doc_a", "doc_b", "cnt_cold", "ma")
        )

    if n_hot:
        # Hot-only path: pairs whose entire qualifying overlap could sit
        # in hot shingles. Contained side A must have nh >= ceil(t*m)
        # (<=> den*nh >= num*m); its hot-prefix (rarest
        # nh - ceil(t*m) + 1 hot ids) must contain the hot-order-minimal
        # shared shingle. Positional filter: reachable shared-hot count
        # min(nh_a - pa, nh_b - pb) >= ceil(t*ma).
        ap = (
            docinfo.filter(den * F.col("nh") >= num * F.col("m"))
            .withColumn(
                "hpref",
                F.expr(f"slice(hot, 1, nh - ((({num} * m) + {den} - 1) DIV {den}) + 1)"),
            )
            .select("doc", "m", "nh", F.posexplode("hpref").alias("p0", "hid"))
            .select(
                F.col("doc").alias("doc_a"),
                F.col("m").alias("ma"),
                "hid",
                (F.col("nh") - F.col("p0")).alias("rem_a"),
            )
        )
        bp = (
            docinfo.filter(F.col("nh") > 0)
            .select("doc", "m", "nh", F.posexplode("hot").alias("p0", "hid"))
            .select(
                F.col("doc").alias("doc_b"),
                F.col("m").alias("mb"),
                "hid",
                (F.col("nh") - F.col("p0")).alias("rem_b"),
            )
        )
        alpha = f"((({num} * ma) + {den} - 1) DIV {den})"
        pairs_hot = (
            ap.join(
                bp,
                (ap["hid"] == bp["hid"])
                & (F.col("doc_a") != F.col("doc_b"))
                & (den * F.col("mb") >= num * F.col("ma"))
                & F.expr(f"least(rem_a, rem_b) >= {alpha}"),
            )
            .select("doc_a", "doc_b", "ma")
            .distinct()
            # pairs already found via a shared cold shingle carry their
            # exact cold count in pairs_cold; keep only the truly
            # cold-disjoint ones here (their cold count is exactly 0 OR
            # they were ub-pruned there — and an understated count can
            # only reject pairs the lossless prune already proved false).
            .join(pairs_cold.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
            .withColumn("cnt_cold", F.lit(0).cast("long"))
            .select("doc_a", "doc_b", "cnt_cold", "ma")
        )
        cand = pairs_cold.unionByName(pairs_hot)
    else:
        cand = pairs_cold

    if not n_hot:
        # No hot vocabulary: cnt_cold IS the exact overlap.
        return cand.filter(den * F.col("cnt_cold") >= num * F.col("ma")).select(
            "doc_a",
            "doc_b",
            (F.col("cnt_cold").cast("double") / F.col("ma")).alias("containment"),
        )

    ha = docinfo.select(F.col("doc").alias("doc_a"), F.col("hbm").alias("hbm_a"))
    hb = docinfo.select(F.col("doc").alias("doc_b"), F.col("hbm").alias("hbm_b"))
    staged = cand.join(ha, "doc_a").join(hb, "doc_b")
    id_type = staged.schema["doc_a"].dataType.simpleString()
    out_schema = (
        f"doc_a {id_type}, doc_b {id_type}, containment double"
    )

    def _verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"doc_a": pdf["doc_a"], "doc_b": pdf["doc_b"],
                     "containment": pd.Series([], dtype="float64")}
                )
                continue
            A = np.array(pdf["hbm_a"].tolist(), dtype=np.int64).view(np.uint64)
            B = np.array(pdf["hbm_b"].tolist(), dtype=np.int64).view(np.uint64)
            words = (A & B).view(np.uint8)
            pc = np.unpackbits(words.reshape(len(pdf), -1), axis=1).sum(axis=1)
            n_inter = pdf["cnt_cold"].to_numpy() + pc
            ma = pdf["ma"].to_numpy()
            keep = den * n_inter >= num * ma
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"].to_numpy()[keep],
                    "doc_b": pdf["doc_b"].to_numpy()[keep],
                    # integer/float64 division matches the JVM double op
                    "containment": n_inter[keep].astype("float64") / ma[keep],
                }
            )

    return staged.mapInPandas(_verify, schema=out_schema)
