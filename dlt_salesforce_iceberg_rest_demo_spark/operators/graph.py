"""Graph operators over edge lists derived from the relational model.

The reference loads FK relationships as plain columns
(`/root/reference/data/salesforce_medium_scale.recipe.yml:78-79` —
Contact.AccountId etc.) and leaves graph analytics to consumers; here
the FK graph becomes a first-class edge list and the iterative
algorithms run as DataFrame loops (joins + aggregates per round), the
same message/update shape as `dedup.connected_components`.

Determinism: PageRank is computed in INTEGER micro-units with integer
division (``rank DIV degree``), so partial-aggregation order cannot
perturb results and a SQL oracle can reproduce the exact numbers by
unrolling the iterations — float PageRank sums would differ in the
last ulp between engines.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize, release


def co_occurrence_pairs(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Distinct within-group item pairs (a < b) — the edge derivation
    for co-occurrence graphs (items sharing an order/basket/document).
    One groupBy collects each group's sorted item set (map-side
    partial aggregation collapses duplicate rows first), then pairs
    explode group-locally and a final distinct dedupes across groups.
    vs the naive self-join on the group key: the join shuffles the
    fact table twice and materializes every duplicate co-occurrence
    row before its distinct; here the only wide rows are the already-
    deduped per-group pairs (measured 1.6x at sf0.1, and the gap grows
    with group size since both produce the same |group|^2 pairs but
    the join adds the second fact shuffle). Groups here are bounded
    (order line counts); for unbounded groups cap or sample the set
    before pairing — |group|^2 blowup is inherent to co-occurrence,
    not to the derivation."""
    return (
        df.groupBy(group_col)
        .agg(F.sort_array(F.collect_set(item_col)).alias("_items"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_items, (x, i) -> "
                    "transform(slice(_items, i + 2, size(_items)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("_p")
        )
        .select("_p.a", "_p.b")
        .distinct()
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the MapReduce-era standard: Suri & Vassilvitskii, WWW'11).

    Orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one; each node's out-degree is then O(sqrt(m)), so
    the wedge-enumeration self-join survives skew — orienting by id
    alone would let one celebrity node of degree d emit d^2 wedge rows.
    Three joins total: two to build wedges, one semi-join to close
    them. All-integer, so the result is exactly reproducible and a SQL
    oracle (3-way self-join on the id-normalized edge list) matches
    bit-for-bit regardless of orientation strategy.

    Returns (node, n_triangles) for every node in >= 1 triangle.
    """
    # Materialize the (usually join-derived) edge list once: e feeds
    # the degree pass AND the orientation join, and `oriented` is read
    # three times (two wedge sides + the closing semi-join) — without
    # checkpoints the upstream derivation re-executes per consumer
    # (observed 4x the scan work on the co-occurrence graph at sf0.1).
    e = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # (degree, id) is a total order over nodes; carry it as a struct key.
    keyed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    oriented = materialize(keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("y"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("ky"),
    ))
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.x") == F.col("o2.x")) & (F.col("o1.ky") < F.col("o2.ky")),
    ).select(
        F.col("o1.x").alias("u"), F.col("o1.y").alias("v"), F.col("o2.y").alias("w")
    )
    # A wedge (u; v, w) closes iff the oriented edge v->w exists (v is
    # below w in the (deg, id) order by construction of the wedge join).
    tri = wedges.join(
        oriented.select(F.col("x").alias("v"), F.col("y").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    return (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    unit: int = 1_000_000,
) -> DataFrame:
    """PageRank (damping 0.85) over the symmetrized edge list, in
    integer micro-units.

    Per round: one join of ranks onto edges (contribution =
    ``rank DIV degree``) and one groupBy on the destination — the
    standard message-passing shuffle pair. State per round is (node,
    rank) longs only; with the graph symmetrized every node has both
    in- and out-edges, so no dangling-mass handling is needed and the
    output covers every node. ``iterations`` is fixed (not
    convergence-tested) so a SQL oracle can unroll the exact same
    rounds.

    Update rule (all BIGINT ops, both engines identical):
    ``rank' = 0.15*unit + (85 * SUM(rank_u DIV deg_u)) DIV 100``.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # Materialize the (usually join-derived) edge list ONCE: without
    # this every iteration's lazy plan re-runs the upstream joins -
    # 3 iterations re-scanned orders x lineitem 3x before the fix.
    sym = materialize(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    deg = materialize(sym.groupBy("u").agg(F.count("*").alias("d")))
    ranks = deg.select(
        F.col("u").alias("node"), F.lit(unit).cast("long").alias("rank")
    )
    base = (unit * 15) // 100
    # Round-11 probe note: attaching d to the edge list once (symd =
    # sym JOIN deg, checkpointed) to drop the per-round contribution
    # join was measured and REJECTED — jobs/run 17.7 -> 22 (the build
    # join's AQE stages cost more than the three node-scale contrib
    # joins it removes at iterations=3), wall flat; and at scale it
    # trades 3 node-scale joins for 1 extra edge-scale join, a loss
    # for any m >> n graph at this iteration count.
    for _ in range(iterations):
        contrib = ranks.join(deg.withColumnRenamed("u", "node"), "node").select(
            "node", F.expr("rank DIV d").alias("c")
        )
        msgs = sym.join(contrib.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("node"), "c"
        )
        ranks = msgs.groupBy("node").agg(
            (F.lit(base) + F.expr("(85 * sum(c)) DIV 100")).cast("long").alias("rank")
        )
    return ranks


def bellman_ford(
    edges: DataFrame,
    sources: list[int],
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 3,
) -> DataFrame:
    """Bounded-hop single-source(s) shortest paths: ``iterations``
    Bellman-Ford relaxation rounds, each one join (frontier onto
    edges) + one min-aggregate — the standard message-passing pair,
    same shape as :func:`pagerank_int`. Integer weights, so distances
    are exact and a SQL oracle can unroll the identical rounds.

    State per round is (node, dist) longs; materializing each round
    breaks the growing lineage (without it round k re-executes rounds
    1..k-1), and the superseded round's blocks are released at once.

    Returns (node, dist) for every node reachable in <= iterations
    hops. Directed: pass a symmetrized edge list for undirected
    semantics.
    """
    e = materialize(edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(weight).cast("long").alias("w"),
    ))
    dist = e.sparkSession.createDataFrame(
        pa.table({"node": [int(s) for s in sources], "dist": [0] * len(sources)}),
        "node long, dist long",
    )
    for _ in range(iterations):
        relax = dist.join(e, dist["node"] == e["u"]).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        new = materialize(
            dist.unionAll(relax).groupBy("node").agg(F.min("dist").alias("dist"))
        )
        release(dist)
        dist = new
    return dist


def common_neighbor_scores(
    edges: DataFrame,
    node_col: str = "node",
    neigh_col: str = "neigh",
    max_degree: int = 20,
    topk: int = 50,
) -> DataFrame:
    """Link prediction by weighted common neighbors over a bipartite
    edge list (node, neigh): score(u, v) = sum over shared neighbors p
    of ``1_000_000 DIV degree(p)`` — the exact-integer surrogate for
    Adamic-Adar's 1/log(deg) (engine ``ln`` differs in the last ulp;
    rarity weighting is the signal either way: sharing a rare neighbor
    says far more than sharing a hub).

    Scale shape: the pair generation self-joins postings per neighbor,
    so fan-out is sum(deg^2) — the ``max_degree`` cap drops hub
    neighbors BEFORE the join (standard in link prediction: a hub's
    weight is ~zero but its C(deg,2) pair blowup is the whole cost;
    same quadratic the stopword cap kills in
    `text.sparse_cosine_pairs`). Output is the deterministic top-k by
    (score DESC, u, v) — ties at the boundary break on the pair key.

    Returns (u, v, score, n_common) with u < v.
    """
    deg = edges.groupBy(neigh_col).agg(F.count("*").cast("bigint").alias("d"))
    w = edges.join(deg.filter(F.col("d") <= max_degree), neigh_col).select(
        F.col(node_col).alias("u0"),
        F.col(neigh_col).alias("p"),
        F.expr("1000000 DIV d").alias("wt"),
    )
    a = w.select(F.col("u0").alias("u"), "p", "wt")
    b = w.select(F.col("u0").alias("v"), "p")
    return (
        a.join(b, "p")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.sum("wt").cast("bigint").alias("score"),
            F.count("*").cast("bigint").alias("n_common"),
        )
        .orderBy(F.col("score").desc(), "u", "v")
        .limit(topk)
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove
    nodes with degree < k (undirected; each round recomputes degrees
    over the surviving subgraph) until a fixed point — the standard
    dense-substructure filter (community cores, spam/bot rings,
    collaboration backbones) and the cheapest of the cohesion mining
    family (k-truss/clique are strictly costlier).

    Execution is an INCREMENTAL-DEGREE peel (the distributed analog of
    Matula-Beck bucket peeling): the symmetrized edge list materializes
    ONCE; each round finds the nodes now below ``k``, decrements their
    neighbors' degrees via one broadcast semi-join against the (tiny,
    node-domain) removed set, and rewrites only the DEGREE table —
    never the edge list. vs the recompute-peel (re-aggregate degrees
    over a re-materialized shrinking edge list each round): per-round
    cost drops from O(|edges|) shuffle+checkpoint to O(|edges incident
    to removed|) + an O(|nodes|) degree-table update (measured 1.3x at
    sf0.1 with 5 rounds; the gap grows with rounds and edge volume).
    The edge scan feeding the decrement join reads the round-0
    checkpoint; at extreme scale with MANY rounds, compact it when the
    removed mass dominates (the `removed_frac` rebuild below). Peeling
    converges to the SAME fixed point regardless of removal order (the
    k-core is unique), so the result is deterministic even though the
    round count may vary.

    Returns the surviving nodes with their core degrees
    (node, degree) — degree >= k for every row (enforced by a final
    filter, so it holds even if ``max_iter`` is exhausted mid-peel; at
    the fixed point the filter is a no-op). When ``max_iter`` IS
    exhausted, the result is a SUPERSET of the true k-core: every
    returned node had degree >= k in the last peeled subgraph, but
    further rounds could still remove some. Raise ``max_iter`` for an
    adversarially deep peel (a path graph peels one layer per round).
    """
    # undirected: symmetrize once, dedupe parallel edges, drop loops
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    e = materialize(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    # ONE job per round (round-11; was two — r10 folded the `bad`
    # materialize+count into the rewrite, r11 folds the remaining
    # count into the rewrite's OWN checkpoint job via observed
    # metrics). The below-k row count of the new degree table comes
    # out of the same job, which also moves the fixed-point test one
    # round EARLIER: the loop stops before paying a rewrite whose
    # input has no below-k rows, so a converged input (including an
    # already-k-core graph) does zero rewrite rounds — the r10 shape
    # paid one full anti-join+checkpoint pass just to observe the
    # count didn't change.
    deg, vals = materialize(
        e.groupBy("u").agg(F.count("*").alias("d")),
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("d") < k).cast("long")).alias("nbad"),
    )
    n_nodes = int(vals["n"])
    n_bad = int(vals["nbad"] or 0)
    n_alive = n_nodes
    removed_total = 0
    for _ in range(max_iter):
        if n_bad == 0:
            break  # fixed point: no node below k, nothing to peel
        bad = deg.filter(F.col("d") < k).select("u")
        # Neighbors of this round's removed nodes lose one degree per
        # incident edge. `bad` is node-domain (always << edges); AQE
        # sizes its (shuffled) side at runtime and broadcasts when it
        # fits (no hard hint — a worst-case round can remove most of a
        # huge node set, where a forced broadcast would OOM the
        # driver). Nodes being removed this round fall out of the
        # degree table entirely (left_anti) first.
        dec = (
            e.join(bad, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.count("*").alias("ddec"))
        )
        new_deg, vals = materialize(
            deg.join(bad, "u", "left_anti")
            .join(dec, "u", "left")
            .select(
                "u", (F.col("d") - F.coalesce("ddec", F.lit(0))).alias("d")
            ),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("d") < k).cast("long")).alias("nbad"),
        )
        n_new = int(vals["n"])
        n_bad = int(vals["nbad"] or 0)
        removed_total += n_alive - n_new
        n_alive = n_new
        release(deg)
        deg = new_deg
        # Compact the (never-shrinking) edge checkpoint once removal
        # dominates, so late-round decrement scans stay linear in the
        # SURVIVING subgraph — the many-round / extreme-scale guard.
        # Skipped when this round hit the fixed point (e is only read
        # by the next round's decrement join).
        if n_bad and removed_total * 2 > n_nodes:
            alive = deg.select("u")
            compacted = materialize(
                e.join(alive, "u")
                .join(alive.select(F.col("u").alias("v")), "v")
                .select("u", "v")
            )
            release(e)
            e = compacted
            n_nodes -= removed_total
            removed_total = 0
    # Contract guard: no-op at the fixed point (the loop exits when no
    # d < k rows remain), but on a max_iter-exhausted mid-peel exit it
    # keeps the "degree >= k for every row" promise (the result is
    # then a superset of the true k-core — see docstring).
    return deg.filter(F.col("d") >= k).select(
        F.col("u").alias("node"), F.col("d").cast("bigint").alias("degree")
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (a < b) edge list:
    the degree-oriented wedge enumeration of :func:`triangle_count`,
    but closing wedges with an INNER join so each triangle's three
    edges can be credited (canonical by id). Returns (a, b, support)
    for edges in >= 1 triangle."""
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    keyed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    oriented = materialize(keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("y"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("ky"),
    ))
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.x") == F.col("o2.x")) & (F.col("o1.ky") < F.col("o2.ky")),
    ).select(
        F.col("o1.x").alias("u"), F.col("o1.y").alias("v"), F.col("o2.y").alias("w")
    )
    tri = wedges.join(
        oriented.select(F.col("x").alias("v"), F.col("y").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    # One pass over the triangle list: explode each triangle into its
    # three edges. (A triple unionAll of projections re-executes the
    # wedge join per branch — ReuseExchange does not dedupe the join
    # itself — measured 3x the work of this explode.)
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("p"), F.col("v").alias("q")),
                F.struct(F.col("u").alias("p"), F.col("w").alias("q")),
                F.struct(F.col("v").alias("p"), F.col("w").alias("q")),
            )
        ).alias("pq")
    )
    sup = (
        sides.select(
            F.least("pq.p", "pq.q").alias("a"),
            F.greatest("pq.p", "pq.q").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    # support is consumed once by the caller before the next round's
    # checkpoint replaces `oriented`; materialize it so freeing the
    # orientation blocks is safe.
    sup = materialize(sup)
    release(oriented)
    return sup


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """k-truss decomposition: the maximal subgraph where EVERY edge
    participates in >= k-2 triangles (Cohen 2008) — the edge-cohesion
    mining step between `k_core` (degree cohesion; trusses are always
    nested inside cores) and clique finding (exponential): trusses
    isolate genuinely tight communities that degree alone cannot
    (a hub-and-spoke star has high core numbers but NO truss).

    Iterative peel, same frontier discipline as :func:`k_core` /
    :func:`bellman_ford`: each round recomputes per-edge triangle
    support via the degree-ORIENTED wedge join (O(m^1.5), skew-proof —
    the `triangle_count` machinery with an inner closing join so each
    triangle credits its three edges), drops edges below k-2, and
    materializes the shrinking edge list (superseded blocks released
    eagerly). The fixed point is unique, so the output is
    deterministic regardless of peel order or round count.

    Returns surviving canonical edges (a, b, support) with the
    support AT the fixed point (>= k-2 everywhere).
    """
    # The edge count rides the checkpoint's own materialization job
    # (observed metrics, round-11) — counting is free here and per
    # round below, so each peel round is exactly its rewrite job.
    e, vals = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    need = max(k - 2, 0)
    # k <= 2 => need = 0: every edge trivially satisfies support >= 0,
    # including triangle-free edges that _edge_support never emits (it
    # only lists edges in >= 1 triangle) — the peel's left_semi would
    # wrongly drop them, so short-circuit: the 2-truss is the whole graph.
    if need == 0:
        final_sup = _edge_support(e)
        return e.join(final_sup, ["a", "b"], "left").select(
            "a", "b", F.coalesce("support", F.lit(0)).cast("bigint").alias("support")
        )
    # One count per round (r10): the previous round's survivor count IS
    # this round's "before" size (e is exactly last round's `pruned`);
    # and that one count is folded into the prune checkpoint's own job
    # (r11) — no standalone count job remains in the loop.
    n_before = int(vals["n"])
    for _ in range(max_iter):
        sup = _edge_support(e)
        keep = sup.filter(F.col("support") >= need).select("a", "b")
        pruned, pvals = materialize(
            e.join(keep, ["a", "b"], "left_semi"),
            F.count(F.lit(1)).alias("n"),
        )
        n_after = int(pvals["n"])
        if n_after == n_before:
            # Converged: this round's support IS the fixed-point
            # support (the edge set didn't change), so reuse it instead
            # of a full extra _edge_support pass. Every survivor is in
            # `keep` (support >= need >= 1), so the inner join is total.
            return e.join(sup, ["a", "b"]).select(
                "a", "b", F.col("support").cast("bigint").alias("support")
            )
        release(e)
        e = pruned
        n_before = n_after
    # max_iter exhausted without a fixed point: report support over
    # the last edge set (edges may have fallen below k-2 triangles).
    final_sup = _edge_support(e)
    return e.join(final_sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).cast("bigint").alias("support")
    )
