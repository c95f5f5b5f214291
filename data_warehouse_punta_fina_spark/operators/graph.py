"""Graph analytics over relational edge tables.

Connected components live in ``operators/dedup`` (dedup_clusters — the
min-label-propagation and star-contraction variants); this module holds
the rank-propagation family. The reference warehouse has no graph tier;
these extend the engine the same way a co-purchase / co-citation analysis
extends a star schema: edges come straight out of a fact-table self-join
(see ``behavior.basket_affinity``) and stay DataFrames throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround
from data_warehouse_punta_fina_spark.operators.materialize import materialize


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    directed: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank as pure DataFrame algebra — the classic
    iterative graph algorithm, expressed the way it actually runs at
    scale (Pregel-style rank propagation = one join + one aggregate per
    superstep), not as a driver-side loop over collected rows.

    Per iteration:  ``r'(v) = (1−d)/N + d · Σ_{u→v} r(u) / outdeg(u)``.
    Dangling nodes cannot occur in undirected mode (every node has an
    edge); in directed mode their rank mass is dropped (the standard
    simplified variant — document if you need the redistributing form).

    Scale & determinism:
    - per-node contributions ``r/outdeg`` are portable-round-6'd into
      DECIMAL BEFORE the per-destination sum — decimal sums are exact
      under any partitioning, so ranks are bit-identical across runs,
      engines, and cluster layouts (the same discipline as BM25 /
      surprisal); the outer affine step is fixed-order IEEE then
      round-6;
    - each superstep ends in a lazy ``materialize``: the iteration
      chain stays LINEAR (without it, iteration k's plan re-derives all
      k−1 predecessors per consumer — the lineage blowup measured on the
      chained NTILEs);
    - one shuffle per iteration (the groupBy on the destination), plus
      the static edge/degree tables built once and reused. Hot
      destinations (celebrity nodes) are ordinary aggregate skew — AQE
      splits them; no single-partition stage anywhere.

    Returns (node, rank) for every node. The oracle twin unrolls the
    same ``iterations`` as nested CTEs (the trained-IVF precedent).
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.unionByName(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
    e = materialize(e.distinct())
    nodes = materialize(
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    # out-degree folded into the node table ONCE (round-15): the r14 loop
    # re-joined ranks⋈deg every superstep AND recomputed the deg aggregate
    # from the edge list each time (deg was unmaterialized) — one join +
    # one aggregate fewer per iteration; dangling nodes (directed mode)
    # carry NULL _deg and contribute nothing, exactly as the inner join did
    deg = e.groupBy(F.col("_s").alias("node")).agg(F.count("*").alias("_deg"))
    nodes = materialize(nodes.join(deg, "node", "left"))
    n_nodes = nodes.agg(F.count("*").alias("_n"))
    base = F.lit(1.0 - damping) / F.col("_n").cast("double")

    ranks = materialize(
        nodes.crossJoin(F.broadcast(n_nodes))
        .select(
            "node",
            "_deg",
            pround(F.lit(1.0) / F.col("_n").cast("double"), 6, 12).alias("rank"),
        )
    )
    for _ in range(iterations):
        contrib = (
            ranks.filter(F.col("_deg").isNotNull())
            .join(e, F.col("node") == F.col("_s"))
            .select(
                F.col("_d").alias("node"),
                pround(
                    F.col("rank").cast("double") / F.col("_deg").cast("double"), 6, 12
                ).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = materialize(
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                "_deg",
                pround(
                    base
                    + F.lit(damping) * F.coalesce(F.col("_in").cast("double"), F.lit(0.0)),
                    6,
                    12,
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph — the cohesion metric that separates genuine
    communities (co-purchase cliques, citation clusters) from hub-spoke
    stars that degree alone can't distinguish.

    The scale-out shape is the classic degree-ordered orientation
    (Suri & Vassilvitskii 2011, "Counting Triangles and the Curse of the
    Last Reducer"): orient every undirected edge from its lower-
    (degree, id) endpoint to the higher, so each triangle is enumerated
    EXACTLY once as x→y, y→z, x→z — and, crucially, every node's
    out-degree is O(√m), which bounds the wedge fan-out that a naive
    join-on-shared-neighbor suffers on hub nodes (the "last reducer").
    Three joins on node ids, no all-pairs anywhere; hot nodes are
    ordinary join skew (AQE splits them).

    Input edges may be directed/duplicated/self-looping — they are
    symmetrized, de-duplicated and de-looped first. Output: one row per
    node, (node, degree, triangles, clustering) with
    ``clustering = 2·T / (deg·(deg−1))`` (portable round-6; NULL for
    degree < 2, where it is undefined).
    """
    und = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    deg = materialize(
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # orient low (degree, id) → high: rank compare via explicit lexicographic
    da = deg.select(F.col("node").alias("u"), F.col("degree").alias("_du"))
    db = deg.select(F.col("node").alias("v"), F.col("degree").alias("_dv"))
    lower_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(da, "u")
        .join(db, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        )
        # single consumer since round-15 (adj) — no checkpoint needed
    )
    # close the wedges by sorted-adjacency intersection (round-8 rewrite):
    # the previous shape materialized the full wedge set through
    # e1⋈e2-on-y and shuffled O(Σ out²) wedge ROWS into a second join on
    # (x, z). Building per-node sorted out-neighbor arrays instead — each
    # bounded O(√m) by the orientation — turns the closing step into a
    # per-EDGE array_intersect: out(x) ∩ out(y) is exactly the z-set of
    # triangles x<y<z whose lowest edge is (x, y), so every triangle is
    # still counted once. Wedge work becomes an in-task merge-intersect
    # of two sorted arrays (no wedge rows cross the network).
    # Round-15: the (x, y) edge rows come from EXPLODING the adjacency
    # (oriented ≡ explode(adj) by construction), which deletes the
    # oriented⋈adj-on-x join — one exchange fewer, identical rows
    # (interleaved A/B min-of-4: 2.26 s → 1.54 s on the closing stages).
    # A single-generator attribution pass (concat of structs + transform)
    # was probed and measured NEUTRAL vs the three union legs —
    # interpreted higher-order functions give back what the saved reads
    # gain — so the codegen-friendly union stays.
    adj = materialize(  # consumed by the explode + the y-join
        oriented.groupBy("x")
        .agg(F.sort_array(F.collect_list("y")).alias("nb"))
    )
    empty = F.slice(F.col("nb_x"), 1, 0)
    pairs = materialize(  # consumed by three attribution legs
        adj.select(F.col("x"), F.col("nb").alias("nb_x"), F.explode("nb").alias("y"))
        .join(
            adj.select(F.col("x").alias("y"), F.col("nb").alias("nb_y")),
            "y",
            "left",  # sink nodes have no out-list
        )
        .select(
            "x",
            "y",
            F.array_intersect(F.col("nb_x"), F.coalesce(F.col("nb_y"), empty)).alias(
                "_zs"
            ),
        )
        .filter(F.size("_zs") > 0)
    )
    tcnt = (
        pairs.select(F.col("x").alias("node"), F.size("_zs").cast("bigint").alias("_n"))
        .unionByName(
            pairs.select(F.col("y").alias("node"), F.size("_zs").cast("bigint").alias("_n"))
        )
        .unionByName(
            pairs.select(F.explode("_zs").alias("node"), F.lit(1).cast("bigint").alias("_n"))
        )
        .groupBy("node")
        .agg(F.sum("_n").alias("_t"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("_t"), F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                pround(
                    F.lit(2.0)
                    * F.coalesce(F.col("_t"), F.lit(0)).cast("double")
                    / (F.col("degree").cast("double") * (F.col("degree").cast("double") - F.lit(1.0))),
                    6,
                    12,
                ).cast("double"),
            ).alias("clustering"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 6,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove nodes
    whose CURRENT degree is < k until the survivor set is stable — the
    standard cohesion filter (a node in the k-core has k neighbors that
    each have k neighbors, recursively), stricter than raw degree and
    cheaper than triangle counting. Corpus-curation reading: the k-core
    of a near-duplicate graph is the boilerplate heart of a template
    family; the k-core of a co-purchase graph is the basket nucleus.

    Per peel round: one degree aggregate over the live edge multiset +
    one semi-join to drop edges touching removed nodes — both keyed on
    node ids, Pregel-shaped, no global structure. Each round ends in a
    lazy ``materialize`` (linear iteration chain, the pagerank
    discipline) and the loop exits early once a round removes nothing
    (an exact count, the dedup_clusters convergence pattern). Peeling
    removes ≥ 1 node per non-converged round, so ``max_iter`` bounds
    DEPTH, not correctness — on typical graphs the cascade dies in a few
    rounds; raise it for adversarial chain graphs (the oracle unrolls
    the same bound; converged extra rounds are no-ops on both engines,
    so early exit never desynchronizes them).

    Input may be directed/duplicated/self-looping (symmetrized, deduped,
    de-looped first). Output: (node, core_degree) for nodes IN the
    k-core, where core_degree is the node's degree within the core.
    """
    und = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    live = und
    # carry the live-edge count across rounds: each round then costs ONE
    # action (nxt.count) instead of two — the sf0.5 scaling run flagged
    # kcore as the one super-linear query, and the per-round job floor
    # is half its residual-round cost
    live_count = None
    for _ in range(max_iter):
        deg = (
            live.select(F.col("u").alias("node"))
            .unionByName(live.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("_deg"))
        )
        keep = materialize(deg.filter(F.col("_deg") >= k).select("node"))
        nxt = materialize(
            live.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        nxt_count = nxt.count()
        if live_count is None:
            live_count = live.count()
        if nxt_count == live_count:
            live = nxt
            break
        live = nxt
        live_count = nxt_count
    return (
        live.select(F.col("u").alias("node"))
        .unionByName(live.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


def degree_assortativity(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over all edge stubs — positive on
    hub-to-hub networks, negative on hub-and-spoke. One row out:
    (n_nodes, n_edges, mean_degree, assortativity).

    Scale shape: one degree aggregate, two broadcast-sized joins to tag
    each edge with its endpoint degrees, then ONE aggregate of exact
    DECIMAL(38,0) sufficient statistics over the symmetrized 2m stubs
    (the grouped_ols discipline — sf100 stub counts cannot overflow).
    The closing Pearson formula is fixed-order IEEE, round-6. NULL when
    degrees are constant (0/0, e.g. a perfect matching or a cycle).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("_dv"))
    tagged = e.join(du, "u").join(dv, "v")
    # symmetrize: every undirected edge contributes both stub orders
    stubs = tagged.select(F.col("_du").alias("x"), F.col("_dv").alias("y")).unionByName(
        tagged.select(F.col("_dv").alias("x"), F.col("_du").alias("y"))
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = stubs.agg(
        F.count("*").alias("_n"),
        F.sum(d38("x")).alias("_sx"),
        F.sum(d38("y")).alias("_sy"),
        F.sum(d38("x") * F.col("y")).alias("_sxy"),
        F.sum(d38("x") * F.col("x")).alias("_sxx"),
        F.sum(d38("y") * F.col("y")).alias("_syy"),
    )
    counts = e.agg(
        F.count("*").alias("n_edges"),
    ).crossJoin(F.broadcast(deg.agg(F.count("*").alias("n_nodes"))))
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cov = n * F.col("_sxy").cast("double") - sx * sy
    vx = n * F.col("_sxx").cast("double") - sx * sx
    vy = n * F.col("_syy").cast("double") - sy * sy
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    return counts.crossJoin(F.broadcast(s)).select(
        "n_nodes",
        "n_edges",
        r6(sx / n).alias("mean_degree"),
        F.when(
            (vx > 0) & (vy > 0), r6(cov / (F.sqrt(vx) * F.sqrt(vy)))
        ).alias("assortativity"),
    )
