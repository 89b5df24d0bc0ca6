"""Graph operators over relational edge lists.

The reference's production pipeline builds a domain-level hyperlink graph
and "aggregates" it with joins/group-bys (paper.md:150-155) — no traversal
engine. This module keeps that relational framing and adds the two
iterative algorithms a web-graph corpus pipeline actually runs:
connected components lives in :mod:`ascii_hydra_spark.operators.dedup`
(duplicate clustering); PageRank lives here (domain authority scoring for
crawl prioritization / quality weighting).

Iterative-algorithm discipline at 100 TB (same rules as
dedup.connected_components):

- the edge list is computed ONCE, persisted, and reused every iteration —
  the shuffle that builds it is paid once, and each iteration's only
  shuffle is the rank aggregation on dst;
- lineage is truncated (operators/lineage.py) every iteration, otherwise the
  plan doubles per round and the job dies on planning long before it dies
  on data;
- iteration count is FIXED (not convergence-polled per row), so the run is
  deterministic and schedulable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ascii_hydra_spark.operators.lineage import truncate_lineage


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns (node, rank) with ranks summing to ~1.0 (probability
    normalization). Dangling nodes (no out-edges) redistribute their mass
    uniformly each iteration, so total mass is conserved — the property
    tests pin both conservation and hand-computed small-graph values.

    Shuffle budget per iteration: ONE exchange (contributions grouped on
    dst). The rank-to-edge join co-partitions on src because `edges` is
    persisted already hash-partitioned from the previous join, and the
    dangling-mass term is a 1-row aggregate DataFrame cross-broadcast into
    the rank update — no `.collect()` in the loop body; the only per-round
    driver action is the lineage truncation (see lineage.py).
    """
    # persist the deduped edge list FIRST: nodes, out_deg and ew all
    # derive from it, and unpersisted each would re-run the caller's
    # whole edge pipeline (scan + expression analysis) — on an
    # expression-heavy source (e.g. the eTLD+1 suffix probe over WARC
    # extraction) those re-evaluations dominated the entire run.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:  # empty graph: empty ranks, not a driver-side ZeroDivisionError
        e.unpersist()
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank"))
    # out_deg is a loop invariant too: the dangling-mass anti-join
    # reads it EVERY iteration — keep it pinned, not just derivable.
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).persist()
    # edge list + out-degree: the loop invariant, paid once
    ew = e.join(out_deg, "src").persist()
    ew.count()
    e.unpersist()

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contribs = (
            ew.join(ranks, ew.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        # dangling mass: rank held by nodes with no out-edges. Kept IN-PLAN
        # as a 1-row aggregate cross-broadcast into the rank update — an
        # iteration issues no driver action besides the checkpoint itself.
        dangling = ranks.join(out_deg, ranks.node == out_deg.src, "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
        )
        ranks = truncate_lineage(
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("__dangling") / F.lit(float(n))
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
        )
    ew.unpersist()
    out_deg.unpersist()
    nodes.unpersist()
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected graph (1 row: n_triangles).

    Degree-oriented enumeration — the standard distributed formulation
    (each edge is oriented from its lower-(degree, id) endpoint to the
    higher one, so every triangle is generated exactly once, from its
    lowest-ranked vertex). The orientation is THE scale lever: a hub of
    degree d contributes wedges only among its higher-ranked neighbors,
    bounding per-vertex wedge fan-out by O(sqrt(m)) instead of O(d²) —
    an id-ordered orientation would put celebrity-node wedge explosion
    on single tasks. Shuffles: dedup + two degree joins + the wedge
    self-join + the closing semi-join, all on edge keys.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    )
    # orient toward the higher (degree, id) endpoint
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # the oriented edge list feeds BOTH wedge sides and the closing
    # semi-join — materialize once or the whole dedup+degree pipeline
    # executes three times (measured 11 s -> ~4 s at sf0.1)
    oriented = truncate_lineage(
        with_deg.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("da"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    o1 = oriented.select(
        F.col("a"), F.col("b").alias("x"), F.col("db").alias("dx")
    )
    o2 = oriented.select(
        F.col("a"), F.col("b").alias("y"), F.col("db").alias("dy")
    )
    wedges = o1.join(o2, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closed = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the deterministic variant): every node starts labeled
    with its own id; each round it adopts the MOST FREQUENT label among
    its neighbors PLUS ITSELF, ties broken by minimum label. Returns
    (node, label) after exactly ``iterations`` rounds — fixed-round
    like :func:`pagerank`/:func:`hits`, so the output is a pure
    function of the graph (no convergence nondeterminism; callers pick
    rounds ~ the community diameter). Self-inclusion is what makes the
    sync variant stable (without it a clique oscillates: every member
    simultaneously adopts someone else's label forever).

    Finds DENSITY communities where :func:`~ascii_hydra_spark.operators.
    dedup.connected_components` finds reachability: a bridge edge
    between two cliques keeps them separate communities but one
    component. Edges treat as undirected; isolated nodes never appear
    (no edges — union them back with their own id if needed).

    Shuffle budget per round: one label-to-edge equi-join (src) + one
    (node, label) count + one per-node min-struct pick — the
    (-count, label) struct min IS the mode-with-min-tie-break, no
    window, no collect. Per-round lineage truncation (`truncate_lineage`,
    same discipline as pagerank).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).filter(F.col("src") != F.col("dst")).distinct()
    und = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    # eager barrier: the first round reads `und` from two independent
    # AQE leaf stages (labels seed + messages) — lazily persisted they
    # race to recompute the dedup+union before the cache is populated
    und.count()
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(int(iterations)):
        msgs = und.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        counted = (
            msgs.union(labels.select("node", "label"))
            .groupBy("node", "label")
            .agg(F.count("*").alias("__c"))
        )
        new = (
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__c")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("__b")
            )
            .select("node", F.col("__b.l").alias("label"))
        )
        labels = truncate_lineage(new)
    und.unpersist()
    return labels


def top_ranked(ranks: DataFrame, k: int = 10) -> DataFrame:
    """Top-k nodes by rank, deterministic tie-break on node id; plans as
    TakeOrderedAndProject (per-partition heaps, k rows to the driver)."""
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.col("node"))
        .limit(k)
    )


def powerlaw_alpha(
    degrees: DataFrame, degree_col: str = "degree", d_min: int = 1
) -> DataFrame:
    """One row (n_nodes, alpha, sigma): continuous maximum-likelihood
    power-law exponent of a degree distribution (Clauset-Shalizi-Newman
    2009, eq. 3.1): alpha = 1 + n / sum(ln(d / (d_min - 0.5))) over
    degrees >= d_min, with standard error sigma = (alpha - 1) / sqrt(n).

    The scale-free test every large graph gets before algorithm choice
    (hub-safe strategies like the oriented triangle count matter exactly
    when alpha < 3). One filter + one aggregate over the (already
    node-cardinality) degree table; the only float accumulation is the
    per-partition partial sum of ln terms, rounded to 6 dp in the output.
    """
    shift = float(d_min) - 0.5
    filt = degrees.filter(F.col(degree_col) >= d_min)
    agg = filt.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.log(F.col(degree_col).cast("double") / F.lit(shift))).alias("__s"),
    )
    alpha = F.lit(1.0) + agg.n_nodes.cast("double") / F.col("__s")
    return agg.select(
        "n_nodes",
        F.round(alpha, 6).alias("alpha"),
        F.round(
            (alpha - F.lit(1.0)) / F.sqrt(F.col("n_nodes").cast("double")), 6
        ).alias("sigma"),
    )


def kcore_peel(
    edges: DataFrame, k: int = 3, rounds: int = 3,
    src_col: str = "src", dst_col: str = "dst",
) -> DataFrame:
    """Per peel round (round, n_nodes, n_edges): iterative k-core
    peeling — drop every node with degree < k, drop incident edges,
    repeat. The survivor curve is the standard "dense core vs periphery"
    summary (spam rings and power-user cliques survive peeling;
    long-tail nodes fall out in round 1). A FIXED number of rounds keeps
    the plan bounded and the oracle expressible as an unrolled CTE —
    the same design as `pagerank`'s fixed iterations; run more rounds
    for a fixpoint.

    Each round is one degree groupBy + two broadcast-or-shuffle semi
    joins on the survivor set, and each round's edge set is MATERIALIZED
    (`truncate_lineage`, same discipline as `pagerank` /
    `connected_components`) before the next round or its stats row reads
    it — so round r's join chain executes exactly once, not once per
    downstream consumer. Without this the per-round stats rows re-run
    rounds 1..r from scratch at the final union (O(rounds^2) recompute —
    a fixpoint-seeking rounds=10 on a 100 TB edge list would pay ~5x).
    At scale the edge list only ever shrinks, so the materialization cost
    is bounded by the first round's survivor set.

    The undirected dedup shuffles CANONICAL pairs (least, greatest) and
    doubles afterwards — half the shuffle volume of distinct-ing the
    doubled list, same result set (self-loops kept once, like the
    doubled-distinct would).
    """
    lo, hi = F.least(F.col(src_col), F.col(dst_col)), F.greatest(
        F.col(src_col), F.col(dst_col)
    )
    canon = edges.select(lo.alias("a"), hi.alias("b")).distinct()
    proper = canon.filter(F.col("a") != F.col("b"))
    und = proper.unionAll(
        proper.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).unionAll(canon.filter(F.col("a") == F.col("b")))
    stats = []
    # materialize the doubled edge list ONCE before the loop: round 1's
    # degree aggregate and its semi-join probe are independent AQE leaf
    # stages, and stage capture at sf0.1 showed the full upstream
    # join+distinct chain (98 MB of parquet input) executed TWICE before
    # this barrier; rounds only shrink the set, so the cost is bounded
    # by the first survivor set (same discipline as the per-round cur)
    cur = truncate_lineage(und)
    # The per-round stats row is derived from the NEXT degree table rather
    # than a separate full pass over cur (r10 optimization, guide §2.4):
    # deg(cur_r) has one row per distinct endpoint (n_nodes = COUNT(*)) and
    # sum(__d) == COUNT(*) of cur_r exactly (each doubled-edge row counted
    # once), so n_edges = sum(__d)/2 is the identical double-divide on the
    # identical integer. Stage capture showed each stats agg re-reading the
    # full materialized edge list (~98 MB at sf0.1) — 3 of the 9 big passes
    # were stats-only; now stats aggregate the node-sized cached deg table.
    # deg is persisted (it feeds both semi-join broadcasts + the stats row);
    # keep derives from it by a cheap cached filter, so the old eager
    # keep-barrier is no longer needed. Each round's stats row is collected
    # eagerly while that round's deg is cached, so deg r-1 can be
    # unpersisted as soon as round r's deg is materialized (r11, round-10
    # advisor finding: cache occupancy was growing linearly with rounds).
    deg = cur.groupBy("a").agg(F.count("*").alias("__d")).persist()
    deg.count()
    for r in range(1, rounds + 1):
        keep = deg.filter(F.col("__d") >= k).select("a")
        cur = truncate_lineage(
            cur.join(keep, "a", "semi")
            .join(keep.select(F.col("a").alias("b")), "b", "semi")
            .select("a", "b")
        )
        # round r's cur is checkpointed (eager) above, so deg r-1 has no
        # remaining consumer once round r's deg exists — unpersist it
        # rather than letting rounds+1 node-sized cache entries pile up
        # for the session lifetime (round-10 advisor finding). The stats
        # row is collected EAGERLY per round while deg is hot: it is a
        # 1-row aggregate over the already-materialized node-sized cache,
        # so the collect is ~free and the returned frame no longer holds
        # lazy references to every round's cache entry.
        prev = deg
        deg = cur.groupBy("a").agg(F.count("*").alias("__d")).persist()
        deg.count()
        prev.unpersist()
        stats.append(
            deg.agg(
                F.lit(r).cast("int").alias("round"),
                F.count("*").cast("bigint").alias("n_nodes"),
                # sum over an empty round is NULL; the old count(*)/2 was 0
                (F.coalesce(F.sum("__d"), F.lit(0)) / 2)
                .cast("bigint")
                .alias("n_edges"),
            ).collect()[0]
        )
    deg.unpersist()
    return edges.sparkSession.createDataFrame(
        stats, schema="round int, n_nodes bigint, n_edges bigint"
    )


def jaccard_link_prediction(
    edges: DataFrame,
    ctx_col: str,
    node_col: str,
    *,
    k: int = 15,
    min_common: int = 1,
) -> DataFrame:
    """Top-k predicted links by common-neighbor Jaccard over a bipartite
    incidence list (context -> node): score(a, b) =
    |ctx(a) & ctx(b)| / |ctx(a) | ctx(b)| — the classic link-prediction /
    "suppliers who ship together" similarity (Liben-Nowell & Kleinberg
    2003).

    Shape discipline: the pair join is KEYED ON THE CONTEXT, so fan-out is
    bounded by per-context degree (the basket_pairs rule) — never the
    node-squared join. Degrees are a second pass over the same deduped
    incidence list; the union size needs no third pass (|a|+|b|-common).
    All score inputs are exact integers; the single division is the last
    step, 6-dp-rounded; the top-k is a distributed TakeOrdered with a
    (node_a, node_b) tiebreak.
    """
    e = edges.select(
        F.col(ctx_col).alias("__ctx"), F.col(node_col).alias("__n")
    ).distinct()
    deg = e.groupBy("__n").agg(F.count("*").alias("__deg"))
    pairs = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.__ctx") == F.col("b.__ctx"))
            & (F.col("a.__n") < F.col("b.__n")),
        )
        .groupBy(
            F.col("a.__n").alias("node_a"), F.col("b.__n").alias("node_b")
        )
        .agg(F.count("*").alias("__common"))
        .filter(F.col("__common") >= min_common)
    )
    scored = (
        pairs.join(
            deg.select(F.col("__n").alias("node_a"), F.col("__deg").alias("__da")),
            "node_a",
        )
        .join(
            deg.select(F.col("__n").alias("node_b"), F.col("__deg").alias("__db")),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            F.col("__common").cast("bigint").alias("n_common"),
            F.col("__da").cast("bigint").alias("n_a"),
            F.col("__db").cast("bigint").alias("n_b"),
            F.round(
                F.col("__common").cast("double")
                / (F.col("__da") + F.col("__db") - F.col("__common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "node_a", "node_b"
    ).limit(k)


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-row clustering summary: (n_nodes_deg2, n_wedges,
    n_closed_wedges, transitivity, avg_local_cc).

    Same degree-oriented triangle enumeration as :func:`triangle_count`
    (each triangle generated exactly once from its lowest-(degree,id)
    vertex, bounding hub fan-out by O(sqrt(m))), but the closing join is
    an INNER join so every found triangle credits all three of its
    vertices. Every accumulated quantity is an exact integer:

    - wedges per node = deg*(deg-1)/2 (exact bigint),
    - triangles per node (exact count),
    - the MEAN local coefficient is accumulated as
      sum(floor(2e9 * t / (d*(d-1)))) = sum(floor(1e9 * local_cc)) —
      floor of one deterministic IEEE division per node, then an exact
      integer sum descaled by 1e9 — so the average is reproducible
      across partitionings and engines (a naive double sum of
      2t/(d*(d-1)) terms is accumulation-order-dependent). The 1e9
      descale is pinned by the closed-form 5-clique stress stage
      (local cc exactly 1.0 per node).

    Transitivity = 3T / wedges is one final double division. Shuffle
    profile identical to triangle_count plus one node-keyed groupBy.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # deg feeds BOTH the orientation and the final per-node join, but a
    # single-reuse DAG needs no checkpoint: the degree table is
    # node-cardinality (cheap to recompute) and Spark reuses identical
    # shuffle exchanges where it can — an A/B measured the checkpoint
    # barrier as a net LOSS here (~+0.5 s at sf0.1). Loops are the
    # case that amplifies recompute (kcore/pagerank), not DAGs.
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = truncate_lineage(
        with_deg.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    o1 = oriented.select(F.col("a"), F.col("b").alias("x"), F.col("db").alias("dx"))
    o2 = oriented.select(F.col("a"), F.col("b").alias("y"), F.col("db").alias("dy"))
    wedges = o1.join(o2, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    # inner close (not semi): each matched wedge IS one triangle (a,x,y)
    tri = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
    ).select("a", "x", "y")
    t_per_node = (
        tri.select(F.explode(F.array("a", "x", "y")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("t"))
    )
    per_node = deg.filter(F.col("deg") >= 2).join(t_per_node, "n", "left").select(
        F.col("deg").cast("bigint").alias("deg"),
        F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("t"),
    )
    scaled_cc = F.floor(
        F.lit(2e9) * F.col("t").cast("double")
        / (F.col("deg") * (F.col("deg") - 1)).cast("double")
    )
    agg = per_node.agg(
        F.count("*").cast("bigint").alias("n_nodes_deg2"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("bigint").alias("n_wedges"),
        F.sum("t").cast("bigint").alias("n_closed_wedges"),
        F.sum(scaled_cc).cast("bigint").alias("__s"),
    )
    return agg.select(
        "n_nodes_deg2",
        "n_wedges",
        "n_closed_wedges",
        # wedge-free / deg<2-only graphs -> both ratios undefined, NULL
        # (ANSI divide-by-zero guard for degenerate tiny inputs)
        F.round(
            F.when(
                F.col("n_wedges") == 0, F.lit(None).cast("double")
            ).otherwise(
                F.col("n_closed_wedges").cast("double")
                / F.col("n_wedges").cast("double")
            ),
            6,
        ).alias("transitivity"),
        F.round(
            F.when(
                F.col("n_nodes_deg2") == 0, F.lit(None).cast("double")
            ).otherwise(
                F.col("__s").cast("double")
                / F.lit(1e9)
                / F.col("n_nodes_deg2").cast("double")
            ),
            6,
        ).alias("avg_local_cc"),
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One row (n_edges, assortativity): Pearson correlation of endpoint
    degrees over all 2M directed copies of the undirected edge set
    (Newman 2002's r in its correlation form — the symmetric double
    orientation makes the two marginals identical, so no half-sum terms).

    Every accumulated moment (sum dx, sum dx^2, sum dx*dy) is an exact
    integer over integer degrees; r is assembled in ONE final double
    expression, so the statistic is partition-order-free. Degrees are
    node-table sized; the only shuffles are the dedup, two degree joins,
    and one global aggregate. Hub-heavy graphs (alpha < 3, see
    :func:`powerlaw_alpha`) typically measure r < 0 — this is the
    diagnostic that says whether degree-oriented tricks are needed.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    both = e.join(
        deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u"
    ).join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    directed = both.select(
        F.col("du").alias("dx"), F.col("dv").alias("dy")
    ).union(both.select(F.col("dv").alias("dx"), F.col("du").alias("dy")))
    m = directed.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    den = n * sxx - sx * sx
    return m.select(
        (F.col("n_pairs") / 2).cast("bigint").alias("n_edges"),
        # zero degree variance (regular graph) -> r undefined, NULL —
        # a bare divide is an ANSI divide-by-zero on tiny/degenerate
        # inputs
        F.round(
            F.when(den == 0, F.lit(None).cast("double")).otherwise(
                (n * sxy - sx * sx) / den
            ),
            6,
        ).alias("assortativity"),
    )


def bfs_frontier_counts(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-hop row (hop, n_frontier, n_visited): breadth-first frontier
    expansion from a seed node set — the reachability probe behind
    influence/contamination-radius questions.

    Iterative-algorithm discipline (the pagerank rules): the
    bidirectional edge list is built ONCE and lineage-truncated, then
    every hop is one hash join on the frontier + one anti-join against
    the visited set, both persisted per round (the kcore lesson: an
    unpersisted loop invariant re-executes the whole chain each round).
    Hop count is FIXED, so the run is deterministic and schedulable;
    the per-hop stats are 1-row aggregates off the persisted frames.
    """
    both = truncate_lineage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    frontier = truncate_lineage(
        seeds.select(F.col(seeds.columns[0]).alias("n")).distinct()
    )
    visited = frontier
    stats = []
    for k in range(1, hops + 1):
        nxt = truncate_lineage(
            both.join(frontier.withColumnRenamed("n", "a"), "a")
            .select(F.col("b").alias("n"))
            .distinct()
            .join(visited, "n", "left_anti")
        )
        visited = truncate_lineage(visited.union(nxt))
        stats.append(
            nxt.agg(
                F.lit(k).alias("hop"),
                F.count("*").cast("bigint").alias("n_frontier"),
            ).crossJoin(
                F.broadcast(
                    visited.agg(
                        F.count("*").cast("bigint").alias("n_visited")
                    )
                )
            )
        )
        frontier = nxt
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    k: int = 10,
) -> DataFrame:
    """Top-k nodes by HITS authority after a fixed number of
    hub/authority power iterations — the bipartite-flavored authority
    score beside PageRank (a node is a good authority when good hubs
    point at it).

    Same iterative discipline as pagerank: the directed edge list is
    deduped, persisted once, and reused as both the forward and the
    reverse propagation table; every iteration is two keyed sums with
    a max-normalization (max is accumulation-order-free, unlike the
    L2 norm) and the score frames are lineage-truncated per round.
    Iteration count is FIXED. Output rounds to 6 dp; tie-break on
    node id.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    e = truncate_lineage(e)
    nodes = truncate_lineage(
        e.select(F.col("s").alias("n"))
        .union(e.select(F.col("d").alias("n")))
        .distinct()
    )
    auth = nodes.select("n", F.lit(1.0).alias("a"))
    for _ in range(iterations):
        # truncate the RAW sums, not the normalized frame: the
        # max-normalization reads its input twice (the broadcast max agg
        # + the main side), so an untruncated raw frame re-ran the
        # propagation join+groupBy twice per half-iteration (r10 plan
        # audit). Post-truncation the normalization is a map over a
        # materialized table; arithmetic is unchanged.
        hub = truncate_lineage(
            e.join(auth.withColumnRenamed("n", "d"), "d")
            .groupBy(F.col("s").alias("n"))
            .agg(F.sum("a").alias("h"))
        )
        hub = hub.crossJoin(
            F.broadcast(hub.agg(F.max("h").alias("__mx")))
        ).select("n", (F.col("h") / F.col("__mx")).alias("h"))
        auth = truncate_lineage(
            e.join(hub.withColumnRenamed("n", "s"), "s")
            .groupBy(F.col("d").alias("n"))
            .agg(F.sum("h").alias("a"))
        )
        auth = auth.crossJoin(
            F.broadcast(auth.agg(F.max("a").alias("__mx")))
        ).select("n", (F.col("a") / F.col("__mx")).alias("a"))
    return (
        auth.select("n", F.round("a", 6).alias("authority"))
        .orderBy(F.desc("authority"), F.col("n"))
        .limit(k)
    )


def reciprocity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One row (n_directed_edges, n_reciprocal, reciprocity): share of
    directed edges whose reverse edge also exists — the mutual-link
    diagnostic that separates broadcast-shaped graphs (r ~ 0) from
    conversation-shaped ones (r ~ 1). Distinct directed edges, one
    self-equi-join on the swapped key, exact integer counts.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    recip = e.join(rev, ["s", "d"], "left_semi")
    m = e.agg(F.count("*").cast("bigint").alias("n_directed_edges")).crossJoin(
        F.broadcast(
            recip.agg(F.count("*").cast("bigint").alias("n_reciprocal"))
        )
    )
    return m.select(
        "n_directed_edges",
        "n_reciprocal",
        F.round(
            F.col("n_reciprocal").cast("double")
            / F.col("n_directed_edges").cast("double"),
            6,
        ).alias("reciprocity"),
    )
