"""Embedding clustering for corpus organization (SemDeDup-style).

Large-scale training pipelines cluster document embeddings to (a) build
semantic shards for data mixing, and (b) run semantic deduplication —
near-duplicate *meaning*, not near-duplicate *bytes* — by comparing
vectors only WITHIN a cluster (Abbas et al., "SemDeDup", 2023: k-means
then intra-cluster cosine pruning), which turns the O(n²) all-pairs
problem into k independent O((n/k)²) ones.

Everything here is deterministic: centroid init is the k lowest-id
vectors (no RNG), iteration count is fixed (no data-dependent stopping),
and every arg-min tie breaks on cluster id — so results are stable
across reruns/partitionings and a DuckDB oracle can replicate the whole
computation.

Scale notes:
- Assignment is a broadcast cross join against the k-row centroid table
  (k is tens-to-thousands — always broadcast-able) followed by a
  min-struct aggregate per vector: one shuffle on the vector id.
- The centroid update is ONE groupBy(cluster) with `dim` unrolled
  per-component AVG aggregate columns — whole-stage-codegen-friendly,
  and crucially NOT a posexplode (which would multiply shuffle volume
  by the dimension for no information gain).
- Per-iteration lineage is truncated through operators/lineage.py;
  the centroid table is k rows, so the checkpoint cost is nil.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ascii_hydra_spark.operators.lineage import truncate_lineage


def _dist2(vec_col, cent_col):
    """Squared L2 distance, left-fold in index order over doubles — the
    exact accumulation order the DuckDB oracle replicates."""
    return F.aggregate(
        F.zip_with(vec_col, cent_col, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def auto_k(n: int, target_cluster_size: int = 1024) -> int:
    """Cluster count that keeps expected cluster size constant as data
    grows — the SemDeDup pair space per task is (n/k)², so k must scale
    with n or the per-cluster GEMM grows quadratically (same lesson as
    the LSH bucket-occupancy auto-sizing in similarity.py)."""
    return max(8, min(4096, n // target_cluster_size))


def kmeans_assign(
    emb: DataFrame,
    k: int | None = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means: returns (id, cluster_id, dist2).

    Init: centroids are the vectors of the k smallest ids, numbered
    0..k-1 in id order. Each iteration assigns every vector to the
    nearest centroid (squared L2, ties -> lowest cluster id) and
    recomputes centroids as per-cluster component means; a cluster that
    loses every member keeps its previous centroid. `dist2` is the
    squared distance to the FINAL assigned centroid, rounded to 6.
    k=None sizes the cluster count to the data via :func:`auto_k`.
    """
    assigned = _kmeans_assign_full(emb, k, iterations, id_col, vec_col)
    return assigned.select(
        F.col("__id").alias(id_col),
        "cluster_id",
        F.round("__d2", 6).alias("dist2"),
    )


def _kmeans_assign_full(
    emb: DataFrame,
    k: int | None,
    iterations: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """kmeans_assign's engine: (__id, cluster_id, __d2, __v) with __v the
    double-cast vector — the assignment is computed map-side, so the
    vector rides along for free and intra-cluster consumers
    (semantic_dup_pairs) need no join back to the corpus."""
    if k is None:
        k = auto_k(emb.count())
    dim = emb.select(F.size(vec_col)).first()[0]
    v = F.col(vec_col).cast("array<double>")
    # NOTE: a min-parallelism round-robin of the vectors was A/B-measured
    # here (r10) and came out a WASH overall (kmeans_clusters 1.80 -> 1.73
    # but semantic_dedup_survivors 2.48 -> 2.66 min at sf0.1): the fixture
    # has only 2k vectors x k=4, so the per-iteration arg-min is ~ms of
    # CPU and the added per-iteration exchange of the carried vectors eats
    # the spread. Revisit only if the map-side assignment itself measures
    # as the bottleneck (it does at real n x k, where the scan has many
    # splits and the spread is a no-op anyway).
    vecs = emb.select(F.col(id_col).alias("__id"), v.alias("__v"))

    # init: k lowest-id vectors; the k-row window sort is trivially bounded
    w = Window.orderBy("__id")
    centroids = (
        vecs.orderBy("__id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cluster_id"),
            F.col("__v").alias("__c"),
        )
    )
    centroids = truncate_lineage(centroids)

    assigned = None
    for it in range(iterations):
        # Map-side arg-min assignment: the k-row centroid table collapses
        # to ONE row holding an array of (cluster_id, centroid) structs,
        # broadcast-cross-joined (no row multiplication), and each vector
        # picks its nearest centroid with array_min over per-centroid
        # (dist2, cluster_id) structs — the SAME lexicographic struct
        # ordering (ties -> lowest cluster id) the previous
        # min(struct(...)) aggregate used, and the same _dist2 fold per
        # (vector, centroid). This replaces a k-fold crossJoin explosion
        # + a groupBy(__id) shuffle of n*k rows + an assigned-vecs join
        # per iteration with ZERO data-sized shuffles: only the
        # k-rows-per-partition partial aggregate of the centroid update
        # moves. collect_list order is irrelevant — min over the array
        # is order-free.
        cents = centroids.agg(
            F.collect_list(F.struct("cluster_id", "__c")).alias("__cs")
        )
        best = F.array_min(
            F.transform(
                F.col("__cs"),
                lambda c: F.struct(
                    _dist2(F.col("__v"), c["__c"]).alias("__d2"),
                    c["cluster_id"].alias("cluster_id"),
                ),
            )
        )
        assigned = vecs.crossJoin(F.broadcast(cents)).select(
            "__id",
            "__v",
            best["cluster_id"].alias("cluster_id"),
            best["__d2"].alias("__d2"),
        )
        if it == iterations - 1:
            # the final centroid update is dead work — the returned
            # assignment never reads it (the eager checkpoint below used
            # to materialize one full extra assignment+update chain)
            break
        new_c = (
            assigned.groupBy("cluster_id")
            .agg(*[F.avg(F.col("__v")[i]).alias(f"__a{i}") for i in range(dim)])
            .select(
                "cluster_id",
                F.array(*[F.col(f"__a{i}") for i in range(dim)]).alias("__c"),
            )
        )
        # empty clusters keep their previous centroid (deterministic)
        centroids = truncate_lineage(
            centroids.alias("old")
            .join(new_c.alias("new"), "cluster_id", "left")
            .select(
                "cluster_id",
                F.coalesce(F.col("new.__c"), F.col("old.__c")).alias("__c"),
            )
        )

    return assigned


def cluster_sizes(
    emb: DataFrame, k: int = 8, iterations: int = 2, **kw
) -> DataFrame:
    """(cluster_id, n_vectors, avg_dist2): the shard-balance summary a
    mixing pipeline reads before sampling per semantic shard."""
    a = kmeans_assign(emb, k=k, iterations=iterations, **kw)
    return a.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg("dist2"), 6).alias("avg_dist2"),
    )


def semantic_dup_pairs(
    emb: DataFrame,
    k: int | None = None,
    iterations: int = 2,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup candidate pairs: cosine >= threshold, compared only
    WITHIN a k-means cluster. Returns (id_a, id_b, sim) with id_a < id_b.

    The cluster key blocks the self-join: the shuffle is on cluster_id
    and each task's pair space is (cluster size)², not (corpus size)².
    Recall caveat (inherent to SemDeDup, documented not hidden): a
    near-dup pair split across two clusters is missed; raising k trades
    recall for speed. The exact arm (similarity.cosine_pairs_blocked)
    is the recall-1.0 reference it is tested against.
    """
    # the map-side assignment carries the double-cast vector along, so no
    # join back to the corpus is needed (np.asarray(float64) of the
    # original floats and the cast are the same exact widening)
    side = _kmeans_assign_full(emb, k, iterations, id_col, vec_col).select(
        "__id", "cluster_id", "__v"
    )

    # Per-cluster GEMM via applyInPandas: one numpy matmul per cluster
    # instead of 12M+ expression-evaluated dot products (measured 75 s ->
    # ~8 s on 20k x 64 at k=16 in the sf1 stress harness). The block loop
    # bounds peak memory to block_rows * cluster_size similarities even if
    # a cluster degenerates to the whole corpus.
    import pandas as pd  # noqa: PLC0415 — executor-side import by design

    thr = float(threshold)

    def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pdf["__id"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0] = 1.0  # zero vectors -> zero rows, never a match
        U = M / norms[:, None]
        order = np.argsort(ids)
        ids, U = ids[order], U[order]
        out_a, out_b, out_s = [], [], []
        block = 2048
        n = len(ids)
        for s in range(0, n, block):
            S = U[s : s + block] @ U.T
            S = np.round(S, 6)
            rows, cols = np.nonzero(S >= thr)
            keep = (rows + s) < cols  # upper triangle: id_a < id_b
            out_a.append(ids[rows[keep] + s])
            out_b.append(ids[cols[keep]])
            out_s.append(S[rows[keep], cols[keep]])
        a = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
        b = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
        s_ = np.concatenate(out_s) if out_s else np.array([], dtype=np.float64)
        return pd.DataFrame(
            {
                "id_a": a.astype(np.int64),
                "id_b": b.astype(np.int64),
                "sim": s_.astype(np.float64),
            }
        )

    return side.groupBy("cluster_id").applyInPandas(
        per_cluster, schema="id_a long, id_b long, sim double"
    )


def semantic_dedup(
    emb: DataFrame,
    k: int | None = None,
    iterations: int = 2,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    **kw,
) -> DataFrame:
    """Full SemDeDup decision: intra-cluster cosine pairs -> connected
    components -> keep the minimum-id vector per duplicate group."""
    from ascii_hydra_spark.operators.dedup import cluster_dedup

    pairs = semantic_dup_pairs(
        emb, k=k, iterations=iterations, threshold=threshold, id_col=id_col, **kw
    )
    return cluster_dedup(emb, pairs, id_col)


def calinski_harabasz(
    emb: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    *,
    scale: int = 4,
) -> DataFrame:
    """One row (k_clusters, n, ss_between, ss_within, ch): the
    Calinski-Harabasz (variance-ratio) clustering quality index over a
    labeled embedding table — CH = (SSB/(k-1)) / (SSW/(n-k)), higher =
    tighter, better-separated clusters. The closed-form quality readout
    for `kmeans_assign` output (or given labels) where silhouette's
    O(n^2) pair distances are unaffordable.

    Algebra keeps everything in sums: SSW = Q - sum_l |S_l|^2/n_l and
    SSB = sum_l |S_l|^2/n_l - |S|^2/n, where Q is the total squared
    norm and S_l the per-label coordinate sums — all exact integers
    after the same 10^scale rounding the covariance/centroid operators
    use; the only floats are the k-bounded final combinations. Same
    2-dp SS / 6-dp ratio output policy as `analytics.anova_oneway`
    (this IS one-way ANOVA in embedding space).
    """
    mult = float(10**scale)
    pe = F.posexplode(F.col(vec_col))
    coords = emb.select(F.col(label_col).alias("__l"), pe).select(
        "__l",
        F.col("pos").alias("__p"),
        F.floor(F.col("col").cast("double") * F.lit(mult) + F.lit(0.5))
        .cast("decimal(28,0)")
        .alias("__x"),
    )
    per_lp = coords.groupBy("__l", "__p").agg(F.sum("__x").alias("__s"))
    q_tot = coords.agg(
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__q")
    )
    n_per = emb.groupBy(F.col(label_col).alias("__l")).agg(
        F.count("*").alias("__nl")
    )
    norms = (
        per_lp.groupBy("__l")
        .agg(F.sum(F.col("__s") * F.col("__s")).cast("double").alias("__s2"))
        .join(F.broadcast(n_per), "__l")
    )
    per_label = norms.agg(
        F.count("*").cast("bigint").alias("k_clusters"),
        F.sum("__nl").cast("bigint").alias("n"),
        F.sum(F.col("__s2") / F.col("__nl").cast("double")).alias("__within_sub"),
    )
    glob = per_lp.groupBy("__p").agg(F.sum("__s").alias("__gs")).agg(
        F.sum(F.col("__gs") * F.col("__gs")).cast("double").alias("__g2")
    )
    j = per_label.crossJoin(F.broadcast(q_tot)).crossJoin(F.broadcast(glob))
    nd = F.col("n").cast("double")
    kd = F.col("k_clusters").cast("double")
    descale = F.lit(mult * mult)
    ssw = (F.col("__q") - F.col("__within_sub")) / descale
    ssb = (F.col("__within_sub") - F.col("__g2") / nd) / descale
    ch = (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))
    return j.select(
        "k_clusters",
        "n",
        F.round(ssb, 2).alias("ss_between"),
        F.round(ssw, 2).alias("ss_within"),
        F.round(ch, 6).alias("ch"),
    )
