"""IVF (inverted-file) index as a partitioned table.

Reference surface (SURVEY.md §2.1):
  O26 IVF build: k-means train + assign (apps/nvdb_ivf_build.cpp:35-92)
  O28 IVF search with nprobe probing    (apps/nvdb_ivf_eval.cpp:395-413,
                                         478-489)

Spark-first design (SURVEY.md §4): the index IS the physical layout.
  * build: k-means trained driver-side on a bounded prefix sample — the
    analog of FAISS training on the first ntrain rows
    (ivf_build.cpp:44,63-66); the distributed part is only the
    assignment pass (broadcast-centroid matmul UDF, no shuffle);
    persisting with
    partitionBy("cluster_id") turns nprobe probing into partition
    pruning, the reference's one semantic optimization (SURVEY §4).
  * write: rows are rebalanced by cluster_id before the partitioned
    write, so each inverted list is one file (AQE splits only oversized
    lists).
  * search: stage 1 scores Q queries against the nlist centroids (both
    tiny — driver-side) and keeps the top-nprobe clusters per query;
    stage 2 scans ONLY those clusters once (an IN filter on the partition
    column — at cluster scale Spark reads nprobe/nlist of the data) and
    ranks top-k per query with the certified fold kernel shared with the
    flat two-phase scan (operators/topk.certified_topk).

At 100 TB with nlist=4096 and nprobe=64, stage 2 touches ~1.6% of the
base bytes — the same data-skip ratio FAISS gets from inverted lists.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nano_vectordb_spark.operators.topk import (
    collect_queries,
    rank_topk,
    score_expr,
    two_phase_topk,
)


@dataclass
class IvfIndex:
    centroids: DataFrame  # (cluster_id int, centroid array<double>)
    assigned: DataFrame   # base columns + cluster_id
    nlist: int
    # (nlist, D) float64 matrix of the same centroids, kept from the
    # driver-side fit (or lazily collected once for a reloaded index) so
    # probing needs no Spark job — see centroids_matrix().
    centroids_np: object = None
    # True on an ivf_replicate'd index: assigned holds duplicate
    # vec_ids (one per boundary replica); searchers must dedup before
    # exact rescore. Single-assignment consumers must not see one.
    replicated: bool = False


def centroids_matrix(index: IvfIndex):
    """Centroids as a (nlist, D) float64 NumPy matrix, cached on the
    index. In-process builds already have it (the Lloyd fit runs driver
    side); a persisted/reloaded index pays one tiny collect (nlist
    rows, one job: sorted driver-side, not by a range shuffle), once."""
    import numpy as np

    if index.centroids_np is None:
        rows = sorted(index.centroids.collect(), key=lambda r: r.cluster_id)
        index.centroids_np = np.asarray(
            [r.centroid for r in rows], dtype=np.float64
        )
    return index.centroids_np


def ivf_build(
    base: DataFrame,
    nlist: int,
    seed: int = 42,
    train_fraction: float | None = None,
    vec_col: str = "embedding",
) -> IvfIndex:
    """Train k-means centroids and assign every row to its nearest list
    (reference O26). Training happens driver-side on a bounded prefix
    sample — the FAISS ntrain split (ivf_build.cpp:44,53-56); at 100 TB
    only the assignment pass (broadcast matmul, no shuffle) touches the
    full table. ``train_fraction`` optionally thins the prefix further."""
    from nano_vectordb_spark.functions import kmeans as km

    src = base if train_fraction is None else base.sample(
        fraction=train_fraction, seed=seed
    )
    mat = km.collect_train_sample(src, vec_col, km.train_rows_for(nlist))
    cent = km.lloyd_fit(mat, nlist, seed=seed)
    assigned = km.assign_clusters(base, cent, vec_col=vec_col)
    spark = base.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "cluster_id int, centroid array<double>",
    )
    import numpy as np

    return IvfIndex(
        centroids=centroids,
        assigned=assigned,
        nlist=nlist,
        centroids_np=np.asarray(cent, dtype=np.float64),
    )


def _require_single_assignment(index: IvfIndex, op: str) -> None:
    """ivf_replicate'd indexes hold duplicate vec_ids by design; every
    consumer that assumes one row per vector must refuse them loudly
    instead of silently emitting duplicate results."""
    if getattr(index, "replicated", False):
        raise ValueError(
            f"{op} requires a single-assignment index; this one is "
            "boundary-replicated (ivf_replicate). Replicate a frozen "
            "index only for shard_graph_build/shard_graph_search."
        )


def ivf_add(
    index: IvfIndex, new_rows: DataFrame, vec_col: str = "embedding"
) -> IvfIndex:
    """Incremental insert (the FAISS ``add()`` contract): assign new
    vectors to their nearest EXISTING centroid — no refit — and union
    them into the layout. The assignment is the same broadcast-matmul
    map pass as the build's (no shuffle); on a persisted index the new
    rows append as files inside their cluster_id partition directories,
    so probe-time partition pruning is unchanged. Deterministic:
    because assignment depends only on the frozen centroids, searching
    after add equals searching an index whose assignment pass ran over
    the union from the start."""
    from nano_vectordb_spark.functions import kmeans as km

    _require_single_assignment(index, "ivf_add")
    assigned_new = km.assign_clusters(
        new_rows, centroids_matrix(index), vec_col=vec_col
    )
    return IvfIndex(
        centroids=index.centroids,
        assigned=index.assigned.unionByName(assigned_new),
        nlist=index.nlist,
        centroids_np=index.centroids_np,
    )


def replication_eps_for_factor(
    index: IvfIndex,
    target_factor: float,
    replicas: int = 8,
    sample_rows: int = 4096,
    seed: int = 42,
    vec_col: str = "embedding",
) -> float:
    """Pick the ivf_replicate ``eps`` that lands the replication factor
    near ``target_factor`` on THIS data. eps is distribution-dependent
    — the same 0.15 gave factor 2.98 on clustered hash-embedded text
    and saturated the 8-replica cap (7.99) on near-uniform
    rotated-replica vectors (PERF.md round-9) — so storage budgeting
    needs the inverse map factor -> eps, not a magic constant.

    Estimator: over a seeded sample (operators/sample.sample_queries,
    layout-independent), pool the per-vector distance ratios
    r_j = d_(j)/d_(1) - 1 for the 2nd..``k``-th nearest centroids,
    k = min(replicas, nlist) (true L2, the multi_assign_udf
    comparison). A vector gains one replica for each r_j <= eps and
    can gain at most k - 1 (nlist caps the achievable factor when it
    is below the replica budget — ADVICE r9), so the expected factor
    at eps is 1 + (pooled fraction of ratios <= eps) * (k - 1): the
    eps hitting ``target_factor`` is the (target_factor - 1) / (k - 1)
    quantile of the pooled ratios. Driver-side cost: sample_rows x
    nlist distances — tiny, independent of table size."""
    import numpy as np

    from nano_vectordb_spark.operators.sample import sample_queries

    # replicated indexes hold duplicate vec_ids: sampling them would
    # overweight boundary vectors and bias the pooled ratios (ADVICE r9)
    _require_single_assignment(index, "replication_eps_for_factor")
    k_eff = min(replicas, index.nlist)
    if k_eff < 2:
        raise ValueError(
            f"need min(replicas, nlist) >= 2 to replicate, got "
            f"replicas={replicas}, nlist={index.nlist}"
        )
    if not 1.0 < target_factor <= k_eff:
        raise ValueError(
            f"target_factor must be in (1, min(replicas, nlist)={k_eff}], "
            f"got {target_factor}"
        )
    cent = np.ascontiguousarray(centroids_matrix(index), dtype=np.float64)
    rows = sample_queries(
        index.assigned, sample_rows, seed=seed, vec_col=vec_col
    ).select(vec_col).collect()
    x = np.asarray([np.asarray(r[0], dtype=np.float64) for r in rows])
    d2 = (
        -2.0 * (x @ cent.T)
        + (cent * cent).sum(axis=1)[None, :]
        + (x * x).sum(axis=1)[:, None]
    )
    np.maximum(d2, 0.0, out=d2)
    part = np.sort(
        np.partition(d2, k_eff - 1, axis=1)[:, :k_eff], axis=1
    )
    base = np.maximum(part[:, :1], 1e-300)  # guard zero-distance rows
    ratios = np.sqrt(part[:, 1:] / base) - 1.0
    q = (target_factor - 1.0) / (k_eff - 1.0)
    return float(np.quantile(ratios.ravel(), q))


def ivf_replicate(
    index: IvfIndex,
    replicas: int = 2,
    eps: float = 0.2,
    vec_col: str = "embedding",
) -> IvfIndex:
    """SPANN-style boundary replication (Chen et al., NeurIPS 2021
    §4.1): multi-assign every vector to its nearest centroid PLUS up to
    ``replicas - 1`` further centroids within (1+eps) of the nearest
    distance, so each probed list already contains the frontier vectors
    that sit just across its Voronoi boundary. This is the scale path
    past the broadcast clamp: sharded graph search's recall was capped
    at the IVF coarse-probe ceiling (a true neighbor in an unprobed
    list is unreachable no matter how good the per-list graph is);
    replication puts boundary neighbors INSIDE the probed lists and
    lifts the ceiling at the cost of ~replication-factor extra storage
    and per-list build work — the same trade SPANN ships.

    The returned index is for shard_graph_build / shard_graph_search
    ONLY: ``assigned`` intentionally holds duplicate vec_ids (one per
    replica), which searchers handle by deduping candidates and
    rescoring against distinct ids. ivf_search / ivf_add / ivf_pq
    expect the single-assignment index — replicate AFTER all adds
    (re-run on a frozen index, the SPANN build order). Element 0 of the
    multi-assignment is the argmin, so filtering replicas away recovers
    assign_clusters exactly (pinned in tests/test_graphann.py)."""
    from nano_vectordb_spark.functions import kmeans as km

    base = index.assigned.drop("cluster_id")
    assigned = base.withColumn(
        "cluster_id",
        F.explode(
            km.multi_assign_udf(centroids_matrix(index), replicas, eps)(
                F.col(vec_col)
            )
        ),
    )
    return IvfIndex(
        centroids=index.centroids,
        assigned=assigned,
        nlist=index.nlist,
        centroids_np=index.centroids_np,
        replicated=True,
    )


def ivf_list_radii(index: IvfIndex, vec_col: str = "embedding"):
    """(nlist,) float64 array: per-list covering radius — the max TRUE
    L2 distance of any member row to the list centroid (on a
    replicated index, replica rows are searchable members of their
    host list and are covered too). This is the per-list bound the
    adaptive re-probe uses (graphann.shard_graph_search_adaptive): by
    the triangle inequality every member x of list L satisfies
    d(q, x) >= d(q, c_L) - radius_L, so a list whose bound exceeds the
    query's current k-th distance provably cannot improve the result.

    One aggregate over the assigned table (broadcast centroid join,
    shuffle on the nlist-key groupBy) + an nlist-row collect; empty
    lists get radius -inf (their bound is +inf — never re-probed)."""
    import numpy as np

    from nano_vectordb_spark.functions.vector import l2sq_expr

    rows = (
        index.assigned.select("cluster_id", F.col(vec_col).alias("__v"))
        .join(F.broadcast(index.centroids), "cluster_id")
        .select(
            "cluster_id", l2sq_expr("__v", "centroid").alias("__d2")
        )
        .groupBy("cluster_id")
        .agg(F.max("__d2").alias("max_d2"))
        .collect()
    )
    radii = np.full(index.nlist, -np.inf)
    for r in rows:
        radii[int(r["cluster_id"])] = float(r["max_d2"]) ** 0.5
    return radii


def ivf_write(index: IvfIndex, path: str) -> None:
    """Persist the index as its physical layout: base partitioned by
    cluster_id (so probing prunes partitions) + a centroids table.

    The rebalance hint shuffles rows by cluster_id before the
    partitioned write, so each list directory gets one file rather than
    one per input partition, and AQE splits only oversized lists. Scan
    splits then follow list sizes, not the input's partitioning."""
    index.assigned.hint("rebalance", "cluster_id").write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(f"{path}/base")
    index.centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_read(spark: SparkSession, path: str, nlist: int | None = None) -> IvfIndex:
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = spark.read.parquet(f"{path}/base")
    if nlist is None:
        nlist = centroids.count()
    return IvfIndex(centroids=centroids, assigned=assigned, nlist=nlist)


def centroid_d2_np(cent, qmat):
    """(nlist, Q) squared centroid distances, replaying the l2sq_expr
    sequential fold bit-exactly: per-dim (a-b)*(a-b) terms accumulated
    left-to-right in float64 — the shared arithmetic under
    probe_ids_np and the adaptive re-probe's bound."""
    from nano_vectordb_spark.functions.vector import l2sq_np

    return l2sq_np(cent[:, None, :], qmat[None, :, :])


def probe_ids_np(cent, qmat, nprobe):
    """Driver-side stage-1 probing: for each query row of ``qmat``
    (Q, D), the top-nprobe nearest centroids of ``cent`` (nlist, D).

    Replays probe_clusters bit-exactly — centroid_d2_np's sequential
    fold, ranked by (score asc, cluster_id asc) — so callers that
    substitute it for the Spark job keep oracle hash-parity. Returns a
    list of Q int arrays of cluster ids."""
    import numpy as np

    acc = centroid_d2_np(cent, qmat)
    npb = min(nprobe, cent.shape[0])
    cids = np.arange(cent.shape[0])
    return [
        np.lexsort((cids, acc[:, j]))[:npb] for j in range(qmat.shape[0])
    ]


def probe_clusters(
    index: IvfIndex,
    queries: DataFrame,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Stage 1: coarse quantization — top-nprobe nearest centroids per
    query by L2 (FAISS IVF uses METRIC_L2, ivf_build.cpp:58). Returns
    (query_id, cluster_id). Both sides are small: broadcast."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qvec")
    )
    scored = q.crossJoin(F.broadcast(index.centroids)).select(
        "query_id",
        F.col("cluster_id").alias("vec_id"),  # rank_topk contract
        score_expr("l2", "centroid", "__qvec").alias("score"),
    )
    return rank_topk(scored, nprobe, metric="l2").select(
        "query_id", F.col("vec_id").cast("int").alias("cluster_id")
    )


def ivf_search(
    index: IvfIndex,
    queries: DataFrame,
    k: int,
    nprobe: int,
    metric: str = "dot",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    strategy: str = "two_phase",
) -> DataFrame:
    """Stage 2: scan only the probed clusters and rank top-k per query
    (reference O28).

    ``strategy="join"`` is the declarative semantic definition: probes
    join onto the assigned table (the IN-filter/partition-prune) and a
    codegen'd fold scores each (query, candidate) pair.

    ``strategy="two_phase"`` (default) is the scale/speed path, the IVF
    analog of the flat two-phase scan (operators/topk.py O10-O12): the
    probed clusters are scanned once and fed to the shared certified_topk
    kernel. Each Arrow batch (which may span several clusters) is scored
    with one NumPy matmul restricted to the queries probing any of its
    clusters, and masked per (query, cluster). Only rows within the
    matmul's certified error bound of the batch's k-th best are
    re-scored with the sequential fold, so partials carry fold-exact
    scores, and one window merges them. The output equals the join
    definition by construction, with one scan of the layout and no
    rescoring join."""
    _require_single_assignment(index, "ivf_search")
    if strategy == "join":
        probes = probe_clusters(index, queries, nprobe, query_id_col, query_vec_col)
        q = F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("__qvec"),
            )
        )
        pruned = index.assigned.join(
            F.broadcast(probes), "cluster_id"
        )  # keeps only probed (query, cluster) slices
        scored = pruned.join(q, "query_id").select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            score_expr(metric, vec_col, "__qvec").alias("score"),
        )
        return rank_topk(scored, k, metric=metric)
    if strategy != "two_phase":
        raise ValueError(f"strategy must be 'join' or 'two_phase', got {strategy!r}")
    return _ivf_search_two_phase(
        index, queries, k, nprobe, metric, id_col, vec_col, query_id_col, query_vec_col
    )


def _ivf_search_two_phase(
    index, queries, k, nprobe, metric, id_col, vec_col, query_id_col, query_vec_col
) -> DataFrame:
    import numpy as np

    qids, qmat = collect_queries(queries, query_id_col, query_vec_col)
    # Stage-1 probing runs driver-side in NumPy (queries AND centroids
    # are both already on the driver — the fit is driver-side), saving
    # a Spark job per search; probe_ids_np replays probe_clusters
    # bit-exactly.
    mask = np.zeros((index.nlist, len(qids)), dtype=bool)
    if len(qids):
        for j, probed in enumerate(
            probe_ids_np(centroids_matrix(index), qmat, nprobe)
        ):
            mask[probed, j] = True
    clusters = np.flatnonzero(mask.any(axis=1)).tolist()
    scan = index.assigned.filter(F.col("cluster_id").isin(clusters)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col("cluster_id"),
    )
    return two_phase_topk(scan, qids, qmat, k, metric, probe_mask=mask)


def ivf_compact(
    spark: SparkSession, layout_path: str, tombstones: DataFrame
) -> list[int]:
    """Physical reclamation after deletions (the compaction half of the
    FAISS remove_ids lifecycle): rewrite ONLY the cluster partitions
    that contain tombstoned rows; every other cluster directory keeps
    its files untouched (pinned byte-identical in tests/test_ivf.py).

    Mechanics: survivors of the affected clusters are written to a
    staging directory partitioned by cluster_id, then swapped into the
    live layout per-partition — the rewrite-files-then-atomic-swap
    pattern every table format uses for compaction (on an object store
    the swap is the metadata/manifest commit). Cost scales with the
    affected clusters only: a 1% tombstone rate over nlist=4096 touches
    ~the clusters containing deletes, never the full 100 TB layout. A
    fully-tombstoned cluster's directory is removed outright (a missing
    partition value, which the reader and partition pruning handle
    natively).

    Returns the affected cluster ids (sorted).
    """
    import os
    import shutil

    base = spark.read.parquet(f"{layout_path}/base")
    affected = sorted(
        int(r["cluster_id"])
        for r in base.join(F.broadcast(tombstones), "vec_id", "left_semi")
        .select("cluster_id")
        .distinct()
        .collect()
    )
    if not affected:
        return []
    survivors = base.filter(
        F.col("cluster_id").isin([int(c) for c in affected])
    ).join(F.broadcast(tombstones), "vec_id", "left_anti")
    staging = f"{layout_path}/base_staging.{os.getpid()}"
    survivors.write.mode("overwrite").partitionBy("cluster_id").parquet(staging)
    for c in affected:
        live = os.path.join(layout_path, "base", f"cluster_id={c}")
        fresh = os.path.join(staging, f"cluster_id={c}")
        shutil.rmtree(live, ignore_errors=True)
        if os.path.isdir(fresh):  # absent = cluster fully tombstoned
            shutil.move(fresh, live)
    shutil.rmtree(staging, ignore_errors=True)
    return affected
