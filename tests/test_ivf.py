"""IVF self-oracle tests (SURVEY.md §5b): the exact scan is ground
truth; recall must be monotone in nprobe and exactly 1.0 at
nprobe = nlist (probing everything == flat scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nano_vectordb_spark.operators import gt as gt_ops
from nano_vectordb_spark.operators import ivf as ivf_ops
from nano_vectordb_spark.operators import sample as sample_ops
from nano_vectordb_spark.operators import topk as topk_ops
from tests.conftest import SF_CORRECT

K = 10
NLIST = 16


@pytest.fixture(scope="module")
def setup(spark):
    base = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    queries = sample_ops.sample_queries(base, 20, seed=42)
    index = ivf_ops.ivf_build(base, nlist=NLIST, seed=42)
    index.assigned = index.assigned.cache()
    gt = gt_ops.gt_build(base, queries, K).select("query_id", "gt_ids")
    return base, queries, index, gt


def _recall(index, queries, gt, nprobe):
    pred = gt_ops.gt_from_topk(
        ivf_ops.ivf_search(index, queries, K, nprobe=nprobe), K
    ).select("query_id", F.col("gt_ids").alias("pred_ids"))
    return gt_ops.recall_at_k(gt, pred, K).first().recall_at_k


def test_full_probe_is_exact(setup):
    base, queries, index, gt = setup
    assert _recall(index, queries, gt, NLIST) == 1.0


def test_recall_monotone_in_nprobe(setup):
    base, queries, index, gt = setup
    recalls = [_recall(index, queries, gt, p) for p in (1, 4, NLIST)]
    assert recalls == sorted(recalls), recalls
    assert recalls[0] > 0.2  # probing the best cluster finds a fair share


def test_partition_layout_roundtrip(setup, tmp_path):
    base, queries, index, gt = setup
    path = str(tmp_path / "ivf")
    ivf_ops.ivf_write(index, path)
    spark = base.sparkSession
    loaded = ivf_ops.ivf_read(spark, path)
    assert loaded.nlist == NLIST
    # partition-pruned read: filtering one cluster must not scan others —
    # check the physical layout exists per cluster
    import os

    parts = [d for d in os.listdir(f"{path}/base") if d.startswith("cluster_id=")]
    assert len(parts) == NLIST
    # and search over the persisted layout is identical to in-memory
    a = ivf_ops.ivf_search(index, queries, K, nprobe=4).orderBy("query_id", "rank")
    b = ivf_ops.ivf_search(loaded, queries, K, nprobe=4).orderBy("query_id", "rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_ivf_write_one_file_per_list(setup, tmp_path):
    """ivf_write rebalances rows by cluster_id before the partitioned
    write: each inverted list is one file, not one per input partition
    (at test scale no list is large enough for AQE to split)."""
    import dataclasses
    import os

    base, queries, index, gt = setup
    path = str(tmp_path / "ivf_files")
    # four input partitions, each holding rows of every list
    spread = dataclasses.replace(index, assigned=index.assigned.repartition(4))
    ivf_ops.ivf_write(spread, path)
    lists = [d for d in os.listdir(f"{path}/base") if d.startswith("cluster_id=")]
    assert len(lists) == NLIST
    for d in lists:
        files = [f for f in os.listdir(f"{path}/base/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_ivf_add_equals_bulk_assignment(setup):
    base, queries, index, gt = setup
    # split the base, rebuild on one part, add the other: because
    # assignment depends only on the frozen centroids, search must
    # equal the same index with all rows assigned from the start
    part_a = base.filter("vec_id % 5 <> 0")
    part_b = base.filter("vec_id % 5 = 0")
    idx_a = ivf_ops.ivf_build(part_a, nlist=NLIST, seed=42)
    idx_added = ivf_ops.ivf_add(idx_a, part_b)
    assert idx_added.assigned.count() == base.count()
    from nano_vectordb_spark.functions import kmeans as km

    bulk = ivf_ops.IvfIndex(
        centroids=idx_a.centroids,
        assigned=km.assign_clusters(base, ivf_ops.centroids_matrix(idx_a)),
        nlist=idx_a.nlist,
        centroids_np=idx_a.centroids_np,
    )
    a = ivf_ops.ivf_search(idx_added, queries, K, nprobe=4).orderBy("query_id", "rank")
    b = ivf_ops.ivf_search(bulk, queries, K, nprobe=4).orderBy("query_id", "rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_ivf_compact_rewrites_only_affected_partitions(setup, tmp_path):
    """Compaction contract: tombstoned rows physically gone, survivors
    intact, and every cluster WITHOUT tombstones keeps its files
    byte-identical (same names, sizes, mtimes)."""
    import os

    base, queries, index, gt = setup
    spark = base.sparkSession
    path = str(tmp_path / "ivfc")
    ivf_ops.ivf_write(index, path)

    # tombstone a handful of ids from a couple of clusters
    some = (
        index.assigned.filter(F.col("cluster_id").isin([0, 3]))
        .select("vec_id")
        .limit(5)
    )
    tomb_ids = {r["vec_id"] for r in some.collect()}
    tombstones = spark.createDataFrame(
        [(int(v),) for v in tomb_ids], "vec_id long"
    )
    affected_expect = {
        r["cluster_id"]
        for r in index.assigned.filter(F.col("vec_id").isin(list(tomb_ids)))
        .select("cluster_id")
        .distinct()
        .collect()
    }

    def listing(cluster):
        d = os.path.join(path, "base", f"cluster_id={cluster}")
        if not os.path.isdir(d):
            return None
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(".")
        )

    before = {c: listing(c) for c in range(NLIST)}
    affected = ivf_ops.ivf_compact(spark, path, tombstones)
    assert set(affected) == affected_expect

    for c in range(NLIST):
        if c not in affected_expect:
            assert listing(c) == before[c], f"cluster {c} was touched"

    compacted = spark.read.parquet(f"{path}/base")
    got_ids = {r["vec_id"] for r in compacted.select("vec_id").collect()}
    want_ids = {
        r["vec_id"] for r in index.assigned.select("vec_id").collect()
    } - tomb_ids
    assert got_ids == want_ids

    # search over the compacted layout == search over the logical delete
    alive = ivf_ops.IvfIndex(
        centroids=index.centroids,
        assigned=index.assigned.join(
            F.broadcast(tombstones), "vec_id", "left_anti"
        ),
        nlist=index.nlist,
        centroids_np=index.centroids_np,
    )
    reloaded = ivf_ops.ivf_read(spark, path, nlist=NLIST)
    a = ivf_ops.ivf_search(alive, queries, K, nprobe=4).orderBy("query_id", "rank")
    b = ivf_ops.ivf_search(reloaded, queries, K, nprobe=4).orderBy("query_id", "rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_ivf_compact_noop_without_tombstones(setup, tmp_path):
    base, queries, index, gt = setup
    spark = base.sparkSession
    path = str(tmp_path / "ivfn")
    ivf_ops.ivf_write(index, path)
    empty = spark.createDataFrame([], "vec_id long")
    assert ivf_ops.ivf_compact(spark, path, empty) == []
