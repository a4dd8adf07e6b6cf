"""The certified two-phase top-k kernel (operators/topk.certified_topk)
against its declarative definitions.

The two-phase paths pick candidates by NumPy matmul score, which rounds
differently from the sequential fold that defines every score. On data
whose fold scores differ only in the last ulps, picking by matmul score
alone returns a different top-k set than ``strategy="window"`` /
``strategy="join"`` and the DuckDB oracle. The kernel keeps every row
the matmul's certified error bound cannot rule out and re-scores those
with the fold, so its output must equal the definitions exactly:
ids, ranks and scores.
"""

from __future__ import annotations

import types

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nano_vectordb_spark.operators import ivf as ivf_ops
from nano_vectordb_spark.operators import topk as topk_ops

K = 10
DIM = 16


def _ulp_tie_base(n: int = 400, seed: int = 109) -> list[np.ndarray]:
    """Permutations of one vector whose entries span six decades: every
    row has the same exact dot with the all-ones query, so their fold
    scores differ only by rounding, and matmul rounding reorders them."""
    rng = np.random.default_rng(seed)
    v = (rng.standard_normal(DIM) * 10.0 ** rng.integers(-3, 4, DIM)).astype(
        np.float32
    )
    return [rng.permutation(v) for _ in range(n)]


def _rows(vectors, first_id: int = 0):
    return [(first_id + i, [float(x) for x in v]) for i, v in enumerate(vectors)]


@pytest.fixture(scope="module")
def ulp_frames(spark):
    base = _ulp_tie_base()
    # exact duplicates of rows near the top, under higher ids: fold
    # scores tie bit-for-bit, so only vec_id asc orders them
    dups = [base[i] for i in (2, 3, 4, 0, 15)]
    schema = "vec_id long, embedding array<float>"
    big = spark.createDataFrame(_rows(base) + _rows(dups, 1000), schema)
    # hash partitioning on 3 distinct keys into 8 partitions leaves at
    # least 5 partitions empty; the 3-row frame is a partition with
    # fewer than k rows
    big = big.repartition(8, F.col("vec_id") % 3)
    small = spark.createDataFrame(_rows(base[-3:], 2000), schema).coalesce(1)
    queries = spark.createDataFrame(
        [(0, [1.0] * DIM), (1, [float(x) for x in base[7]])],
        "query_id long, embedding array<float>",
    )
    return big.unionByName(small), queries


@pytest.fixture
def tiny_batches(spark):
    """Arrow batches of 7 rows (< k): candidates cross batch
    boundaries and most batches hold fewer than k rows."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


def _ranked(df):
    return [tuple(r) for r in df.orderBy("query_id", "rank").collect()]


def test_ulp_tie_repro(spark):
    """The defect's reproduction: on one partition and default batches,
    the two-phase top-k by dot equals the window definition."""
    base = spark.createDataFrame(_rows(_ulp_tie_base()), "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(0, [1.0] * DIM)], "query_id long, embedding array<float>")
    got = _ranked(topk_ops.topk_multi(base, queries, K))
    assert [r[1] for r in got] == [2, 3, 4, 5, 6, 8, 10, 11, 12, 14]
    assert got == _ranked(topk_ops.topk_multi(base, queries, K, strategy="window"))


@pytest.mark.parametrize("metric", topk_ops.METRICS)
def test_two_phase_topk_equals_window(ulp_frames, tiny_batches, metric):
    base, queries = ulp_frames
    want = _ranked(topk_ops.topk_multi(base, queries, K, metric, strategy="window"))
    got = topk_ops.topk_multi(base, queries, K, metric)
    assert _ranked(got) == want
    # the rescoring join is now a no-op on two-phase output
    assert _ranked(topk_ops.exact_rescore(base, queries, got, metric)) == want


@pytest.mark.parametrize("metric", topk_ops.METRICS)
def test_two_phase_ivf_equals_join(ulp_frames, tiny_batches, metric):
    base, queries = ulp_frames
    index = ivf_ops.ivf_build(base, nlist=2, seed=42)
    for nprobe in (1, 2):
        want = _ranked(
            ivf_ops.ivf_search(index, queries, K, nprobe, metric, strategy="join")
        )
        assert _ranked(ivf_ops.ivf_search(index, queries, K, nprobe, metric)) == want


# -- the kernel alone, against a NumPy definition (many examples) --------


def _reference(vecs, ids, qmat, k, metric, allowed):
    """Per query: fold-score every allowed row, rank by (score, vec_id
    asc), keep k — rank_topk over score_expr, in NumPy."""
    out = []
    for j in range(qmat.shape[0]):
        rows = np.flatnonzero(allowed[:, j])
        s = topk_ops.score_np(metric, vecs[rows], np.broadcast_to(qmat[j], vecs[rows].shape))
        order = np.lexsort((ids[rows], -s if metric != "l2" else s))[:k]
        out += [(j, int(ids[rows][i]), float(s[i])) for i in order]
    return sorted(out)


def _run_kernel(vecs, ids, qmat, k, metric, cuts, clusters=None, mask=None):
    batches = []
    for lo, hi in zip([0, *cuts], [*cuts, len(ids)]):
        cols = {
            "vec_id": pa.array(ids[lo:hi], pa.int64()),
            "embedding": pa.array([list(v) for v in vecs[lo:hi]], pa.list_(pa.float32())),
        }
        if clusters is not None:
            cols["cluster_id"] = pa.array(clusters[lo:hi], pa.int32())
        batches.append(pa.RecordBatch.from_pydict(cols))
    qids = np.arange(qmat.shape[0], dtype=np.int64)
    bq = types.SimpleNamespace(value=(qids, qmat, mask))
    got = []
    for b in topk_ops.certified_topk(iter(batches), k, metric, bq):
        got += zip(*(b.column(c).to_pylist() for c in ("query_id", "vec_id", "score")))
    return sorted(got)


@st.composite
def _kernel_case(draw):
    n = draw(st.integers(0, 60))
    dim = draw(st.integers(1, 8))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    # entries spanning decades; a few exact duplicate rows
    vecs = (rng.standard_normal((n, dim)) * 10.0 ** rng.integers(-3, 4, (n, dim))).astype(
        np.float32
    )
    for i in range(1, n, 5):
        vecs[i] = vecs[draw(st.integers(0, i - 1))]
    ids = rng.permutation(n).astype(np.int64)
    qmat = rng.standard_normal((draw(st.integers(1, 4)), dim))
    if draw(st.booleans()):  # the ulp-tie regime: permutations, ones query
        vecs = np.array([rng.permutation(vecs[0]) for _ in range(n)]) if n else vecs
        qmat[0] = 1.0
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=6)))
    return vecs, ids, qmat, draw(st.integers(1, 12)), cuts, rng


@given(case=_kernel_case(), metric=st.sampled_from(topk_ops.METRICS))
@settings(max_examples=150, deadline=None)
def test_kernel_equals_fold_topk(case, metric):
    vecs, ids, qmat, k, cuts, _rng = case
    allowed = np.ones((len(ids), qmat.shape[0]), dtype=bool)
    want = _reference(vecs.astype(np.float64), ids, qmat, k, metric, allowed)
    assert _run_kernel(vecs, ids, qmat, k, metric, cuts) == want


@given(case=_kernel_case(), metric=st.sampled_from(topk_ops.METRICS))
@settings(max_examples=100, deadline=None)
def test_kernel_respects_probe_mask(case, metric):
    vecs, ids, qmat, k, cuts, rng = case
    nlist = 3
    clusters = rng.integers(0, nlist, len(ids))
    mask = rng.random((nlist, qmat.shape[0])) < 0.6
    want = _reference(vecs.astype(np.float64), ids, qmat, k, metric, mask[clusters])
    assert _run_kernel(vecs, ids, qmat, k, metric, cuts, clusters, mask) == want
