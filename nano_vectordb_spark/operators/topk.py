"""Exact top-k nearest-neighbor search (the reference's flagship path).

Reference surface covered (SURVEY.md §2.1):
  O9  single-query full-scan top-k      (src/flat_index.cpp:16-48)
  O10-O12 partial/final parallel top-k  (src/flat_index_omp.cpp:16-85,
          flat_index_async.cpp:10-55, flat_index_pool.cpp:29-215)
  O13 TopKBuffer partial-agg buffer     (include/nvdb/topK.h:15-69)
  O14 batched multi-query scan          (apps/nvdb_bench.cpp:47-159)

Two physical strategies behind one logical contract:

* ``window``  — declarative: cross-join broadcast queries, score with a
  codegen'd expression, rank with a window. Catalyst output; used as the
  semantic definition and the oracle-checked path.
* ``two_phase`` — the scale path, mirroring the reference's per-thread
  heap + merge (O10-O12): ``mapInArrow`` runs certified_topk, which
  scores each Arrow batch with one NumPy matmul (the analog of the
  reference's batched SIMD tile loop, apps/nvdb_bench.cpp:87-121),
  keeps only the rows the matmul's certified error bound cannot rule
  out, and re-scores those with the sequential fold; a final window over
  the tiny Q x partitions x k remainder merges partials. The Q x N
  intermediate never shuffles; only Q x P x k rows cross the exchange.
  Because partial scores are fold-exact, the result equals ``window``'s,
  scores included. ivf_search's two-phase path shares the kernel.

Scores are double precision. Tie-break is always (score desc, vec_id asc)
so results are deterministic across strategies and match the oracle.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nano_vectordb_spark.functions.vector import (
    cosine_expr,
    cosine_np,
    dot_expr,
    dot_np,
    l2sq_expr,
    l2sq_np,
)

METRICS = ("dot", "l2", "cosine")
PARTIAL_SCHEMA = "query_id long, vec_id long, score double"
RESULT_SCHEMA = "query_id long, vec_id long, score double, rank int"

# the reference's query-batch contract (apps/nvdb_gt_build.cpp:50-53)
MAX_BROADCAST_QUERIES = 10_000


def score_expr(metric: str, a, b) -> Column:
    """Score dispatch (reference O8, include/nvdb/score_dispatch.h:13-48):
    pick the scoring expression at plan-build time."""
    if metric == "dot":
        return dot_expr(a, b)
    if metric == "l2":
        return l2sq_expr(a, b)
    if metric == "cosine":
        return cosine_expr(a, b)
    raise ValueError(f"metric must be one of {METRICS}, got {metric!r}")


def score_np(metric: str, a, b):
    """NumPy twin of score_expr over row-aligned (P, D) pairs,
    bit-identical (functions/vector.py)."""
    return {"dot": dot_np, "l2": l2sq_np, "cosine": cosine_np}[metric](a, b)


def _ordering(metric: str) -> list[Column]:
    # dot/cosine: higher is better; l2: lower is better.
    lead = F.col("score").asc() if metric == "l2" else F.col("score").desc()
    return [lead, F.col("vec_id").asc()]


def rank_topk(scored: DataFrame, k: int, metric: str = "dot") -> DataFrame:
    """Rank a pre-scored (query_id, vec_id, score, ...) relation and keep
    the best k per query. Lets any scoring space (f32, i8+scale, f16,
    PQ/ADC) share one ranking definition — the reference's TopKBuffer
    contract (O13)."""
    return (
        scored.withColumn("rank", F.row_number().over(_rank_window(metric)))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def check_dim(base: DataFrame, dim: int, vec_col: str = "embedding") -> None:
    """Dimension-compatibility check (reference apps/nvdb_bench.cpp:
    288-292). Without it a mismatched query silently null-pads through
    zip_with and produces null scores."""
    row = base.select(F.size(vec_col)).first()
    if row is not None and row[0] != dim:
        raise ValueError(f"query dim {dim} != base dim {row[0]}")


def topk(
    base: DataFrame,
    query_vec: Sequence[float],
    k: int,
    metric: str = "dot",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: bool = True,
) -> DataFrame:
    """Single-query exact top-k (reference O9, src/flat_index.cpp:16-48).

    Physical shape: scan -> codegen'd score -> TakeOrderedAndProject,
    which is exactly the reference's per-partition heap + global merge —
    Spark plans the partial top-k per partition automatically.

    Validation is IN-PLAN (reference apps/nvdb_bench.cpp:288-292): a
    per-row size guard that raise_error()s on the first mismatched
    vector. Stronger than the old first-row probe (every row is
    checked, matching the reference's per-row bounds checks) and free
    of the extra driver job the probe cost on every plan build.
    """
    q = F.lit([float(x) for x in query_vec]).cast("array<double>")
    score = score_expr(metric, vec_col, q)
    if validate:
        dim = len(query_vec)
        score = F.when(F.size(vec_col) == dim, score).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"query dim {dim} != base dim "),
                    F.size(vec_col).cast("string"),
                )
            )
        )
    scored = base.select(
        F.col(id_col).alias("vec_id"),
        score.alias("score"),
    )
    return scored.orderBy(*_ordering(metric)).limit(k)


def topk_multi(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "dot",
    strategy: str = "two_phase",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Batched multi-query exact top-k (reference O14).

    Returns (query_id, vec_id, score, rank) with rank in [1, k].
    """
    if strategy == "window":
        return _topk_multi_window(
            base, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col
        )
    if strategy == "two_phase":
        return _topk_multi_two_phase(
            base, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col
        )
    raise ValueError(f"strategy must be 'window' or 'two_phase', got {strategy!r}")


def _rank_window(metric: str):
    return Window.partitionBy("query_id").orderBy(*_ordering(metric))


def _topk_multi_window(
    base, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col
) -> DataFrame:
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qvec"),
        )
    )
    scored = base.crossJoin(q).select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        score_expr(metric, vec_col, "__qvec").alias("score"),
    )
    return (
        scored.withColumn("rank", F.row_number().over(_rank_window(metric)))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def _topk_multi_two_phase(
    base, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col
) -> DataFrame:
    qids, qmat = collect_queries(queries, query_id_col, query_vec_col)
    scan = base.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    return two_phase_topk(scan, qids, qmat, k, metric)


def collect_queries(
    queries: DataFrame, query_id_col: str, query_vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """The query batch on the driver as (ids int64 (Q,), vectors float64
    (Q, D)). Queries are small by contract (reference: Q <= 10000,
    apps/nvdb_gt_build.cpp:50-53) and two_phase_topk ships them to every
    task, like the reference shares the query batch across threads. The
    limit+check guards the driver: a mis-call with a huge "queries" side
    fails fast instead of OOMing the collect."""
    qrows = queries.select(query_id_col, query_vec_col).limit(
        MAX_BROADCAST_QUERIES + 1
    ).collect()
    if len(qrows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"two_phase broadcasts the query batch to every task and supports "
            f"at most {MAX_BROADCAST_QUERIES} queries (the reference's Q "
            f"contract); got more. Split the query set or use a join-based plan."
        )
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    return qids, qmat.reshape(len(qrows), -1 if qrows else 0)


def two_phase_topk(
    scan: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    metric: str,
    probe_mask: np.ndarray | None = None,
) -> DataFrame:
    """Top-k per query of ``scan`` (vec_id, embedding[, cluster_id]) in
    one pass: certified_topk per partition, then a window merge over the
    Q x partitions x k partials. With ``probe_mask`` ((nlist, Q) bool),
    a row is a candidate for query j only if probe_mask[cluster_id, j].
    Output equals ``rank_topk`` over the sequential-fold scores of the
    same (query, row) pairs, scores included."""
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}, got {metric!r}")
    spark = scan.sparkSession
    if len(qids) == 0:
        return spark.createDataFrame([], RESULT_SCHEMA)
    kernel = functools.partial(
        certified_topk,
        k=k,
        metric=metric,
        queries=spark.sparkContext.broadcast((qids, qmat, probe_mask)),
    )
    return rank_topk(scan.mapInArrow(kernel, PARTIAL_SCHEMA), k, metric)


def _gamma(n: int) -> float:
    """Higham's gamma_n = n*u / (1 - n*u): the relative error bound of
    an n-term float64 sum of products, in any summation order."""
    u = 2.0**-53
    return n * u / (1 - n * u)


def _matmul_scores(metric, bm, qm, qnorm):
    """Matmul scores of every (row, query) pair, (n, Qs), and per query
    a bound e (Qs,) with |matmul score - sequential-fold score| <= e for
    every row of the batch. Each bound is at least twice the sum of the
    two scores' errors against the exact value, which covers the
    rounding of the norms it is built from; the (D + 4) * 2**-1070 term
    covers underflow. Non-finite values only ever widen the candidate
    set (see certified_topk)."""
    dim = bm.shape[1]
    tiny = (dim + 4) * 2.0**-1070
    dots = bm @ qm.T
    b2 = np.einsum("ij,ij->i", bm, bm)
    bnorm = np.sqrt(b2)
    if metric == "dot":  # each within gamma_D |b||q|
        return dots, 4 * _gamma(dim + 1) * bnorm.max() * qnorm + tiny
    if metric == "cosine":  # each within 2 gamma_{D+3} (|cos| <= 1)
        s = dots / (bnorm[:, None] * qnorm[None, :])
        return s, 8 * _gamma(dim + 3) + tiny / (bnorm.min() * qnorm)
    # l2 as |b|^2 - 2 b.q + |q|^2: each within gamma_{D+2} (|b| + |q|)^2
    s = b2[:, None] - 2.0 * dots + (qnorm * qnorm)[None, :]
    return s, 4 * _gamma(dim + 2) * (bnorm.max() + qnorm) ** 2 + tiny


def _embedding_matrix(col, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix straight off a list<float|double> Arrow
    column's flat values buffer (no per-row arrays)."""
    offsets = col.offsets.to_numpy()
    if col.null_count or np.any(np.diff(offsets) != dim):
        raise ValueError(
            f"two_phase top-k needs non-null embeddings of the query dim {dim}"
        )
    flat = col.values.slice(offsets[0], len(col) * dim)
    return flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)


def _best_k(qi, ids, score, k: int, largest: bool):
    """The first k (query, vec_id, score) triples per query index by
    (score, vec_id asc) in Spark's order: NaN sorts above every number,
    so it leads a descending ranking and trails an ascending one."""
    nan = np.isnan(score)
    order = np.lexsort(
        (ids, -score if largest else score, ~nan if largest else nan, qi)
    )
    qi, ids, score = qi[order], ids[order], score[order]
    start = np.r_[0, np.flatnonzero(np.diff(qi)) + 1]
    pos = np.arange(qi.size) - np.repeat(start, np.diff(np.r_[start, qi.size]))
    keep = pos < k
    return qi[keep], ids[keep], score[keep]


def certified_topk(
    batches: Iterator[pa.RecordBatch], k: int, metric: str, queries
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` kernel: one partition's top-k per query, with
    sequential-fold scores (functions/vector.py), so its winners are
    exactly the declarative top-k by (score, vec_id asc).

    Per Arrow batch: one matmul scores every (row, query) pair; a row
    stays a candidate for query j unless its matmul score is worse than
    the batch's k-th best for j by more than twice the certified error
    bound e_j (_matmul_scores), i.e. unless at least k rows provably
    beat it. Only the candidates -- about k per query -- are re-scored
    with the fold (vectorized over all candidate pairs) and merged into
    the partition's running top-k. ``queries`` is a broadcast of (ids,
    vectors, probe mask or None); see two_phase_topk."""
    qids, qmat, probe_mask = queries.value
    largest = metric != "l2"
    qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
    best = None
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        qsel, allowed = np.arange(len(qids)), None
        if probe_mask is not None:
            allowed = probe_mask[batch.column("cluster_id").to_numpy()]
            qsel = np.flatnonzero(allowed.any(axis=0))
            if qsel.size == 0:
                continue
            allowed = allowed[:, qsel]
        bm = _embedding_matrix(batch.column("embedding"), qmat.shape[1])
        s, e = _matmul_scores(metric, bm, qmat[qsel], qnorm[qsel])
        key = -s if largest else s  # lower is better
        if allowed is not None:
            key[~allowed] = np.inf
        cand = np.ones(key.shape, dtype=bool) if allowed is None else allowed
        if n > k:
            thr = np.partition(key, k - 1, axis=0)[k - 1] + 2 * e
            thr[~np.isfinite(thr)] = np.inf  # no certified cut: keep all
            cand = cand & ~(key > thr)  # NaN keys stay candidates
        rows, cols = np.nonzero(cand)
        score = score_np(metric, bm[rows], qmat[qsel[cols]])
        ids = np.asarray(batch.column("vec_id").to_numpy(), dtype=np.int64)[rows]
        new = (qsel[cols], ids, score)
        if best is not None:
            new = tuple(np.concatenate(pair) for pair in zip(best, new))
        best = _best_k(*new, k, largest)
    if best is not None:
        qi, ids, score = best
        yield pa.RecordBatch.from_arrays(
            [pa.array(qids[qi]), pa.array(ids), pa.array(score)],
            names=["query_id", "vec_id", "score"],
        )


def exact_rescore(
    base: DataFrame,
    queries: DataFrame,
    result: DataFrame,
    metric: str = "dot",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Recompute scores of a (query_id, vec_id) candidate set with the
    exact sequential-fold expression and re-rank.

    For candidate sets whose scores are not fold-exact: approximate
    scorers (quantized codes, graph search, pooled candidates from a
    different space) rank in their own arithmetic, and this restores
    the declarative definition's scores and order. topk_multi and
    ivf_search already emit fold-exact scores, so rescoring their
    output returns it unchanged. The candidate set is tiny (Q x k), so
    this is a broadcast join + expression — same role as the
    reference's exact-refine rerank (apps/nvdb_ivf_eval.cpp:278-307).
    """
    cand = F.broadcast(result.select("query_id", "vec_id"))
    joined = (
        cand.join(
            base.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__bvec")),
            "vec_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(query_vec_col).alias("__qvec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            score_expr(metric, "__bvec", "__qvec").alias("score"),
        )
    )
    return joined.withColumn(
        "rank", F.row_number().over(_rank_window(metric))
    ).select("query_id", "vec_id", "score", "rank")
