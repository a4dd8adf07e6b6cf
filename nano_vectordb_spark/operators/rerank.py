"""Diversified reranking: maximal marginal relevance (MMR) over the
candidate head of a vector search.

Search results cluster — near-duplicate passages crowd out coverage.
MMR (Carbonell & Goldstein, SIGIR'98) greedily picks the candidate
maximizing ``lambda * relevance - (1 - lambda) * max similarity to the
already-selected set``, trading relevance against redundancy.

Scale shape: the greedy loop is inherently sequential in k, but it only
ever touches the candidate HEAD (pool of ~50-100 rows per query) that a
distributed top-k already produced — the same head the refine stage
reranks. Like IVF probing (operators/ivf.probe_ids_np), the head is
driver-resident by contract, so the greedy runs in NumPy with zero
extra Spark jobs. The distributed work — scan, score, top-pool — stays
in the two-phase plan.

Float parity: lambda is fixed to 0.5 (exact dyadic — `0.5 * x` is a
single IEEE operation both engines perform identically, with no decimal
-literal rounding), similarities accumulate per-dimension left-to-right
(the list_dot_product / sequential-fold order), and normalization is
per-element x / sqrt(sum x^2) — so a DuckDB recursive CTE replays every
selection decision bit-exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nano_vectordb_spark.functions.vector import dot_np

from .topk import topk_multi

MMR_LAMBDA = 0.5  # exact dyadic by design — see module docstring
MAX_HEAD_ROWS = 1_000_000  # driver-residency guard (Q x pool)


def mmr_rerank(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    pool: int,
    metric: str = "dot",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``pool`` candidates per query (distributed two-phase scan),
    then greedy MMR down to ``k`` diversified results per query.

    Returns (query_id, vec_id, score, mmr_rank): score is the original
    relevance score; mmr_rank the diversified selection order."""
    # MMR trades relevance against similarity in the same space; a
    # distance metric would need a sign convention the objective doesn't
    # define — reject instead of silently maximizing distance.
    if metric not in ("dot", "cosine"):
        raise ValueError(f"mmr_rerank supports dot/cosine relevance, got {metric!r}")
    cand = topk_multi(base, queries, pool, metric=metric, strategy="two_phase")
    head = cand.join(
        base.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")),
        "vec_id",
    ).select("query_id", "vec_id", "score", "__v")
    rows = head.limit(MAX_HEAD_ROWS + 1).collect()
    if len(rows) > MAX_HEAD_ROWS:
        raise ValueError(
            f"MMR reranks the driver-resident candidate head and supports at "
            f"most {MAX_HEAD_ROWS} (query, candidate) rows; got more. Lower "
            f"the pool or split the query set."
        )
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r[0]), []).append(r)
    out: list[tuple[int, int, float, int]] = []
    for qid in sorted(by_q):
        rs = by_q[qid]
        ids = np.asarray([r[1] for r in rs], dtype=np.int64)
        mat = np.asarray([r[3] for r in rs], dtype=np.float64)
        # two-phase scores are already sequential-fold exact, so they
        # do not depend on partition/batch layout
        scores = np.asarray([r[2] for r in rs], dtype=np.float64)
        # per-element x / sqrt(sum x^2), the sum a sequential fold
        en = mat / np.sqrt(dot_np(mat, mat))[:, None]
        sim = dot_np(en[:, None, :], en[None, :, :])
        selected: list[int] = []
        remaining = np.ones(len(rs), dtype=bool)
        for step in range(min(k, len(rs))):
            if not selected:
                obj = scores.copy()
            else:
                maxsim = sim[:, selected].max(axis=1)
                obj = MMR_LAMBDA * scores - (1.0 - MMR_LAMBDA) * maxsim
            obj = np.where(remaining, obj, -np.inf)
            best_val = obj.max()
            # argmax with (obj desc, vec_id asc) tie-break, matching the
            # oracle's ORDER BY ... DESC, vec_id ASC
            tied = np.flatnonzero(obj == best_val)
            pick = int(tied[np.argmin(ids[tied])])
            selected.append(pick)
            remaining[pick] = False
            out.append((qid, int(ids[pick]), float(scores[pick]), step + 1))
    spark = base.sparkSession
    return spark.createDataFrame(
        out, "query_id long, vec_id long, score double, mmr_rank int"
    )
