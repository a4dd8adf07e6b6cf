"""Vector search core (reference O9-O17, O20-O21).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    _emb_dim,
    _qvec,
    DataFrame,
    F,
    K,
    NQ,
    SEED,
    SparkSession,
    _SQL_QUERIES,
    _SQL_TOPK_MULTI,
    _queries_df,
    _ser_f32_col,
    _ser_int_col,
    _sql_ser_f32,
    gt_ops,
    has_nan_expr,
    load_table,
    norm_expr,
    register,
    sample_ops,
    topk_ops,
)

# --------------------------------------------------------------------------
# Vector search core (reference O9-O17, O20-O21)
# --------------------------------------------------------------------------


@register(
    "topk_dot",
    oracle=f"""
SELECT vec_id,
       list_dot_product(CAST(embedding AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS score
FROM embeddings
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
)
def topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: single-query exact top-k by dot score (reference O9,
    src/flat_index.cpp:16-48)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 0)
    return topk_ops.topk(emb, qvec, K, metric="dot")


@register(
    "topk_filtered",
    oracle=f"""
SELECT vec_id,
       list_dot_product(CAST(embedding AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS score
FROM embeddings
WHERE label = 1
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
)
def topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact top-k restricted to a metadata
    predicate (label = 1) — the standard vector-DB filter feature in
    its pre-filter form. The equality predicate reaches the parquet
    scan as a pushed filter (pinned in tests/test_plans.py), so at
    100 TB only matching row groups are decoded and scored;
    post-filtering an ANN result would under-fill k instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 0)
    return topk_ops.topk(
        emb.filter(F.col("label") == 1), qvec, K, metric="dot"
    )


@register(
    "topk_l2",
    oracle=f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       list_aggregate(list_transform(list_zip(CAST(embedding AS DOUBLE[]), (SELECT v FROM q)),
         p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS score
FROM embeddings
ORDER BY score ASC, vec_id ASC
LIMIT {K}
""",
)
def topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query exact top-k by L2^2 distance (reference O7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 0)
    return topk_ops.topk(emb, qvec, K, metric="l2")


@register(
    "topk_cosine",
    oracle=f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 7)
SELECT vec_id,
       list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT v FROM q))
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product((SELECT v FROM q), (SELECT v FROM q)))) AS score
FROM embeddings
ORDER BY score DESC, vec_id ASC
LIMIT {K}
""",
)
def topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 7)
    return topk_ops.topk(emb, qvec, K, metric="cosine")


@register("topk_multi_window", oracle=_SQL_TOPK_MULTI)
def topk_multi_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query exact top-k, declarative strategy
    (reference O14, apps/nvdb_bench.cpp:47-159)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_ops.topk_multi(emb, _queries_df(spark, sf_dir), K, strategy="window")


@register("topk_multi_twophase", oracle=_SQL_TOPK_MULTI)
def topk_multi_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query exact top-k, partial/final strategy
    (reference O10-O12 heap-merge pattern); its partials carry
    sequential-fold scores, so the output is bit-identical to the
    declarative definition."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_ops.topk_multi(emb, _queries_df(spark, sf_dir), K, strategy="two_phase")


@register(
    "gt_build",
    oracle=f"""
WITH ranked AS ({_SQL_TOPK_MULTI})
SELECT query_id, CAST({K} AS INT) AS k,
       array_to_string(list(vec_id ORDER BY rank ASC), ',') AS gt_ids
FROM ranked GROUP BY query_id
""",
)
def gt_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN ground truth (reference O16, apps/nvdb_gt_build.cpp:74-124).

    gt_ids is emitted as a comma-joined string (canonical serialization
    of the gtbin ids artifact, apps/nvdb_gt_build.cpp:107-124)."""
    emb = load_table(spark, sf_dir, "embeddings")
    gt = gt_ops.gt_build(emb, _queries_df(spark, sf_dir), K)
    return gt.withColumn("gt_ids", _ser_int_col("gt_ids"))


@register(
    "sample_queries",
    oracle=f"""
SELECT query_id, source_vec_id, {_sql_ser_f32('embedding')} AS embedding
FROM ({_SQL_QUERIES})
""",
)
def sample_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded query sampling (reference O21, tools/nvdb_make_query.cpp:56-75).

    The vector is emitted in canonical string serialization."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sample_ops.sample_queries(emb, NQ, seed=SEED, mode="random")
    return q.withColumn("embedding", _ser_f32_col("embedding"))


@register(
    "slice_first_n",
    oracle=f"""
SELECT vec_id, {_sql_ser_f32('embedding')} AS embedding, label
FROM embeddings ORDER BY vec_id ASC LIMIT 100
""",
)
def slice_first_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-n slice (reference O20, tools/nvdb_slice.cpp:27-75)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    return sample_ops.slice_first_n(emb, 100).withColumn(
        "embedding", _ser_f32_col("embedding")
    )


@register(
    "sanity_stats",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count_if(len(embedding) <> (SELECT max(len(embedding)) FROM embeddings)) AS BIGINT) AS n_bad_dim,
       CAST(count_if(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(isnan(x) OR isinf(x) AS INT)), 'sum') > 0) AS BIGINT) AS n_nonfinite,
       min(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS min_norm,
       max(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS max_norm,
       round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS avg_norm
FROM embeddings
""",
)
def sanity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data sanity invariants (reference O24, apps/nvdb_sanity.cpp:7-47):
    NaN/Inf absence, dimension consistency, L2-norm spread."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(spark, sf_dir)
    return emb.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.size("embedding") != F.lit(dim)).cast("long")).alias("n_bad_dim"),
        F.sum(has_nan_expr("embedding").cast("long")).alias("n_nonfinite"),
        F.min(norm_expr("embedding")).alias("min_norm"),
        F.max(norm_expr("embedding")).alias("max_norm"),
        F.round(F.avg(norm_expr("embedding")), 6).alias("avg_norm"),
    )


