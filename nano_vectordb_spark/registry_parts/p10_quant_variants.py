"""Binary/SQ8 quantization, ORC, TF-IDF, subqueries, anomalies, retrieval metrics, Matryoshka, snapshot diff, SymSpell, retention, IVF delete/compact, schema evolution, kNN self-join.

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    _emb_dim,
    _qvec,
    DataFrame,
    F,
    K,
    SparkSession,
    Window,
    _SQL_TOPK_MULTI,
    _math,
    _queries_df,
    ivf_ops,
    load_table,
    qz,
    register,
    topk_ops,
    tx,
)
from nano_vectordb_spark.registry_parts.p02_quantize_refine import (  # noqa: F401
    _SQL_TOPK_I8,
    _topk_i8_df,
)
from nano_vectordb_spark.registry_parts.p03_ivf import (  # noqa: F401
    _INDEX_CACHE,
    _IVF_NLIST,
    _IVF_NPROBE,
    _ORACLE_SF,
    _fit_cached,
    _ivf_index,
    _ivf_oracle,
    _materialize_once,
    _oracle_centroids_np,
    _sql_l2,
)
from nano_vectordb_spark.registry_parts.p00_base import _dlist  # noqa: F401
from nano_vectordb_spark.registry_parts.p05_text import _SQL_TOKS  # noqa: F401
from nano_vectordb_spark.registry_parts.p00_base import _sql_view_query  # noqa: F401

# --------------------------------------------------------------------------
# Binary (1-bit sign) quantization + Hamming candidate search
# --------------------------------------------------------------------------

_BINQ_R = 50

# DuckDB replay of the two-half sign signature (operators/binaryq.py):
# bit j of the lo/hi word is 1 iff dim j / j+32 is strictly positive.
_SQL_BINQ_SIG = """
  SELECT vec_id,
    CAST(list_aggregate(list_transform(range(0,32),
      i -> CASE WHEN embedding[CAST(i AS INT)+1] > 0
                THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS sig_lo,
    CAST(list_aggregate(list_transform(range(32,64),
      i -> CASE WHEN embedding[CAST(i AS INT)+1] > 0
                THEN (CAST(1 AS BIGINT) << CAST(i-32 AS INT))
                ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS sig_hi
  FROM embeddings
"""


@register(
    "topk_binary_rescore",
    oracle=f"""
WITH sig AS ({_SQL_BINQ_SIG}),
qs AS (SELECT sig_lo, sig_hi FROM sig WHERE vec_id = 0),
cand AS (
  SELECT s.vec_id,
         CAST(bit_count(xor(s.sig_lo, (SELECT sig_lo FROM qs)))
            + bit_count(xor(s.sig_hi, (SELECT sig_hi FROM qs))) AS INT) AS hamming
  FROM sig s
  ORDER BY hamming ASC, s.vec_id ASC
  LIMIT {_BINQ_R}
),
scored AS (
  SELECT c.vec_id, c.hamming,
         list_dot_product(CAST(e.embedding AS DOUBLE[]),
           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS score
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
)
SELECT vec_id, hamming, score, rank FROM (
  SELECT vec_id, hamming, score,
         CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= {K}
""",
)
def topk_binary_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization search: the coarsest rung of the
    reference's precision ladder (O5/O6/O23 codecs + the staged
    candidates->refine pipeline O32). The 8-byte-per-vector signature
    table is materialized once as its own parquet sink (vec_id, sig_lo,
    sig_hi — 32x fewer scan bytes than f32 at D=64); stage 1 ranks it
    by xor+bit_count Hamming distance into a TakeOrderedAndProject
    top-{_BINQ_R}; stage 2 broadcast-joins the {_BINQ_R} survivors back
    to the f32 table for an exact dot rescore. At 100 TB the
    full-precision table is probed by id, never scanned."""
    import hashlib
    import os as _os

    from nano_vectordb_spark.operators import binaryq as binq

    st = _os.stat(_os.path.join(sf_dir, "embeddings.parquet"))
    path = "/tmp/nvdb_binsig_" + hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]

    def _write(p: str) -> None:
        emb_w = load_table(spark, sf_dir, "embeddings")
        binq.with_signature(emb_w).select("vec_id", "sig_lo", "sig_hi").write.mode(
            "overwrite"
        ).parquet(p)

    _materialize_once(path, _write)
    sig = spark.read.parquet(path)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 0)
    return binq.topk_binary_rescore(sig, emb, qvec, K, rescore_r=_BINQ_R)


# --------------------------------------------------------------------------
# SQ8: per-dimension trained scalar quantization (FAISS QT_8bit family)
# --------------------------------------------------------------------------

_SQ8_TRAIN_CAP = 100_000


def _sq8_fit(spark: SparkSession, sf_dir: str):
    key = ("sq8", spark.sparkContext.applicationId, sf_dir)
    if key not in _INDEX_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _INDEX_CACHE[key] = qz.sq8_train(emb, train_cap=_SQ8_TRAIN_CAP)
    return _INDEX_CACHE[key]


def _sq8_fit_oracle_np():
    """Reproduce sq8_train's (vmin, vdiff) for the oracle fixture in
    NumPy: min/max are order-independent and exact on float32, so the
    values match the Spark aggregation bit-for-bit."""

    def fit():
        import numpy as np
        import pyarrow.parquet as papq

        tbl = papq.read_table(
            f"{_ORACLE_SF}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
        rows = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float32)
        rows = rows[ids < _SQ8_TRAIN_CAP]
        vmin = rows.min(axis=0)
        vmax = rows.max(axis=0)
        return (
            [float(v) for v in vmin],
            [float(vmax[j]) - float(vmin[j]) for j in range(len(vmin))],
        )

    return _fit_cached("sq8_ranges", fit)


def _sq8_oracle() -> str:
    vmin, vdiff = _sq8_fit_oracle_np()
    vm, vd = _dlist(vmin), _dlist(vdiff)
    recon = f"""list_transform(range(0, 64), j -> CASE
      WHEN ({vd})[CAST(j AS INT)+1] = 0.0 THEN ({vm})[CAST(j AS INT)+1]
      ELSE ({vm})[CAST(j AS INT)+1]
           + round_even(greatest(0.0, least(255.0,
               (CAST(embedding[CAST(j AS INT)+1] AS DOUBLE) - ({vm})[CAST(j AS INT)+1])
               / ({vd})[CAST(j AS INT)+1] * 255.0)), 0)
             / 255.0 * ({vd})[CAST(j AS INT)+1] END)"""
    return f"""
SELECT vec_id,
       list_dot_product({recon},
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS score
FROM embeddings
ORDER BY score DESC, vec_id ASC
LIMIT {K}
"""


@register("sq8_search", oracle=_sq8_oracle)
def sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION trained scalar quantization search (the FAISS
    ScalarQuantizer QT_8bit family) — the trained sibling of the
    reference's per-ROW max-abs int8 codec (O6/O23). (vmin_j, vdiff_j)
    ranges are learned on a bounded id prefix (the k-means
    sample-bounded training contract); encode/reconstruct/score is one
    codegen expression over the scan, so ranking runs in the quantized
    space exactly like topk_i8 — same 4x scan-byte reduction, but the
    codebook is global instead of per-row (no per-row scale column)."""
    vmin, vdiff = _sq8_fit(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 0)
    qlit = F.lit([float(x) for x in qvec]).cast("array<double>")
    from nano_vectordb_spark.functions.vector import dot_expr

    scored = emb.select(
        "vec_id",
        dot_expr(qz.sq8_recon_expr("embedding", vmin, vdiff), qlit).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(K)


# --------------------------------------------------------------------------
# ORC source/sink roundtrip
# --------------------------------------------------------------------------


@register(
    "orc_roundtrip",
    oracle="""
SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
FROM documents
""",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink coverage (the columnar sibling of the parquet
    path — Spark-native, splittable, predicate-pushdown-capable):
    documents written to ORC once (content-addressed /tmp cache), read
    back with the explicit schema, and proven byte-identical via md5 of
    every text against the parquet original."""
    import hashlib
    import os as _os

    st = _os.stat(_os.path.join(sf_dir, "documents.parquet"))
    path = "/tmp/nvdb_orc_" + hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]

    def _write(p: str) -> None:
        load_table(spark, sf_dir, "documents").write.mode("overwrite").orc(p)

    _materialize_once(path, _write)
    docs = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).orc(path)
    return docs.select(
        "doc_id", F.md5("text").alias("text_md5"), "lang", "source", "n_chars"
    )


# --------------------------------------------------------------------------
# TF-IDF keyword extraction
# --------------------------------------------------------------------------

_TFIDF_TOP = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH t AS ({_SQL_TOKS}),
terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM terms GROUP BY term
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(CAST(tf.tf AS DOUBLE)
               * ln((SELECT n FROM n) / CAST(df.df AS DOUBLE)), 6) AS score
  FROM tf JOIN df ON tf.term = df.term
)
SELECT doc_id, term, tf, df, score, rank FROM (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id
           ORDER BY score DESC, term ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= {_TFIDF_TOP}
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-{_TFIDF_TOP} terms by
    tf x ln(N/df) — the classic curation/labeling signal next to BM25
    (which ranks docs for a query; this ranks terms for a doc). Scale
    shape: one explode, two map-side-combined hash aggregations (tf
    keyed by (doc, term), df keyed by term), then a term-keyed shuffle
    join — posting-list economics identical to the BM25 operator.
    ln() is libm-dependent in the last ulp, so the score is rounded to
    6 decimals and ranking uses the rounded score — the same
    cross-engine contract the BM25 entry established."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    terms = docs.select(
        "doc_id", F.explode(tx.tokens_expr("text")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(n_docs) / F.col("df").cast("double")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_TOP)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


# --------------------------------------------------------------------------
# Correlated scalar subquery (Catalyst decorrelation coverage)
# --------------------------------------------------------------------------

# engine-shared SQL: the customer average is exact (DECIMAL sum / count)
# so the comparison boundary is the same double on both engines
_SQL_ORDERS_ABOVE_AVG = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
"""


@register("orders_above_customer_avg", oracle=_SQL_ORDERS_ABOVE_AVG)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above their own
    customer's average order value — the one relational shape the rest
    of the registry doesn't exercise. Catalyst decorrelates it into an
    aggregate + join (no per-row re-execution), so the plan is one
    orders scan for the per-customer averages hash-aggregated map-side,
    then a key-colocated join back — exactly what you'd hand-write at
    100 TB. The average is an exact DECIMAL sum over count, so the
    comparison boundary is bit-identical cross-engine."""
    return _sql_view_query(spark, sf_dir, _SQL_ORDERS_ABOVE_AVG)


# --------------------------------------------------------------------------
# Statistical outlier detection (z-score anomalies)
# --------------------------------------------------------------------------

_ANOM_K = 20

# mean and variance from EXACT decimal sums (order-independent), then
# per-row z in deterministic double ops — no float aggregation anywhere
_SQL_EVENTS_ANOMALY = f"""
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
         CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS svv
  FROM events GROUP BY event_type
),
z AS (
  SELECT e.event_id, e.event_type, e.value,
         round((CAST(CAST(e.value AS DECIMAL(18,6)) AS DOUBLE) - sv / n)
           / sqrt(svv / n - (sv / n) * (sv / n)), 6) AS zscore
  FROM events e JOIN s ON s.event_type = e.event_type
)
SELECT event_id, event_type, value, zscore, rank FROM (
  SELECT event_id, event_type, value, zscore,
         CAST(row_number() OVER (ORDER BY abs(zscore) DESC, event_id ASC) AS INT) AS rank
  FROM z)
WHERE rank <= {_ANOM_K}
"""


@register(
    "latency_quantiles_counting",
    oracle="""
WITH j AS (
  SELECT o_orderpriority,
         datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
counts AS (
  SELECT o_orderpriority, d, CAST(count(*) AS BIGINT) AS c
  FROM j GROUP BY o_orderpriority, d
),
cum AS (
  SELECT o_orderpriority, d, c,
         CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY d
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
         CAST(sum(c) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM counts
)
SELECT o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_lineitems,
       CAST(min(CASE WHEN cumc >= (n + 1) // 2 THEN d END) AS BIGINT) AS p50_days,
       CAST(min(CASE WHEN cumc >= (9 * n + 9) // 10 THEN d END) AS BIGINT) AS p90_days,
       CAST(min(CASE WHEN cumc >= (99 * n + 99) // 100 THEN d END) AS BIGINT) AS p99_days
FROM cum
GROUP BY o_orderpriority
""",
)
def latency_quantiles_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles over an integer metric via a mergeable counting
    histogram — the 100 TB alternative to a global sort: exact
    interpolated percentiles (order_fulfillment_latency) need every
    value in one place, while an integer-domain metric (delay days)
    reduces to per-(group, value) counts that partially aggregate
    map-side and merge by cell-wise ADD — the same mergeability
    argument as the HLL/count-min entries. The lower quantile
    (smallest d with cum-count >= ceil(q*n)) is then EXACT, computed
    over a few hundred distinct values per group, all in integer
    arithmetic (ceil via (a+b-1) div b — no float quantile math)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    counts = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_orderpriority", F.datediff("sd", "od").alias("d"))
        .groupBy("o_orderpriority", "d")
        .agg(F.count("*").alias("c"))
    )
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("o_orderpriority")
    cum = counts.select(
        "o_orderpriority",
        "d",
        F.sum("c").over(wcum).cast("long").alias("cumc"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )

    def _q(num: int, den: int, name: str):
        thr = F.expr(f"({num} * n + {num}) div {den}")
        return F.min(F.when(F.col("cumc") >= thr, F.col("d"))).cast("long").alias(name)

    return cum.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_lineitems"),
        _q(1, 2, "p50_days"),
        _q(9, 10, "p90_days"),
        _q(99, 100, "p99_days"),
    )


# --------------------------------------------------------------------------
# Retrieval quality metrics beyond recall: per-query RR + NDCG
# --------------------------------------------------------------------------

# IDCG@10 for binary relevance with a full GT list, embedded as ONE
# literal in both engines so it contributes zero cross-engine variance
_IDCG_10 = sum(1.0 / _math.log2(r + 1.0) for r in range(1, K + 1))


@register(
    "search_quality_i8",
    oracle=f"""
WITH gt AS (SELECT query_id, vec_id FROM ({_SQL_TOPK_MULTI})),
pred AS ({_SQL_TOPK_I8}),
r AS (
  SELECT p.query_id, p.rank,
         CASE WHEN g.vec_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM pred p LEFT JOIN gt g
    ON g.query_id = p.query_id AND g.vec_id = p.vec_id
)
SELECT query_id,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       CASE WHEN min(CASE WHEN hit = 1 THEN rank END) IS NULL THEN 0.0
            ELSE 1.0 / CAST(min(CASE WHEN hit = 1 THEN rank END) AS DOUBLE) END
         AS reciprocal_rank,
       round(list_aggregate(
               list(CAST(hit AS DOUBLE) / log2(CAST(rank AS DOUBLE) + 1.0)
                    ORDER BY rank), 'sum') / {_IDCG_10!r}, 6) AS ndcg_at_10
FROM r GROUP BY query_id
""",
)
def search_quality_i8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality beyond recall (reference O17's metric family
    completed): per-query reciprocal rank of the first relevant hit and
    NDCG@{K} of the int8-space ranking against the exact f32 top-{K}
    ground truth — the judged pair when tuning a quantized scan or ANN
    operating point. DCG sums via an ordered sequential fold (the BM25
    list-fold contract); log2 is libm-dependent in the last ulp, so
    NDCG carries the 6-decimal rounding; IDCG is one shared literal.
    Scale shape: both rankings are the proven top-k plans; the metric
    itself is a broadcast-sized join + one keyed aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    gt = topk_ops.topk_multi(emb, _queries_df(spark, sf_dir), K).select(
        "query_id", "vec_id", F.lit(1).alias("__hit")
    )
    pred = _topk_i8_df(spark, sf_dir).select("query_id", "vec_id", "rank")
    r = pred.join(gt, ["query_id", "vec_id"], "left").select(
        "query_id", "rank", F.coalesce("__hit", F.lit(0)).alias("hit")
    )
    gains = F.transform(
        F.array_sort(F.collect_list(F.struct("rank", "hit"))),
        lambda s: s["hit"].cast("double") / F.log2(s["rank"].cast("double") + F.lit(1.0)),
    )
    dcg = F.aggregate(gains, F.lit(0.0), lambda a, b: a + b)
    fr = F.min(F.when(F.col("hit") == 1, F.col("rank")))
    return r.groupBy("query_id").agg(
        F.sum("hit").cast("long").alias("n_hits"),
        F.when(fr.isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / fr.cast("double"))
        .alias("reciprocal_rank"),
        F.round(dcg / F.lit(_IDCG_10), 6).alias("ndcg_at_10"),
    )


# --------------------------------------------------------------------------
# Matryoshka (truncated-dimension) staged search
# --------------------------------------------------------------------------

_MRL_DIMS = 16
_MRL_R = 50


@register(
    "topk_matryoshka",
    oracle=f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT vec_id,
         list_dot_product(CAST(embedding[1:{_MRL_DIMS}] AS DOUBLE[]),
                          (SELECT v[1:{_MRL_DIMS}] FROM q)) AS head_score
  FROM embeddings
  ORDER BY head_score DESC, vec_id ASC
  LIMIT {_MRL_R}
),
scored AS (
  SELECT c.vec_id, c.head_score,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), (SELECT v FROM q)) AS score
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
)
SELECT vec_id, head_score, score, rank FROM (
  SELECT vec_id, head_score, score,
         CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= {K}
""",
)
def topk_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension staged search (the MRL
    adaptive-retrieval pattern: nested-prefix embeddings rank well at
    a fraction of the dimensions): stage 1 ranks by dot over the FIRST
    {_MRL_DIMS} of 64 dims from a materialized head table (vec_id +
    {_MRL_DIMS}-dim prefix — 4x fewer scan bytes, the same
    separate-sink trick as the binary signature path), stage 2
    broadcast-rescores the top-{_MRL_R} on full vectors. Unlike the
    codecs, the head IS exact arithmetic on a prefix — no
    reconstruction error model, just fewer dimensions scanned."""
    import hashlib
    import os as _os

    st = _os.stat(_os.path.join(sf_dir, "embeddings.parquet"))
    path = "/tmp/nvdb_mrlhead_" + hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]

    def _write(p: str) -> None:
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("head")
        ).write.mode("overwrite").parquet(p)

    _materialize_once(path, _write)
    head = spark.read.parquet(path)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 0)
    qhead = F.lit([float(x) for x in qvec[:_MRL_DIMS]]).cast("array<double>")
    qfull = F.lit([float(x) for x in qvec]).cast("array<double>")
    from nano_vectordb_spark.functions.vector import dot_expr

    cand = (
        head.select("vec_id", dot_expr("head", qhead).alias("head_score"))
        .orderBy(F.col("head_score").desc(), F.col("vec_id").asc())
        .limit(_MRL_R)
    )
    scored = F.broadcast(cand).join(
        emb.select("vec_id", F.col("embedding").alias("__full")), "vec_id"
    ).select("vec_id", "head_score", dot_expr("__full", qfull).alias("score"))
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= K)
        .select("vec_id", "head_score", "score", "rank")
    )


# --------------------------------------------------------------------------
# Corpus snapshot diff (release-to-release delta)
# --------------------------------------------------------------------------


@register(
    "corpus_snapshot_diff",
    oracle="""
SELECT status, CAST(count(*) AS BIGINT) AS n_docs FROM (
  SELECT CASE WHEN doc_id % 13 = 1 THEN 'added' END AS status FROM documents
  UNION ALL
  SELECT CASE
           WHEN doc_id % 7 = 3 THEN 'removed'
           WHEN doc_id % 10 = 0 THEN 'changed'
           ELSE 'unchanged' END AS status
  FROM documents
)
WHERE status IS NOT NULL
GROUP BY status
""",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release corpus delta — the data-versioning report a
    pipeline publishes with every snapshot: FULL OUTER join of two
    releases on doc_id comparing content md5s, classifying every doc
    added / removed / changed / unchanged. Release B derives
    deterministically from release A (every 7th doc dropped, every
    10th doc's text revised, a clone batch appended under new ids), so
    the oracle is the closed form of the statuses while the Spark side
    exercises the general mechanism: one doc_id-keyed full-outer join
    with md5 comparison — at 100 TB both releases shuffle once on the
    join key, and the md5s can come precomputed from release manifests
    (corpus_release) instead of rescanning text."""
    a = load_table(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("md5_a"))
    base = load_table(spark, sf_dir, "documents")
    b_kept = base.filter(F.col("doc_id") % 7 != 3).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("md5_b"),
    )
    # clone-batch ids must be DISJOINT from release A at any corpus
    # scale: a fixed +1_000_000 offset collided with real ids on the
    # 10x sf1 fixture (id strides of exactly 1e6), silently turning
    # "added" docs into joins against release A (caught by the r5 sf1
    # parity sweep). max(doc_id)+1 guarantees disjointness; the one-row
    # scalar agg is a bounded driver fetch.
    offset = base.agg(F.max("doc_id")).first()[0] + 1
    b_new = base.filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
        F.md5("text").alias("md5_b"),
    )
    b = b_kept.unionAll(b_new)
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("md5_a").isNull(), F.lit("added"))
        .when(F.col("md5_b").isNull(), F.lit("removed"))
        .when(F.col("md5_a") != F.col("md5_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n_docs")
    )


# --------------------------------------------------------------------------
# Fuzzy vocabulary matching (SymSpell deletion-neighborhood blocking)
# --------------------------------------------------------------------------

_TYPO_MIN_LEN = 4


@register(
    "vocab_typo_pairs",
    oracle=f"""
WITH t AS ({_SQL_TOKS}),
corpus_terms AS (SELECT unnest(toks) AS term FROM t),
typo_terms AS (
  SELECT concat(substring(tok, 1, 1), substring(tok, 3)) AS term
  FROM (SELECT doc_id, toks[1] AS tok FROM t)
  WHERE doc_id % 50 = 0 AND len(tok) >= {_TYPO_MIN_LEN + 1}
),
terms AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT term FROM corpus_terms UNION ALL SELECT term FROM typo_terms)
  WHERE len(term) >= {_TYPO_MIN_LEN}
  GROUP BY term
)
SELECT a.term AS term_a, b.term AS term_b, a.n AS n_a, b.n AS n_b
FROM terms a JOIN terms b ON a.term < b.term
WHERE levenshtein(a.term, b.term) = 1
""",
)
def vocab_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching: every pair of vocabulary terms at
    edit distance exactly 1 (the typo-clustering / entity-resolution
    primitive), found WITHOUT the quadratic all-pairs scan via SymSpell
    deletion-neighborhood blocking: each term emits itself plus its
    single-character-deletion variants as blocking keys; any lev<=1
    pair provably shares a key (substitutions share the deletion at
    the edited position, insert/delete pairs share the shorter term),
    so an equi-join on the variant followed by a levenshtein verify is
    EXACT. Scale: the blowup is x(len+1) blocking rows — the same
    inverted-index economics as the MinHash/SimHash band joins — and
    the oracle IS the quadratic definition, proving blocked ==
    all-pairs. The synthetic vocabulary is typo-free, so deterministic
    second-character-deletion typos are injected for every 50th doc's
    first token (the pii_redact non-vacuous-oracle precedent, replayed
    identically in SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tx.tokens_expr("text").alias("toks"))
    corpus_terms = toks.select(F.explode("toks").alias("term"))
    typo_terms = (
        toks.select("doc_id", F.element_at("toks", 1).alias("tok"))
        .filter(
            (F.col("doc_id") % 50 == 0) & (F.length("tok") >= _TYPO_MIN_LEN + 1)
        )
        .select(
            F.concat(
                F.substring("tok", 1, 1), F.expr("substring(tok, 3)")
            ).alias("term")
        )
    )
    terms = (
        corpus_terms.unionAll(typo_terms)
        .filter(F.length("term") >= _TYPO_MIN_LEN)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    variants = terms.select(
        "term",
        "n",
        F.explode(
            F.concat(
                F.array(F.col("term")),
                F.expr(
                    "transform(sequence(1, length(term)), i -> "
                    "concat(substring(term, 1, i - 1), substring(term, i + 1, length(term))))"
                ),
            )
        ).alias("block_key"),
    )
    a = variants.select(
        F.col("term").alias("term_a"), F.col("n").alias("n_a"), "block_key"
    )
    b = variants.select(
        F.col("term").alias("term_b"), F.col("n").alias("n_b"), "block_key"
    )
    cand = (
        a.join(b, "block_key")
        .filter(F.col("term_a") < F.col("term_b"))
        .select("term_a", "term_b", "n_a", "n_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("term_a", "term_b") == 1)


# --------------------------------------------------------------------------
# Cohort retention (event analytics)
# --------------------------------------------------------------------------

_RETENTION_MAX_OFFSET = 7


@register(
    "user_retention_cohorts",
    oracle=f"""
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
firsts AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, d FROM ev)
SELECT f.cohort_date,
       CAST(datediff('day', f.cohort_date, a.d) AS INT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN firsts f ON f.user_id = a.user_id
WHERE datediff('day', f.cohort_date, a.d) <= {_RETENTION_MAX_OFFSET}
GROUP BY f.cohort_date, day_offset
""",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the event-analytics staple the registry's
    funnel/sessionize/rollup family lacked: users grouped by first-seen
    date, distinct active users per day offset (0..{_RETENTION_MAX_OFFSET}).
    Scale shape: one user-keyed aggregate for cohort dates, one
    distinct-day projection, then a user-keyed join (both sides
    pre-shuffled on the same key) and a small keyed count-distinct.
    Dates are wall-clock casts of NTZ timestamps — timezone-free on
    both engines; everything else is integer-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    activity = ev.distinct()
    j = activity.join(firsts, "user_id").select(
        "cohort_date",
        F.datediff("d", "cohort_date").cast("int").alias("day_offset"),
        "user_id",
    )
    return (
        j.filter(F.col("day_offset") <= _RETENTION_MAX_OFFSET)
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


# --------------------------------------------------------------------------
# IVF deletion (the FAISS remove_ids contract)
# --------------------------------------------------------------------------

_IVF_DEL_MOD = 17
_IVF_DEL_RES = 3


def _ivf_delete_oracle() -> str:
    return _ivf_oracle(pred=f"vec_id % {_IVF_DEL_MOD} != {_IVF_DEL_RES}")


@register("ivf_search_after_delete", oracle=_ivf_delete_oracle)
def ivf_search_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index deletion — the FAISS remove_ids / IDSelector contract
    completing the lifecycle (build -> add -> DELETE -> persist): a
    tombstone id set (vec_id % {_IVF_DEL_MOD} == {_IVF_DEL_RES})
    broadcast-anti-joins the assignment, and search runs over the
    survivors with centroids frozen — deleting never refits or
    reassigns, exactly like FAISS. At scale the tombstone filter
    composes with cluster partition pruning (only probed directories
    are read, minus tombstones); physical reclamation is a compaction
    that rewrites ONLY the clusters containing deletions, since
    cluster_id is the partition key."""
    idx = _ivf_index(spark, sf_dir)
    tombstones = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _IVF_DEL_MOD == _IVF_DEL_RES)
        .select("vec_id")
    )
    alive = ivf_ops.IvfIndex(
        centroids=idx.centroids,
        assigned=idx.assigned.join(F.broadcast(tombstones), "vec_id", "left_anti"),
        nlist=idx.nlist,
        centroids_np=idx.centroids_np,
    )
    return ivf_ops.ivf_search(
        alive, _queries_df(spark, sf_dir), K, nprobe=_IVF_NPROBE
    )


# --------------------------------------------------------------------------
# IVF compaction (physical reclamation after remove_ids)
# --------------------------------------------------------------------------

_IVF_COMPACT_MOD = 97
_IVF_COMPACT_RES = 13


def _ivf_compact_oracle() -> str:
    """Replay the assignment from the centroid literals and compute the
    closed-form compaction ledger per cluster."""
    cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    dead = f"vec_id % {_IVF_COMPACT_MOD} = {_IVF_COMPACT_RES}"
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {values}),
assigned AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1
)
SELECT CAST(cluster_id AS INT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN {dead} THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(count(*) - sum(CASE WHEN {dead} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after,
       CAST(CASE WHEN sum(CASE WHEN {dead} THEN 1 ELSE 0 END) > 0
            THEN 1 ELSE 0 END AS INT) AS rewritten
FROM assigned
GROUP BY cluster_id
"""


@register("ivf_compact_stats", oracle=_ivf_compact_oracle)
def ivf_compact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index compaction — the physical-reclamation half of the deletion
    lifecycle (build -> add -> delete -> COMPACT): a ~1% tombstone set
    (vec_id % {_IVF_COMPACT_MOD} == {_IVF_COMPACT_RES}) is physically
    removed from the persisted partitioned layout by rewriting ONLY the
    cluster directories that contain tombstones
    (operators/ivf.ivf_compact — staged write + per-partition swap, the
    rewrite-then-commit pattern of every table format). Untouched
    cluster directories keep their files byte-identical
    (tests/test_ivf.py pins this), so compaction cost scales with the
    deleted fraction, never the 100 TB layout.

    The returned ledger is PHYSICAL proof, not bookkeeping: n_after is
    counted from the post-compaction parquet files per partition, while
    n_before/n_deleted come from the logical assignment — the oracle
    recomputes all of it from the centroid literals, so a compaction
    that dropped a survivor or kept a tombstone anywhere fails the
    hash. The layout is content-addressed and materialized
    post-compaction exactly once, so the entry is idempotent across
    gate/bench invocations."""
    import hashlib

    idx = _ivf_index(spark, sf_dir)
    dead = F.col("vec_id") % _IVF_COMPACT_MOD == _IVF_COMPACT_RES
    key = ("ivf_compacted", spark.sparkContext.applicationId, sf_dir)
    if key not in _INDEX_CACHE:
        cent_rows = idx.centroids.orderBy("cluster_id").collect()
        fp = hashlib.md5(
            repr([tuple(r) for r in cent_rows]).encode()
        ).hexdigest()[:12]
        path = "/tmp/nvdb_ivfc_" + hashlib.md5(
            f"{sf_dir}:{fp}:{_IVF_COMPACT_MOD}:{_IVF_COMPACT_RES}".encode()
        ).hexdigest()[:8]

        def _write(p: str) -> None:
            ivf_ops.ivf_write(idx, p)
            tombs = idx.assigned.filter(dead).select("vec_id")
            ivf_ops.ivf_compact(spark, p, tombs)

        _materialize_once(path, _write, marker="centroids/_SUCCESS")
        _INDEX_CACHE[key] = path
    path = _INDEX_CACHE[key]
    logical = idx.assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_before"),
        F.sum(dead.cast("long")).alias("n_deleted"),
    )
    physical = (
        spark.read.parquet(f"{path}/base")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_after"))
    )
    return (
        logical.join(physical, "cluster_id", "left")
        .select(
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_deleted").cast("long").alias("n_deleted"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            (F.col("n_deleted") > 0).cast("int").alias("rewritten"),
        )
    )


# --------------------------------------------------------------------------
# Temperature-smoothed mixture weighting (the multilingual alpha knob)
# --------------------------------------------------------------------------


@register(
    "mixture_weights_temperature",
    oracle="""
WITH toks_m AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM toks_m GROUP BY source
),
shares AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS natural_share
  FROM per_src
),
sq AS (SELECT *, sqrt(natural_share) AS sq_share FROM shares),
denom AS (SELECT list_aggregate(list(sq_share ORDER BY source), 'sum') AS d FROM sq),
tgt AS (
  SELECT source, n_docs, n_tokens, natural_share,
         sq_share / (SELECT d FROM denom) AS target_share
  FROM sq
),
rated AS (SELECT *, target_share / natural_share AS rate_raw FROM tgt)
SELECT source, n_docs, n_tokens, natural_share, target_share,
       rate_raw / max(rate_raw) OVER () AS keep_rate
FROM rated
""",
)
def mixture_weights_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source mixture (the multilingual alpha
    sampling of XLM-R / mT5, alpha = 0.5): targets derive from the
    corpus itself as natural_share^alpha renormalized, flattening
    head-heavy sources without hand-set shares; realized downsample-only
    like mixture_weights. Cross-engine exactness: token totals are
    integer sums, natural shares one exact division, sqrt is IEEE, and
    the ONLY order-dependent float sum (the renormalizer over sources)
    runs as a source-ordered sequential fold on both engines."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tx.tokens_expr("text")).cast("long")
    )
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    wall = Window.partitionBy()
    shares = per.withColumn(
        "natural_share",
        F.col("n_tokens").cast("double") / F.sum("n_tokens").over(wall).cast("double"),
    ).withColumn("sq_share", F.sqrt("natural_share"))
    denom = shares.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "sq_share"))),
                lambda s: s["sq_share"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("__d")
    )
    rated = (
        shares.crossJoin(F.broadcast(denom))
        .withColumn("target_share", F.col("sq_share") / F.col("__d"))
        .withColumn("rate_raw", F.col("target_share") / F.col("natural_share"))
    )
    return rated.select(
        "source",
        "n_docs",
        "n_tokens",
        "natural_share",
        "target_share",
        (F.col("rate_raw") / F.max("rate_raw").over(wall)).alias("keep_rate"),
    )


# --------------------------------------------------------------------------
# Schema evolution: mergeSchema read over generations of a layout
# --------------------------------------------------------------------------


@register(
    "schema_evolution_read",
    oracle="""
SELECT CAST(v AS INT) AS v, source_tag,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS n_chars_total
FROM (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS v,
         CASE WHEN doc_id % 2 = 0 THEN '<legacy>' ELSE source END AS source_tag,
         CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS nc
  FROM documents
)
GROUP BY v, source_tag
""",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across layout generations — the long-lived-
    pipeline reality that columns get added later: generation v=1 wrote
    (doc_id, text, lang) only, v=2 added (source, n_chars). One
    mergeSchema read over the partitioned root unions both generations
    with NULLs for pre-existence, and the aggregation proves null
    semantics (count spans both, sum skips the legacy NULLs). At scale
    this is how a reader spans years of a hive-layout table without
    rewriting old partitions."""
    import hashlib
    import os as _os

    st = _os.stat(_os.path.join(sf_dir, "documents.parquet"))
    root = "/tmp/nvdb_schemaevo_" + hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]

    def _write(p: str) -> None:
        docs_w = load_table(spark, sf_dir, "documents")
        docs_w.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).write.mode("overwrite").parquet(f"{p}/v=1")
        docs_w.filter(F.col("doc_id") % 2 == 1).write.mode("overwrite").parquet(
            f"{p}/v=2"
        )

    _materialize_once(root, _write, marker="v=2/_SUCCESS")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        merged.select(
            F.col("v").cast("int").alias("v"),
            F.coalesce("source", F.lit("<legacy>")).alias("source_tag"),
            "n_chars",
        )
        .groupBy("v", "source_tag")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
        )
    )


# --------------------------------------------------------------------------
# k-NN self-join (neighbor graph construction)
# --------------------------------------------------------------------------

_KNN_JOIN_K = 3


@register(
    "knn_self_join",
    oracle=f"""
WITH scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         list_dot_product(CAST(a.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[])) AS score
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id <> b.vec_id
)
SELECT src_id, nbr_id, score, rank FROM (
  SELECT src_id, nbr_id, score,
         CAST(row_number() OVER (PARTITION BY src_id
           ORDER BY score DESC, nbr_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= {_KNN_JOIN_K}
""",
)
def knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN self-join: every vector's top-{_KNN_JOIN_K} nearest OTHER
    vectors — the neighbor-graph constructor behind clustering,
    label-propagation and kNN-graph ANN methods, and the per-row
    sibling of the radius search. Physical shape: the query side runs
    in blocks of at most the two-phase broadcast contract (Q <= 10k),
    each block one two-phase scan — the block-matmul
    economics an exact all-to-all kNN costs at any scale (every block
    rescans the base; the blocking only bounds driver/broadcast
    memory). Results union across blocks; self-pairs drop before
    ranking. When exactness can relax, the IVF-blocked plan
    (doc_search_ivf) replaces the full rescans.

    Memoized per (applicationId, sf_dir) (r13): the two-phase block
    build collects the query batch eagerly at construction (the
    documented contract) and the entry is consumed both directly and
    by knn_pagerank — rebuilding it per invocation re-paid that eager
    work every time."""
    key = ("knn_self_join", spark.sparkContext.applicationId, sf_dir)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_blocks = max(1, -(-n // topk_ops.MAX_BROADCAST_QUERIES))
    parts = []
    for b in range(n_blocks):
        q = emb.filter(F.col("vec_id") % n_blocks == b).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # k+1 candidates so dropping the self-pair still leaves k
        parts.append(
            topk_ops.topk_multi(emb, q, _KNN_JOIN_K + 1, strategy="two_phase")
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionAll(p)
    filtered = res.filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    _INDEX_CACHE[key] = (
        filtered.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _KNN_JOIN_K)
        .select(
            F.col("query_id").alias("src_id"),
            F.col("vec_id").alias("nbr_id"),
            "score",
            "rank",
        )
    )
    return _INDEX_CACHE[key]


# --------------------------------------------------------------------------
# IVF cluster balance (the FAISS imbalance_factor diagnostic)
# --------------------------------------------------------------------------


def _ivf_balance_oracle() -> str:
    cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {values}),
assigned AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
  FROM assigned GROUP BY cluster_id
)
SELECT CAST({_IVF_NLIST} AS INT) AS nlist,
       CAST(count(*) AS BIGINT) AS n_nonempty,
       CAST(min(sz) AS BIGINT) AS min_size,
       CAST(max(sz) AS BIGINT) AS max_size,
       round({_IVF_NLIST} * CAST(sum(sz * sz) AS DOUBLE)
             / (CAST(sum(sz) AS DOUBLE) * CAST(sum(sz) AS DOUBLE)), 6) AS imbalance
FROM sizes
"""


@register("ivf_cluster_balance", oracle=_ivf_balance_oracle)
def ivf_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-size diagnostic — FAISS's imbalance_factor
    (nlist * sum(sz^2) / sum(sz)^2; 1.0 = perfectly balanced): the
    number that predicts probe-cost variance and partition skew of the
    cluster-partitioned layout, checked before shipping an index. One
    keyed count over the assignment (map-side partial) then a scalar
    aggregate — integer-exact until the final division."""
    idx = _ivf_index(spark, sf_dir)
    sizes = idx.assigned.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    aggd = sizes.agg(
        F.count("*").cast("long").alias("n_nonempty"),
        F.min("sz").cast("long").alias("min_size"),
        F.max("sz").cast("long").alias("max_size"),
        F.sum(F.col("sz") * F.col("sz")).alias("__ss"),
        F.sum("sz").alias("__s"),
    )
    return aggd.select(
        F.lit(_IVF_NLIST).cast("int").alias("nlist"),
        "n_nonempty",
        "min_size",
        "max_size",
        F.round(
            F.lit(_IVF_NLIST) * F.col("__ss").cast("double")
            / (F.col("__s").cast("double") * F.col("__s").cast("double")),
            6,
        ).alias("imbalance"),
    )


