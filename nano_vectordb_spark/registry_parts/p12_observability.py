"""Pipeline observability + cross-source diagnostics (round-3 tail).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    DataFrame,
    F,
    REGISTRY,
    SparkSession,
    Window,
    _SQL_QUERIES,
    _queries_df,
    comp_ops,
    dedup_ops,
    grank,
    ivf_ops,
    lexical_ops,
    load_table,
    pipe_ops,
    register,
    text_ops,
    topk_ops,
    tx,
)
from nano_vectordb_spark.registry_parts.p02_quantize_refine import (  # noqa: F401
    _SQL_I8_PRE,
    _i8_base,
)
from nano_vectordb_spark.registry_parts.p03_ivf import (  # noqa: F401
    _INDEX_CACHE,
    _IVF_NLIST,
    _IVF_SWEEP_NPROBES,
    _ORACLE_SF,
    _ivf_index,
    _ivf_sweep_oracle,
    _oracle_centroids_np,
    _sql_l2,
    ivf_recall_sweep,
)
from nano_vectordb_spark.registry_parts.p00_base import _dlist  # noqa: F401
from nano_vectordb_spark.registry_parts.p05_text import (  # noqa: F401
    _EMBED_DIM,
    _SQL_EN_STOP,
    _SQL_QUALITY,
    _SQL_TOKS,
    _sql_embed_ctes,
    _sql_marker_hits,
    _toks_df,
)
from nano_vectordb_spark.registry_parts.p06_dedup import (  # noqa: F401
    _QUALITY_T,
    _SQL_DEDUP_COMPONENTS,
    _sql_minhash_base,
    _sql_minhash_lsh,
    minhash_lsh_pairs,
)
from nano_vectordb_spark.registry_parts.p09_pipeline_corpus import (  # noqa: F401
    _BM25_QUERIES,
    _DECON_N,
    _PACK_BUCKETS,
    _PACK_BUDGET,
    _RRF_POOL,
    _SQL_PACK_CTES,
    _bm25_oracle,
)

# --------------------------------------------------------------------------
# Pipeline observability + cross-source diagnostics (round 3 tail):
# filter-funnel attribution, source-overlap containment matrix, and
# quality-aware canonical selection per near-dup cluster.
# --------------------------------------------------------------------------

_FUNNEL_MIN_TOKENS = 15


def _sql_filter_funnel() -> str:
    quality = (
        "0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) "
        "+ 0.3 * (1.0 - stopword_ratio) + 0.2 * (1.0 - punct_ratio)"
    )
    return f"""
WITH t AS ({_SQL_TOKS}),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains([{_SQL_EN_STOP}], x))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         CASE WHEN length(lower(text)) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / CAST(length(lower(text)) AS DOUBLE) END AS punct_ratio,
         {_sql_marker_hits("en")} AS en_hits,
         {_sql_marker_hits("de")} AS de_hits,
         {_sql_marker_hits("es")} AS es_hits,
         {_sql_marker_hits("fr")} AS fr_hits
  FROM t
),
s AS (
  SELECT CASE
           WHEN n_tokens < {_FUNNEL_MIN_TOKENS} THEN 1
           WHEN NOT (en_hits >= de_hits AND en_hits >= es_hits
                     AND en_hits >= fr_hits) THEN 2
           WHEN {quality} < {_QUALITY_T} THEN 3
           ELSE 4 END AS stage_id
  FROM m
),
c AS (SELECT stage_id, CAST(count(*) AS BIGINT) AS n_docs FROM s GROUP BY stage_id),
st AS (SELECT * FROM (VALUES (1, 'too_short'), (2, 'non_english'),
                             (3, 'low_quality'), (4, 'kept')) v(stage_id, stage)),
f AS (
  SELECT st.stage_id, st.stage, coalesce(c.n_docs, 0) AS n_docs
  FROM st LEFT JOIN c USING (stage_id)
)
SELECT stage_id, stage, n_docs,
       CAST((SELECT sum(n_docs) FROM f)
            - sum(CASE WHEN stage_id <= 3 THEN n_docs ELSE 0 END)
              OVER (ORDER BY stage_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS remaining
FROM f
"""


@register("filter_funnel", oracle=_sql_filter_funnel())
def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule drop attribution for the corpus-cleaning filter chain —
    the observability report every production pipeline emits alongside
    its output (which rule removed how many docs, and what remains
    after each stage). First-failing-rule-wins attribution over the
    same length / language / quality predicates corpus_clean applies.

    Scale shape: one CASE projection over the scan (no Python, no
    shuffle beyond a 4-group partial agg), then window math over the
    four-row funnel — per-rule accounting is free at any corpus size.
    """
    d = _toks_df(spark, sf_dir)
    hits = {
        lang: tx.marker_hits_expr(F.col("toks"), tx.LANG_MARKERS[lang])
        for lang in ("en", "de", "es", "fr")
    }
    staged = d.select(
        F.when(F.size("toks") < _FUNNEL_MIN_TOKENS, 1)
        .when(
            tx.lang_pred_expr(hits["en"], hits["de"], hits["es"], hits["fr"])
            != "en",
            2,
        )
        .when(tx.quality_expr(F.col("toks"), "text") < _QUALITY_T, 3)
        .otherwise(4)
        .alias("stage_id")
    )
    counts = staged.groupBy("stage_id").agg(F.count("*").alias("n_docs"))
    stages = spark.createDataFrame(
        [(1, "too_short"), (2, "non_english"), (3, "low_quality"), (4, "kept")],
        "stage_id int, stage string",
    )
    funnel = stages.join(counts, "stage_id", "left").select(
        "stage_id",
        "stage",
        F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
    )
    total = F.sum("n_docs").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    dropped = F.sum(
        F.when(F.col("stage_id") <= 3, F.col("n_docs")).otherwise(F.lit(0))
    ).over(Window.orderBy("stage_id").rowsBetween(Window.unboundedPreceding, 0))
    return funnel.withColumn("remaining", (total - dropped).cast("long"))


def _sql_source_overlap() -> str:
    n = _DECON_N
    return f"""
WITH t AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT DISTINCT source, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS hh FROM (
    SELECT source, unnest(list_distinct(list_transform(
             range(1, len(toks) - {n - 2}),
             i -> array_to_string(toks[i:i+{n - 1}], ' ')))) AS sh
    FROM t WHERE len(toks) >= {n})
),
tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY source),
p AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS shared_shingles
  FROM s a JOIN s b ON a.hh = b.hh AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, shared_shingles,
       round(CAST(shared_shingles AS DOUBLE) / t.n, 6) AS containment
FROM p JOIN tot t ON p.src_a = t.source
"""


@register("source_overlap", oracle=_sql_source_overlap())
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source pair
    (A, B), the count of distinct {_DECON_N}-token shingles A shares
    with B and the containment ratio |A∩B| / |A| — the diagnostic that
    decides whether two crawl snapshots / data vendors are near-copies
    before mixture weighting double-counts them.

    Scale shape: distinct (source, shingle-hash) postings (one
    shuffle), then an inverted-index self-equi-join on the 60-bit hash
    — posting-list economics, never doc×doc or source×source scans —
    and a final agg on |sources|² keys with broadcast per-source
    totals."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup_ops.ngram_shingles(docs, n=_DECON_N, extra_cols=("source",))
    # the distinct posting table feeds three plan branches (per-source
    # totals + both sides of the hash self-join): persist it once so
    # the shingle explode+distinct shuffle runs once, not three times
    post = (
        sh.select("source", F.explode("shingles").alias("sh"))
        .select(
            "source",
            F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10)
            .cast("long")
            .alias("hh"),
        )
        .distinct()
        .persist()
    )
    totals = post.groupBy("source").agg(F.count("*").alias("n"))
    a = post.select(F.col("source").alias("src_a"), "hh")
    b = post.select(F.col("source").alias("src_b"), "hh")
    pairs = (
        a.join(b, "hh")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared_shingles"))
    )
    return pairs.join(
        F.broadcast(totals.withColumnRenamed("source", "src_a")), "src_a"
    ).select(
        "src_a",
        "src_b",
        "shared_shingles",
        F.round(F.col("shared_shingles") / F.col("n"), 6).alias("containment"),
    )


_SQL_DEDUP_KEEP_LONGEST = f"""
WITH comp AS (
  SELECT id, component FROM ({_SQL_DEDUP_COMPONENTS})
),
j AS (
  SELECT c.component, c.id, d.n_chars
  FROM comp c JOIN documents d ON c.id = d.doc_id
),
r AS (
  SELECT component, id, n_chars,
         row_number() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, id ASC) AS rn,
         count(*) OVER (PARTITION BY component) AS group_size
  FROM j
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(id AS BIGINT) AS keeper_id,
       CAST(group_size AS BIGINT) AS group_size,
       n_chars AS keeper_chars
FROM r WHERE rn = 1
"""


@register("dedup_keep_longest", oracle=_SQL_DEDUP_KEEP_LONGEST)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: resolve
    MinHash-LSH pairs into connected components, then keep the LONGEST
    member of each cluster (ties to the lowest doc_id) — the keeper
    rule real corpus pipelines use instead of min-id, because near-dup
    clusters typically contain truncated variants of one full document.

    Scale shape: the component label table is tiny (only docs appearing
    in some pair), so it broadcasts into the join against the corpus;
    the argmax is a per-component window over cluster-sized groups."""
    edges = minhash_lsh_pairs(spark, sf_dir)
    comp = comp_ops.connected_components(edges)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "n_chars"
    )
    j = docs.join(F.broadcast(comp), "id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("id")
    )
    return (
        j.select(
            "component",
            "id",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("component")).alias("group_size"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("id").alias("keeper_id"),
            "group_size",
            F.col("n_chars").alias("keeper_chars"),
        )
    )


@register(
    "stream_heavy_hitters",
    oracle="""
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, user_id, n_events, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY window_start
              ORDER BY n_events DESC, user_id ASC) AS INT) AS rank
  FROM c)
WHERE rank <= 3
""",
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: top-3 users per tumbling hour, computed
    as a REAL streaming (window x user) pre-aggregation (file source,
    watermark, Trigger.AvailableNow) ranked batch-side — the
    streaming-rollup-plus-serving-rank split production uses because
    chained aggregations cannot run in one streaming query. Oracle is
    the equivalent batch SQL: stream and batch must agree row for row."""
    from nano_vectordb_spark.streaming.events import heavy_hitters_stream

    return heavy_hitters_stream(spark, sf_dir)


@register(
    "embedding_dim_stats",
    oracle="""
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings
),
x AS (SELECT CAST(dim AS INT) AS dim, v[CAST(dim AS INT) + 1] AS val FROM e)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       round(avg(val), 6) AS avg_val,
       round(avg(val * val) - avg(val) * avg(val), 6) AS var_val,
       min(val) AS min_val,
       max(val) AS max_val
FROM x GROUP BY dim
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean / variance / range) —
    the drift-and-normalization diagnostic run before quantizer
    training (SQ8's per-dimension ranges, OPQ's rotation) and between
    embedding-model versions (a shifted dimension means re-embedding,
    not re-indexing).

    Scale shape: posexplode is pipelined into a hash aggregate keyed by
    the D dimension ids, so map-side partial aggregation reduces every
    partition to D rows before the one tiny shuffle — no N×D
    materialization ever exists."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        )
    )
    a = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.avg("val").alias("m"),
        F.avg(F.col("val") * F.col("val")).alias("m2"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    return a.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        F.round("m", 6).alias("avg_val"),
        F.round(F.col("m2") - F.col("m") * F.col("m"), 6).alias("var_val"),
        "min_val",
        "max_val",
    )


def _sql_corpus_report() -> str:
    quality = (
        "0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) "
        "+ 0.3 * (1.0 - stopword_ratio) + 0.2 * (1.0 - punct_ratio)"
    )
    return f"""
WITH t AS (
  SELECT source, lang, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT source, lang, text,
         CAST(len(toks) AS INT) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains([{_SQL_EN_STOP}], x))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         CASE WHEN length(lower(text)) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / CAST(length(lower(text)) AS DOUBLE) END AS punct_ratio
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
       round(avg({quality}), 6) AS avg_quality
FROM m GROUP BY source
"""


@register("corpus_report", oracle=_sql_corpus_report())
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: doc and language counts, total
    tokens, exact-duplicate count, mean quality — the one-page report a
    data vendor hand-off or crawl snapshot gets before anyone spends
    GPU-hours on it (the companion to filter_funnel's per-rule view).

    Scale shape: every statistic is a map-side-combinable aggregate
    over the scan keyed by |sources| groups; the distinct-counts
    shuffle (source, lang) / (source, md5) pairs, never documents."""
    d = _toks_df(spark, sf_dir)
    q = tx.quality_expr(F.col("toks"), "text")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size("toks").cast("long")).alias("total_tokens"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dup_docs"),
        F.round(F.avg(q), 6).alias("avg_quality"),
    )


def _sql_minhash_estimator_error() -> str:
    k = 16
    eq = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
WITH {_sql_minhash_base()},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
pair AS (
  SELECT CAST({eq} AS DOUBLE) / {k}.0 AS est_j,
         CAST(len(list_intersect(ha.shingles, hb.shingles)) AS DOUBLE)
           / CAST(len(ha.shingles) + len(hb.shingles)
                  - len(list_intersect(ha.shingles, hb.shingles)) AS DOUBLE) AS jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.a_id
  JOIN sig sb ON sb.doc_id = c.b_id
  JOIN sh ha ON ha.doc_id = c.a_id
  JOIN sh hb ON hb.doc_id = c.b_id
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(est_j - jaccard)), 6) AS mean_abs_err,
       round(max(abs(est_j - jaccard)), 6) AS max_abs_err,
       round(avg(est_j - jaccard), 6) AS mean_bias
FROM pair
"""


@register("minhash_estimator_error", oracle=_sql_minhash_estimator_error())
def minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit over the LSH candidate pairs: signature
    estimate (equal-slot fraction, k=16) vs exact shingle Jaccard —
    mean/max absolute error and bias. The dedup-family analog of
    quant_error_stats: the evidence that the chosen k is accurate
    enough before the near-dup pass scales to the full corpus."""
    key = ("minhash_est_err", spark.sparkContext.applicationId, sf_dir)
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = dedup_ops.minhash_estimator_error(
            load_table(spark, sf_dir, "documents")
        )
    return _INDEX_CACHE[key]


@register(
    "quantize_error_by_dim",
    oracle=f"""
WITH enc AS (
  SELECT s.vec_id, s.e, s.scale,
         list_transform(s.e, x -> CAST(
           CASE WHEN s.scale = 0 THEN 0
                ELSE greatest(-127.0, least(127.0, round_even(x / CAST(s.scale AS DOUBLE), 0)))
           END AS TINYINT)) AS codes
  FROM ({_SQL_I8_PRE}) s
),
a AS (
  SELECT list_transform(list_zip(codes, e),
           p -> abs(CAST(p[1] AS DOUBLE) * CAST(scale AS DOUBLE) - p[2])) AS errs
  FROM enc
),
x AS (
  SELECT CAST(dim AS INT) AS dim, errs[CAST(dim AS INT) + 1] AS a
  FROM (SELECT errs, unnest(range(0, len(errs))) AS dim FROM a)
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       round(sqrt(avg(a * a)), 9) AS rmse,
       max(a) AS max_abs_err
FROM x GROUP BY dim
""",
)
def quantize_error_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION reconstruction error of the per-row max-abs i8
    codec — the diagnostic that shows which dimensions a row-wise scale
    serves worst (dimensions with small dynamic range inherit the
    row's coarse step), i.e. the measured case for SQ8's per-dimension
    trained ranges. Companion to embedding_dim_stats on the quantized
    side of the ladder.

    Scale shape: same single-scan encode as quantize_i8, then
    posexplode pipelined into a D-key hash aggregate with map-side
    combine — one tiny exchange, no N×D shuffle."""
    enc = _i8_base(spark, sf_dir)
    scale_d = F.col("scale").cast("double")
    errs = F.zip_with(
        F.col("embedding_i8").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
        lambda c, x: F.abs(c * scale_d - x),
    )
    ex = enc.select(F.posexplode(errs).alias("dim", "a"))
    return ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.sqrt(F.avg(F.col("a") * F.col("a"))), 9).alias("rmse"),
        F.max("a").alias("max_abs_err"),
    )


_AUTOTUNE_TARGET = 0.8


def _sql_ivf_autotune() -> str:
    return f"""
WITH sweep AS ({_ivf_sweep_oracle()}),
sel AS (
  SELECT *, row_number() OVER (ORDER BY nprobe ASC) AS rn
  FROM sweep WHERE recall_at_k >= {_AUTOTUNE_TARGET}
)
SELECT nprobe, n_hits, n_queries, recall_at_k,
       round(CAST(nprobe AS DOUBLE) / {_IVF_NLIST}.0, 6) AS probe_fraction
FROM sel WHERE rn = 1
"""


@register("ivf_nprobe_autotune", oracle=_sql_ivf_autotune)
def ivf_nprobe_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection (the FAISS AutoTune contract): the
    MINIMUM nprobe whose measured recall@{K} meets the
    {_AUTOTUNE_TARGET} target, with the probe fraction that nprobe
    implies — i.e. what fraction of base bytes every future query must
    scan to hit the recall SLO. This is the decision the recall sweep
    exists to inform; recall is an exact integer-hit division, so the
    threshold comparison is engine-exact."""
    sweep = ivf_recall_sweep(spark, sf_dir)
    return (
        sweep.filter(F.col("recall_at_k") >= _AUTOTUNE_TARGET)
        .orderBy("nprobe")
        .limit(1)
        .withColumn(
            "probe_fraction",
            F.round(F.col("nprobe").cast("double") / F.lit(float(_IVF_NLIST)), 6),
        )
    )


@register(
    "lang_id_confusion",
    oracle=f"""
WITH t AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT lang,
         {_sql_marker_hits("en")} AS en_hits,
         {_sql_marker_hits("de")} AS de_hits,
         {_sql_marker_hits("es")} AS es_hits,
         {_sql_marker_hits("fr")} AS fr_hits
  FROM t
),
p AS (
  SELECT lang,
         CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
              WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
              WHEN es_hits >= fr_hits THEN 'es'
              ELSE 'fr' END AS pred_lang
  FROM m
),
c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2)
SELECT lang, pred_lang, n,
       round(CAST(n AS DOUBLE) /
             CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share
FROM c
""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the corpus's ground-truth
    labels: per (actual, predicted) pair, the doc count and its share
    of the actual language — the classifier audit that belongs next to
    recall@k and the MinHash estimator error (every approximation in
    the pipeline gets a measured error surface). Deliberately exposes
    that the 4-marker classifier routes zh docs to its tie-break
    default. Map-only CASE projection + a |langs|² aggregate."""
    d = _toks_df(spark, sf_dir)
    hits = {
        lang: tx.marker_hits_expr(F.col("toks"), tx.LANG_MARKERS[lang])
        for lang in ("en", "de", "es", "fr")
    }
    pred = d.select(
        "lang",
        tx.lang_pred_expr(
            hits["en"], hits["de"], hits["es"], hits["fr"]
        ).alias("pred_lang"),
    )
    c = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy("lang"))
    return c.withColumn(
        "share", F.round(F.col("n").cast("double") / total.cast("double"), 6)
    )


@register(
    "neardup_rate_by_source",
    oracle=lambda: f"""
WITH pairs AS ({_sql_minhash_lsh()}),
d AS (
  SELECT DISTINCT doc_id FROM (
    SELECT a_id AS doc_id FROM pairs
    UNION ALL
    SELECT b_id AS doc_id FROM pairs)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(d.doc_id) AS BIGINT) AS n_dup_docs,
       round(CAST(count(d.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
GROUP BY source
""",
)
def neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate per source: share of each source's docs
    that appear in at least one verified MinHash-LSH pair — the
    per-vendor dup-rate line every corpus intake report carries (a
    source that is mostly near-dups of itself gets renegotiated, not
    deduped). Reuses the memoized LSH pair plan; the flagged-id set is
    tiny, so it broadcasts into the corpus join."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    dup_ids = (
        pairs.select(F.explode(F.array("a_id", "b_id")).alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    flagged = docs.join(F.broadcast(dup_ids), "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("is_dup").alias("n_dup_docs"),
        F.round(
            F.count("is_dup").cast("double") / F.count("*").cast("double"), 6
        ).alias("dup_rate"),
    )


@register(
    "user_activity_skew",
    oracle="""
WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
)
SELECT CAST(length(bin(n)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n) AS BIGINT) AS total_events,
       CAST(max(n) AS BIGINT) AS max_events
FROM c GROUP BY 1
""",
)
def user_activity_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew histogram: users bucketed by the bit length of their
    event count (power-of-two buckets without touching libm — binary
    string length is integer-exact on both engines). This is the query
    you run BEFORE choosing a salt factor for a user-keyed aggregation
    (operators/skew.py): a heavy tail here is the evidence that a
    plain groupBy would hot-spot one reducer at 100 TB.

    Scale shape: per-user partial counts combine map-side; the bucket
    rollup is a second tiny agg over |users| rows."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    return (
        c.select(
            F.length(F.conv(F.col("n").cast("string"), 10, 2))
            .cast("int")
            .alias("bucket"),
            "n",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n").alias("total_events"),
            F.max("n").alias("max_events"),
        )
    )


def _sql_ivf_probe_cost() -> str:
    cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    l2_q = _sql_l2("CAST(q.embedding AS DOUBLE[])", "c.centroid")
    per_np = "\nUNION ALL\n".join(
        f"""
  SELECT {np} AS nprobe,
         CAST(sum(qsz) AS BIGINT) AS total_rows_scanned,
         CAST(sum(qsz) AS DOUBLE) / (SELECT count(*) FROM q) AS avg_rows_per_query,
         CAST(max(qsz) AS BIGINT) AS max_rows_per_query,
         CAST(sum(qsz) AS DOUBLE)
               / ((SELECT count(*) FROM q) * (SELECT n_rows FROM tot)) AS scan_fraction
  FROM (
    SELECT p.query_id, sum(s.sz) AS qsz
    FROM probe_rank p JOIN sizes s USING (cluster_id)
    WHERE p.rn <= {np}
    GROUP BY p.query_id)"""
        for np in _IVF_SWEEP_NPROBES
    )
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {values}),
q AS ({_SQL_QUERIES}),
assigned AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM assigned GROUP BY cluster_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM embeddings),
probe_rank AS (
  SELECT q.query_id, c.cluster_id,
         row_number() OVER (PARTITION BY q.query_id
           ORDER BY {l2_q} ASC, c.cluster_id ASC) AS rn
  FROM q CROSS JOIN centroids c
)
SELECT * FROM ({per_np})
"""


@register("ivf_probe_cost", oracle=_sql_ivf_probe_cost)
def ivf_probe_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-cost ladder: for every sweep nprobe, the rows each query's
    probed clusters actually contain (total / avg / per-query max) and
    the corpus scan fraction — the capacity-planning twin of
    ivf_recall_sweep (recall ladder = quality axis, this = bytes axis;
    autotune picks the knee between them). Also surfaces probe-cost
    VARIANCE: with imbalanced lists (ivf_cluster_balance) the max row
    shows the straggler query a mean-only model hides.

    Cluster sizes come from one tiny aggregate over the assignment;
    probing replays stage 1's driver-side NumPy ranking, so the whole
    ladder costs one Spark job."""
    import numpy as np

    index = _ivf_index(spark, sf_dir)
    q = _queries_df(spark, sf_dir)
    qrows = q.select("query_id", "embedding").collect()
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    nq = len(qrows)
    size_rows = index.assigned.groupBy("cluster_id").agg(
        F.count("*").alias("sz")
    ).collect()
    sizes = {int(r["cluster_id"]): int(r["sz"]) for r in size_rows}
    n_rows = sum(sizes.values())
    cent = ivf_ops.centroids_matrix(index)
    out = []
    for nprobe in _IVF_SWEEP_NPROBES:
        qsz = [
            sum(sizes.get(int(c), 0) for c in probed)
            for probed in ivf_ops.probe_ids_np(cent, qmat, nprobe)
        ]
        total = sum(qsz)
        out.append(
            (
                nprobe,
                total,
                total / nq,
                max(qsz),
                total / (nq * n_rows),
            )
        )
    return spark.createDataFrame(
        out,
        "nprobe int, total_rows_scanned bigint, avg_rows_per_query double,"
        " max_rows_per_query bigint, scan_fraction double",
    )


def _sql_rankers_agreement() -> str:
    qvals = ",\n    ".join(
        f"({-(qid + 1)}, 0, '{' '.join(terms)}', 0)"
        for qid, terms in _BM25_QUERIES
    )
    return f"""
WITH lex AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id
  FROM ({_bm25_oracle(_RRF_POOL)})
),
units AS (
  SELECT doc_id, 0 AS chunk_id, text AS chunk,
         CAST(length(text) AS INT) AS chunk_chars
  FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {qvals}) v(doc_id, chunk_id, chunk, chunk_chars)
),
{_sql_embed_ctes('units')},
demb AS (SELECT doc_id AS vec_id, emb FROM embedded WHERE doc_id >= 0),
qemb AS (SELECT -doc_id - 1 AS query_id, emb FROM embedded WHERE doc_id < 0),
sem AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id FROM (
    SELECT q.query_id, d.vec_id AS doc_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(d.emb, q.emb) DESC, d.vec_id ASC) AS rank
    FROM demb d CROSS JOIN qemb q)
  WHERE rank <= {_RRF_POOL}
),
l AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_lex FROM lex GROUP BY 1),
s AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_sem FROM sem GROUP BY 1),
c AS (
  SELECT lex.query_id, CAST(count(*) AS BIGINT) AS n_common
  FROM lex JOIN sem USING (query_id, doc_id) GROUP BY 1
)
SELECT l.query_id, n_lex, n_sem,
       coalesce(n_common, CAST(0 AS BIGINT)) AS n_common,
       CAST(coalesce(n_common, 0) AS DOUBLE)
         / (n_lex + n_sem - coalesce(n_common, 0)) AS jaccard
FROM l JOIN s USING (query_id) LEFT JOIN c ON c.query_id = l.query_id
"""


@register("rankers_agreement", oracle=_sql_rankers_agreement)
def rankers_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-vs-semantic ranker agreement: per query, the Jaccard
    overlap of the two top-{_RRF_POOL} pools — the complementarity
    measurement that justifies (or kills) hybrid RRF fusion: high
    overlap means fusion adds nothing, low overlap means each ranker
    sees docs the other misses. Integer set sizes + one exact IEEE
    division; both pools reuse the proven ranker plans, the overlap is
    a join of two Q x pool row sets.

    r13: both pool frames are pinned with lazy localCheckpoints — each
    feeds TWO consumers (its size aggregate and the overlap join), so
    the full BM25 / hash-embed + two-phase pipelines otherwise executed
    twice per action; the built plan is memoized per (applicationId,
    sf_dir) because the two-phase build collects its query batch
    eagerly at construction."""
    key = ("rankers_agreement", spark.sparkContext.applicationId, sf_dir)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    docs = load_table(spark, sf_dir, "documents")
    lex = lexical_ops.bm25_search(
        spark, docs, _BM25_QUERIES, k=_RRF_POOL
    ).select(F.col("query_id").cast("long").alias("query_id"), "doc_id")
    units = docs.select(
        "doc_id",
        F.lit(0).alias("chunk_id"),
        F.col("text").alias("chunk"),
        F.length("text").cast("int").alias("chunk_chars"),
    )
    qrows = spark.createDataFrame(
        [(-(qid + 1), 0, " ".join(terms), 0) for qid, terms in _BM25_QUERIES],
        "doc_id long, chunk_id int, chunk string, chunk_chars int",
    )
    emb = text_ops.hash_embed(units.unionByName(qrows), dim=_EMBED_DIM)
    emb = emb.localCheckpoint(eager=False)
    demb = emb.filter(F.col("doc_id") >= 0).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    qemb = emb.filter(F.col("doc_id") < 0).select(
        (-F.col("doc_id") - 1).alias("query_id"), "embedding"
    )
    sem = topk_ops.topk_multi(demb, qemb, _RRF_POOL, strategy="two_phase").select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
    )
    lex = lex.localCheckpoint(eager=False)
    sem = sem.localCheckpoint(eager=False)
    l = lex.groupBy("query_id").agg(F.count("*").alias("n_lex"))
    s = sem.groupBy("query_id").agg(F.count("*").alias("n_sem"))
    c = (
        lex.join(sem, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_common"))
    )
    _INDEX_CACHE[key] = (
        l.join(s, "query_id")
        .join(c, "query_id", "left")
        .select(
            "query_id",
            "n_lex",
            "n_sem",
            F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / (
                    F.col("n_lex")
                    + F.col("n_sem")
                    - F.coalesce("n_common", F.lit(0))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return _INDEX_CACHE[key]


@register(
    "pack_efficiency",
    oracle=f"""
{_SQL_PACK_CTES},
packs AS (
  SELECT bucket, pack_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
  FROM packed GROUP BY bucket, pack_id
)
SELECT CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(count_if(pack_tokens > {_PACK_BUDGET}) AS BIGINT) AS n_overbudget,
       CAST(sum(pack_tokens) AS DOUBLE) / (count(*) * {_PACK_BUDGET}.0) AS utilization,
       min(CAST(pack_tokens AS DOUBLE) / {_PACK_BUDGET}.0) AS min_fill,
       max(CAST(pack_tokens AS DOUBLE) / {_PACK_BUDGET}.0) AS max_fill
FROM packs
""",
)
def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality audit over pack_sequences' output: pack count,
    token utilization (tokens packed / capacity), min/max fill, and
    over-budget packs (oversize single documents) — the wasted-compute
    number a training job reads before committing GPU-hours to a
    packed dataset (utilization 0.9 means 10% of every batch is
    padding). Integer sums + exact IEEE divisions over the pack table;
    same {_PACK_BUCKETS}-bucket parallel fold underneath."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tx.tokens_expr("text")).cast("long")
    )
    packs = pipe_ops.pack_sequences(docs, _PACK_BUDGET, _PACK_BUCKETS)
    budget = F.lit(float(_PACK_BUDGET))
    return packs.agg(
        F.count("*").alias("n_packs"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("pack_tokens").alias("total_tokens"),
        F.sum((F.col("pack_tokens") > _PACK_BUDGET).cast("long")).alias(
            "n_overbudget"
        ),
        (
            F.sum("pack_tokens").cast("double") / (F.count("*") * budget)
        ).alias("utilization"),
        F.min(F.col("pack_tokens").cast("double") / budget).alias("min_fill"),
        F.max(F.col("pack_tokens").cast("double") / budget).alias("max_fill"),
    )


_BF_M = 2048
_BF_K = 3
_BF_SEG = "BUILDING"

_SQL_BLOOM_PRUNE = f"""
WITH seeds(s) AS (VALUES (0), (1), (2)),
keys AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = '{_BF_SEG}'
),
bits AS (
  SELECT DISTINCT CAST(('0x' || substr(md5('bf' || CAST(s.s AS VARCHAR) || ':'
              || CAST(k.k AS VARCHAR)), 1, 15))::BIGINT % {_BF_M} AS INT) AS pos
  FROM keys k, seeds s
),
probe AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
         CAST(count(b.pos) AS INT) AS hits
  FROM orders o
  CROSS JOIN seeds s
  LEFT JOIN bits b
    ON b.pos = CAST(('0x' || substr(md5('bf' || CAST(s.s AS VARCHAR) || ':'
                 || CAST(o.o_custkey AS VARCHAR)), 1, 15))::BIGINT % {_BF_M} AS INT)
  GROUP BY 1, 2, 3
),
flags AS (
  SELECT p.o_totalprice,
         (p.hits = {_BF_K}) AS pass,
         EXISTS (SELECT 1 FROM keys k WHERE k.k = p.o_custkey) AS member
  FROM probe p
)
SELECT CAST(count(*) AS BIGINT) AS n_fact,
       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       CAST(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       round(CAST(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) - sum(CASE WHEN member THEN 1 ELSE 0 END) AS DOUBLE),
             6) AS fp_rate,
       CAST(sum(CASE WHEN member THEN CAST(o_totalprice AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS matched_revenue
FROM flags
"""


@register("bloom_join_prune", oracle=_SQL_BLOOM_PRUNE)
def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast Bloom-filter semi-join prune (operators/bloom.py): the
    scale path for fact-vs-keyset semi-joins when the key set outgrows
    the broadcast budget. The dim side aggregates to AT MOST m=2048
    bit positions (driver state bounded by m, never by |keys|), the
    bits broadcast as an m-int literal, and the orders scan is pruned
    MAP-SIDE by three native md5 bit probes before the exact
    broadcast-semi-join removes the false positives. Emits the audit
    row — fact/pass/match/FP counts, measured FP rate, exact decimal
    revenue of true matches — and the md5 hashing makes every one of
    those numbers (including n_fp) exactly replayable in DuckDB."""
    from nano_vectordb_spark.operators import bloom as bloom_ops

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = cust.where(F.col("c_mktsegment") == _BF_SEG).select(
        F.col("c_custkey").alias("k")
    ).distinct()
    bits = bloom_ops.build_bloom_bits(keys, "k", _BF_M, _BF_K)
    # Audit plan: ONE fact scan — the bloom probe and the exact
    # membership flag (broadcast left join against the key set) are
    # evaluated side by side so pass/match/FP counts come out of a
    # single map-side-combined aggregate. Production pruning uses
    # bloom_ops.bloom_prune(fact, ...) ahead of the exchange.
    flagged = (
        orders.join(
            F.broadcast(keys.withColumn("__member", F.lit(1))),
            orders["o_custkey"] == keys["k"],
            "left",
        )
        .select(
            "o_totalprice",
            bloom_ops.bloom_pass_expr("o_custkey", bits, _BF_K).alias("pass"),
            F.col("__member").isNotNull().alias("member"),
        )
    )
    return flagged.agg(
        F.count("*").alias("n_fact"),
        F.sum(F.col("pass").cast("long")).alias("n_pass"),
        F.sum(F.col("member").cast("long")).alias("n_match"),
        F.sum((F.col("pass") & ~F.col("member")).cast("long")).alias("n_fp"),
        F.round(
            F.sum((F.col("pass") & ~F.col("member")).cast("long")).cast("double")
            / (F.count("*") - F.sum(F.col("member").cast("long"))).cast("double"),
            6,
        ).alias("fp_rate"),
        F.sum(
            F.when(
                F.col("member"), F.col("o_totalprice").cast("decimal(18,2)")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("matched_revenue"),
    )


_Z_FILES = 32
_Z_BITS = 5
_Z_UB_LO, _Z_UB_HI = 4, 11
_Z_DB_LO, _Z_DB_HI = 8, 15

_SQL_ZORDER = f"""
WITH base AS (
  SELECT CAST(user_id % 32 AS INT) AS ub,
         CAST(EXTRACT(day FROM ts) - 1 AS INT) AS db,
         event_id
  FROM events
),
z AS (
  SELECT ub, db, event_id,
         ( ((ub >> 0) & 1) * 2    + ((db >> 0) & 1) * 1
         + ((ub >> 1) & 1) * 8    + ((db >> 1) & 1) * 4
         + ((ub >> 2) & 1) * 32   + ((db >> 2) & 1) * 16
         + ((ub >> 3) & 1) * 128  + ((db >> 3) & 1) * 64
         + ((ub >> 4) & 1) * 512  + ((db >> 4) & 1) * 256 ) AS zval
  FROM base
),
filed AS (
  SELECT layout, file_id,
         min(ub) AS min_ub, max(ub) AS max_ub,
         min(db) AS min_db, max(db) AS max_db,
         CAST(sum(CASE WHEN ub BETWEEN {_Z_UB_LO} AND {_Z_UB_HI}
                        AND db BETWEEN {_Z_DB_LO} AND {_Z_DB_HI}
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM (
    SELECT 'linear' AS layout,
           ntile({_Z_FILES}) OVER (ORDER BY db, ub, event_id) AS file_id,
           ub, db FROM z
    UNION ALL
    SELECT 'zorder' AS layout,
           ntile({_Z_FILES}) OVER (ORDER BY zval, event_id) AS file_id,
           ub, db FROM z
  ) t
  GROUP BY layout, file_id
)
SELECT
  CAST(sum(CASE WHEN layout = 'linear' THEN 1 ELSE 0 END) AS BIGINT) AS n_files,
  CAST(sum(CASE WHEN layout = 'linear' AND max_ub >= {_Z_UB_LO}
                 AND min_ub <= {_Z_UB_HI} AND max_db >= {_Z_DB_LO}
                 AND min_db <= {_Z_DB_HI} THEN 1 ELSE 0 END) AS BIGINT)
    AS files_scanned_linear,
  CAST(sum(CASE WHEN layout = 'zorder' AND max_ub >= {_Z_UB_LO}
                 AND min_ub <= {_Z_UB_HI} AND max_db >= {_Z_DB_LO}
                 AND min_db <= {_Z_DB_HI} THEN 1 ELSE 0 END) AS BIGINT)
    AS files_scanned_zorder,
  CAST(sum(CASE WHEN layout = 'zorder' THEN n_match ELSE 0 END) AS BIGINT)
    AS rows_matched,
  CAST(sum(CASE WHEN layout = 'linear' AND max_ub >= {_Z_UB_LO}
                 AND min_ub <= {_Z_UB_HI} AND max_db >= {_Z_DB_LO}
                 AND min_db <= {_Z_DB_HI} THEN 1 ELSE 0 END) AS DOUBLE)
    / {_Z_FILES} AS scan_frac_linear,
  CAST(sum(CASE WHEN layout = 'zorder' AND max_ub >= {_Z_UB_LO}
                 AND min_ub <= {_Z_UB_HI} AND max_db >= {_Z_DB_LO}
                 AND min_db <= {_Z_DB_HI} THEN 1 ELSE 0 END) AS DOUBLE)
    / {_Z_FILES} AS scan_frac_zorder
FROM filed
"""


@register("zorder_skipping", oracle=_SQL_ZORDER)
def zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering vs linear sort, measured as data skipping —
    the write-side layout decision behind Delta/Iceberg OPTIMIZE
    ZORDER. Both dims bucket to 5 bits (user_id % 32, day-of-month-1),
    the Morton code interleaves them natively (shift/mask/add — pure
    JVM integer ops), and each candidate layout is cut into
    equal-row "files" whose per-file min/max stats stand in for parquet
    row-group footers. A min/max-pruning reader must scan every file
    whose stat rectangle overlaps the predicate box; the emitted
    files_scanned_{{linear,zorder}} counts are exactly that, showing
    the curve turning a multi-dimensional predicate from
    scan-most-files (linear layout prunes only the leading sort key)
    into a bounded neighborhood. At 100 TB the layout job is a
    repartitionByRange-on-zval rewrite (same cost class as any
    compaction) — and the file assignment here IS that shape: a
    two-phase global rank (range partition + per-partition row_number
    + broadcast offsets, operators/globalrank.py) feeding the
    closed-form ntile bucket formula, never a one-task ntile window
    over the fact table. The skip measurement itself is one tiny stats
    aggregate. Integer-exact throughout; the two scan fractions are
    exact IEEE divisions of small ints."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 32).cast("int").alias("ub"),
        (F.dayofmonth("ts") - 1).cast("int").alias("db"),
        "event_id",
    )
    zval = F.lit(0)
    for i in range(_Z_BITS):
        zval = (
            zval
            + F.shiftright("ub", i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1))
            + F.shiftright("db", i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
        )
    z = ev.withColumn("zval", zval)
    n_rows = z.count()
    pred = (
        F.col("ub").between(_Z_UB_LO, _Z_UB_HI)
        & F.col("db").between(_Z_DB_LO, _Z_DB_HI)
    )

    def file_stats(order_cols: list, tag: str) -> DataFrame:
        rk = grank.two_phase_rank(
            z, [F.col(c).asc() for c in order_cols], rn_name="_rn"
        )
        return (
            rk.withColumn(
                "file_id",
                grank.ntile_from_rank(F.col("_rn"), F.lit(n_rows), _Z_FILES),
            )
            .groupBy("file_id")
            .agg(
                F.min("ub").alias("min_ub"),
                F.max("ub").alias("max_ub"),
                F.min("db").alias("min_db"),
                F.max("db").alias("max_db"),
                F.sum(pred.cast("long")).alias("n_match"),
            )
            .withColumn("layout", F.lit(tag))
        )

    filed = file_stats(["db", "ub", "event_id"], "linear").unionByName(
        file_stats(["zval", "event_id"], "zorder")
    )
    overlap = (
        (F.col("max_ub") >= _Z_UB_LO)
        & (F.col("min_ub") <= _Z_UB_HI)
        & (F.col("max_db") >= _Z_DB_LO)
        & (F.col("min_db") <= _Z_DB_HI)
    )
    is_lin = F.col("layout") == "linear"
    return filed.agg(
        F.sum(is_lin.cast("long")).alias("n_files"),
        F.sum((is_lin & overlap).cast("long")).alias("files_scanned_linear"),
        F.sum((~is_lin & overlap).cast("long")).alias("files_scanned_zorder"),
        F.sum(F.when(~is_lin, F.col("n_match")).otherwise(F.lit(0))).alias(
            "rows_matched"
        ),
        (
            F.sum((is_lin & overlap).cast("long")).cast("double") / _Z_FILES
        ).alias("scan_frac_linear"),
        (
            F.sum((~is_lin & overlap).cast("long")).cast("double") / _Z_FILES
        ).alias("scan_frac_zorder"),
    )


_LM_REF_LANG = "en"

# shared CTE chain ending in doc(doc_id, n_tokens, bits_per_token) —
# used by lm_perplexity_filter and quality_signal_corr.
#
# Per-word log-probs carry the round-6 libm contract, then convert to
# EXACT micro-bit integers (lw_u = round(lw * 1e6)): a round-6 double
# times 1e6 sits within one ulp of an integer, so that final rounding
# has no half-boundary risk in either engine. The per-doc sum is then
# exact BIGINT arithmetic — order-free, no sorted fold needed — and
# bits_per_token is ONE correctly-rounded division, bit-identical
# across engines and emitted unrounded. The previous shape (sum the
# round-6 DOUBLES, round the mean to 6) hit a genuine half boundary at
# sf1: -131.614264/16 = 8.2258915 exactly, where Spark's and DuckDB's
# round() half-handling disagree.
_SQL_LM_DOC_CTES = f"""t AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
tok AS (SELECT doc_id, lang, unnest(toks) AS w FROM t),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok
  WHERE lang = '{_LM_REF_LANG}' GROUP BY w
),
stats AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM uni),
lp AS (
  SELECT u.w,
         CAST(round(round(log2((u.c + 1.0) / CAST(s.n + s.v AS DOUBLE)), 6)
                    * 1e6) AS BIGINT) AS lw_u
  FROM uni u, stats s
),
scored AS (
  SELECT a.doc_id,
         coalesce(lp.lw_u,
                  (SELECT CAST(round(round(log2(1.0 / CAST(n + v AS DOUBLE)), 6)
                               * 1e6) AS BIGINT) FROM stats)
         ) AS lw_u
  FROM tok a LEFT JOIN lp ON lp.w = a.w
),
doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         -CAST(sum(lw_u) AS DOUBLE) / (count(*) * 1e6) AS bits_per_token
  FROM scored GROUP BY doc_id
)"""

_SQL_LM_PPL = f"""
WITH {_SQL_LM_DOC_CTES}
SELECT doc_id, n_tokens, bits_per_token,
       CAST(row_number() OVER (ORDER BY bits_per_token DESC, doc_id ASC)
            <= (count(*) OVER () + 9) // 10 AS INT) AS flagged
FROM doc
"""


def _lm_bits_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, bits_per_token) under the English-slice
    add-one unigram LM — the shared core of lm_perplexity_filter and
    quality_signal_corr. See lm_perplexity_filter for the contract."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tx.tokens_expr("text")).alias("w")
    )
    uni = (
        tok.where(F.col("lang") == _LM_REF_LANG)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    stats = uni.agg(
        F.sum("c").cast("long").alias("n"), F.count("*").alias("v")
    ).collect()[0]
    nv = float(stats["n"] + stats["v"])
    # round-6 libm contract, then exact micro-bit integers: the BIGINT
    # per-doc sum is order-free (no sorted fold needed) and the single
    # final division is correctly rounded — bit-identical across
    # engines with no half-boundary exposure (see _SQL_LM_DOC_CTES).
    lw_u = lambda col: F.round(F.round(F.log2(col), 6) * 1e6).cast("long")  # noqa: E731
    lp = uni.select(
        "w", lw_u((F.col("c") + F.lit(1.0)) / F.lit(nv)).alias("lw_u")
    )
    unseen = lw_u(F.lit(1.0) / F.lit(nv))
    scored = tok.join(lp, "w", "left").select(
        "doc_id", F.coalesce("lw_u", unseen).alias("lw_u")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (
            -F.sum("lw_u").cast("double")
            / (F.count("*") * F.lit(1e6))
        ).alias("bits_per_token"),
    )


@register("lm_perplexity_filter", oracle=_SQL_LM_PPL)
def lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: an add-one-smoothed unigram LM
    trained on the corpus's English slice scores every document as
    bits-per-token (log2 perplexity); the worst decile is flagged.
    Out-of-domain text — other languages, keyboard mash — surfaces at
    the top exactly as the Wikipedia-LM filter intends. Upgrade of
    bigram_commonness from frequency heuristics to a real probability
    model.  Scale shape: LM "training" is one word-count aggregate
    (map-side combined); the only driver-resident state is the (N, V)
    normalizer pair — two integers, the same bounded-collect contract
    as kmeans centroids — while the per-token scoring is a standard
    vocab posting join, broadcastable when the vocab is small and an
    ordinary shuffle join when it is not.  Determinism: per-token log
    probs round to 6 decimals (the libm log2 contract) then scale to
    exact micro-bit BIGINTs, so per-doc sums are order-free integer
    additions with one correctly-rounded final division, and the decile
    cut is pure integer arithmetic over a total order."""
    from nano_vectordb_spark.operators import globalrank as grank

    doc = _lm_bits_df(spark, sf_dir)
    # decile cut via the two-phase global rank: the flagged bit needs a
    # rank over EVERY doc (the output is corpus-sized), so a plain
    # Window.orderBy would funnel the whole corpus through one task at
    # scale — the exact pattern operators/globalrank.py exists for.
    ranked = grank.two_phase_rank(
        doc,
        [F.col("bits_per_token").desc(), F.col("doc_id").asc()],
        rn_name="__rn",
    )
    # n_docs comes off the rank stage itself (max global rank), so the
    # tok/join/aggregate chain runs ONCE: two_phase_rank pins its output
    # in a lazy localCheckpoint, this scalar fetch materializes those
    # blocks, and the final select re-reads them.  A separate
    # doc.count() would recompute the whole scoring pipeline.
    n_docs = int(
        ranked.agg(F.max("__rn").alias("n")).collect()[0]["n"] or 0
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "bits_per_token",
        (F.col("__rn") <= F.lit((n_docs + 9) // 10)).cast("int").alias("flagged"),
    )


_HN_POOL = 30
_HN_POS = 10
_HN_FRAC = 0.6

_SQL_HARD_NEG = f"""
WITH q AS ({_SQL_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored
),
pos AS (SELECT query_id, score AS top_pos FROM ranked WHERE rank = 2)
SELECT r.query_id, r.vec_id, r.score, r.rank AS pool_rank
FROM ranked r JOIN pos p ON p.query_id = r.query_id
WHERE r.rank BETWEEN {_HN_POS + 1} AND {_HN_POOL}
  AND r.score >= {_HN_FRAC} * p.top_pos
"""


@register("hard_negative_mining", oracle=_SQL_HARD_NEG)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data generation: for each query, the
    retrieval pool beyond the top-{_HN_POS} positives supplies hard
    negatives — candidates ranked {_HN_POS + 1}..{_HN_POOL} that still
    score within {_HN_FRAC} of the best non-self positive (rank 2; rank
    1 is the query's own vector). This margin rule is how embedding
    fine-tuning pipelines mine in-batch-beating negatives (DPR/SBERT
    style): too-easy negatives teach nothing, near-dup "negatives"
    would be false labels and sit above the margin's complement, top-k
    keeps only the hard band.  Scale shape: the pool is the proven
    two-phase exact top-k (only Q x P x k rows cross one exchange); the
    margin join is a per-query scalar broadcast. Scores are exact
    sequential-fold dots, so the margin comparison is engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    pool = topk_ops.topk_multi(emb, _queries_df(spark, sf_dir), _HN_POOL)
    pos = pool.where(F.col("rank") == 2).select(
        "query_id", F.col("score").alias("top_pos")
    )
    return (
        pool.join(F.broadcast(pos), "query_id")
        .where(
            (F.col("rank") >= _HN_POS + 1)
            & (F.col("rank") <= _HN_POOL)
            & (F.col("score") >= F.lit(_HN_FRAC) * F.col("top_pos"))
        )
        .select(
            "query_id",
            "vec_id",
            "score",
            F.col("rank").cast("int").alias("pool_rank"),
        )
    )


_PMI_MIN = 5
_PMI_TOP = 25

_SQL_PMI = f"""
WITH t AS ({_SQL_TOKS}),
bgx AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM t WHERE len(toks) >= 2
),
bigc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bgx GROUP BY bg),
words AS (SELECT unnest(toks) AS w FROM t),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
btot AS (SELECT CAST(sum(c12) AS BIGINT) AS b FROM bigc),
j AS (
  SELECT g.bg, g.c12, u1.c AS c1, u2.c AS c2
  FROM bigc g
  JOIN uni u1 ON u1.w = split_part(g.bg, ' ', 1)
  JOIN uni u2 ON u2.w = split_part(g.bg, ' ', 2)
  WHERE g.c12 >= {_PMI_MIN}
)
SELECT bg AS bigram, c12, c1, c2,
       round(log2((CAST(c12 AS DOUBLE) * n * n)
                  / (CAST(b AS DOUBLE) * c1 * c2)), 6) AS pmi
FROM j, tot, btot
ORDER BY pmi DESC, bigram ASC
LIMIT {_PMI_TOP}
"""


@register("pmi_collocations", oracle=_SQL_PMI)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{_PMI_TOP} word pairs by pointwise
    mutual information, PMI = log2(P(w1 w2) / (P(w1) P(w2))), with
    min-support {_PMI_MIN} — the corpus-statistics dual of
    bigram_commonness (that entry scores DOCUMENTS by their bigrams;
    this one ranks the BIGRAMS themselves), and the classic phrase /
    multi-word-expression detector (word2vec's phrase pass, NLTK
    collocations).  Scale shape: two map-side-combined counts (bigrams,
    unigrams), a vocab-keyed posting join, and a global top-n; the
    only driver-resident state is the (N, B) normalizer pair of exact
    integers. All count products stay under 2^53 so the PMI argument
    is the same double in both engines; log2 carries the 6-decimal
    contract and the top-n ranks on the ROUNDED value with a bigram
    tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(tx.tokens_expr("text").alias("toks"))
    big = (
        tokd.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1)))"
                )
            ).alias("bg")
        )
    )
    bigc = big.groupBy("bg").agg(F.count("*").alias("c12"))
    uni = (
        tokd.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n_total = uni.agg(F.sum("c")).collect()[0][0]
    b_total = bigc.agg(F.sum("c12")).collect()[0][0]
    u1 = uni.select(F.col("w").alias("__w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("__w2"), F.col("c").alias("c2"))
    j = (
        bigc.where(F.col("c12") >= _PMI_MIN)
        .withColumn("__w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("__w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(u1, "__w1")
        .join(u2, "__w2")
    )
    pmi = F.round(
        F.log2(
            (F.col("c12").cast("double") * F.lit(float(n_total)) * F.lit(float(n_total)))
            / (F.lit(float(b_total)) * F.col("c1") * F.col("c2"))
        ),
        6,
    )
    return (
        j.select(
            F.col("bg").alias("bigram"), "c12", "c1", "c2", pmi.alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(_PMI_TOP)
    )


_SQL_QSC = f"""
WITH {_SQL_LM_DOC_CTES},
qual AS ({_SQL_QUALITY}),
xy AS (
  SELECT CAST(round(q.quality, 6) AS DECIMAL(18,6)) AS x,
         CAST(d.bits_per_token AS DECIMAL(18,6)) AS y
  FROM qual q JOIN doc d USING (doc_id)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy
)
SELECT n AS n_docs,
       round(CAST(sx AS DOUBLE) / n, 6) AS mean_quality,
       round(CAST(sy AS DOUBLE) / n, 6) AS mean_bits,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS pearson_r
FROM s
"""


@register("quality_signal_corr", oracle=_SQL_QSC)
def quality_signal_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal agreement: Pearson correlation between the
    heuristic composite quality score and the LM bits-per-token over
    every tokenized document — the calibration check a pipeline runs
    before stacking two filters (redundant signals waste a pass;
    anti-correlated ones mean one is broken; quality should correlate
    NEGATIVELY with perplexity). Joins the two proven per-doc signal
    plans on doc_id and reduces to one row.  Determinism: both inputs
    are 6-decimal-rounded doubles cast to DECIMAL(18,6), so every sum
    and sum-of-products is exact and order-independent (the z-score
    entry's contract); the final r passes through wide-decimal ->
    double casts once and carries the 6-decimal rounding. Scale shape:
    one keyed join plus a single map-side-combinable moment aggregate —
    the same one-pass sufficient-statistics reduction any distributed
    corr/variance uses."""
    d = _toks_df(spark, sf_dir)
    qual = d.select(
        "doc_id", tx.quality_expr(F.col("toks"), "text").alias("quality")
    )
    bits = _lm_bits_df(spark, sf_dir)
    xy = qual.join(bits, "doc_id").select(
        F.round("quality", 6).cast("decimal(18,6)").alias("x"),
        F.col("bits_per_token").cast("decimal(18,6)").alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    return s.select(
        F.col("n").alias("n_docs"),
        F.round(sxd / F.col("n"), 6).alias("mean_quality"),
        F.round(syd / F.col("n"), 6).alias("mean_bits"),
        F.round(
            (F.col("n") * F.col("sxy").cast("double") - sxd * syd)
            / (
                F.sqrt(F.col("n") * F.col("sxx").cast("double") - sxd * sxd)
                * F.sqrt(F.col("n") * F.col("syy").cast("double") - syd * syd)
            ),
            6,
        ).alias("pearson_r"),
    )


_SQL_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS INT) AS grp,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("orders_cube", oracle=_SQL_CUBE)
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage completed: CUBE over order
    status/priority (all four grouping sets, vs orders_rollup's
    hierarchy) with the grouping_id disambiguator — written with the
    DataFrame cube() API so the expansion is Catalyst's Expand
    operator, one pass over the fact with map-side partial aggregation
    per set, not four scans. Exact decimal totals as everywhere."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("grp"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


_SQL_SLIDING_DISTINCT = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM daily)
SELECT d.day AS window_end,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS distinct_users,
       CAST(sum(p.c) AS BIGINT) AS n_events
FROM days d JOIN daily p ON p.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
"""


@register("sliding_distinct_users", oracle=_SQL_SLIDING_DISTINCT)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counting from a mergeable day-grain
    pre-aggregate: 7-day distinct users + event volume per window-end
    day. COUNT(DISTINCT) does not decompose over overlapping windows,
    so the scale answer is the day-grain (day, user) rollup — orders of
    magnitude smaller than raw events — re-used by every window it
    touches; each rollup row fans out map-side to the <=7 window-ends
    it serves (explode of a date sequence, no range join, no
    BroadcastNestedLoop) and one keyed aggregate finishes. The
    approximate twin at extreme cardinality is per-day HLL sketches
    merged per window (distinct_users_hll's mergeability argument);
    this entry is the exact form and the oracle for that ladder.
    Integer-exact end to end."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day", "user_id")
        .agg(F.count("*").alias("c"))
    )
    days = daily.select("day").distinct().withColumnRenamed("day", "wd")
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("wd"),
        "user_id",
        "c",
    )
    return (
        contrib.join(F.broadcast(days), "wd")
        .groupBy("wd")
        .agg(
            F.count_distinct("user_id").alias("distinct_users"),
            F.sum("c").alias("n_events"),
        )
        .withColumnRenamed("wd", "window_end")
    )


_SQL_LABEL_CENTROID = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ex0 AS (
  SELECT label, v, unnest(range(0, len(v))) AS dim FROM e
),
ex AS (
  SELECT label, CAST(dim AS INT) AS dim, v[CAST(dim AS INT) + 1] AS val FROM ex0
),
cent AS (
  SELECT label, dim, round(avg(val), 6) AS cv FROM ex GROUP BY label, dim
),
cvecs AS (SELECT label, list(cv ORDER BY dim) AS cvec FROM cent GROUP BY label),
dist AS (
  SELECT e.vec_id, e.label AS vlabel, c.label AS clabel,
         list_aggregate(list_transform(range(1, len(e.v) + 1),
            i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])), 'sum') AS d2
  FROM e CROSS JOIN cvecs c
),
pv AS (
  SELECT vec_id, vlabel,
         max(CASE WHEN clabel = vlabel THEN d2 END) AS own_d2,
         min(CASE WHEN clabel <> vlabel THEN d2 END) AS other_d2
  FROM dist GROUP BY vec_id, vlabel
),
agg AS (
  SELECT vlabel AS label, CAST(count(*) AS BIGINT) AS n_vecs,
         round(avg(own_d2), 6) AS avg_own_d2,
         round(avg(other_d2), 6) AS avg_nearest_other_d2
  FROM pv GROUP BY vlabel
)
SELECT label, n_vecs, avg_own_d2, avg_nearest_other_d2,
       round(avg_nearest_other_d2 / avg_own_d2, 6) AS separation
FROM agg
"""


@register("label_centroid_quality", oracle=_SQL_LABEL_CENTROID)
def label_centroid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labelled-embedding cohesion audit (simplified silhouette): per
    class label, mean squared distance to the OWN class centroid vs the
    NEAREST other centroid, and their ratio — the separability report
    read before trusting labels for stratified eval splits or
    classifier training (separation ~1 means the label carries no
    geometric signal). Scale shape: centroids come from the
    posexplode -> (label, dim)-keyed aggregate (map-side combined, D x
    L rows total — embedding_dim_stats' shape grouped by label); the
    bounded L-row centroid relation then broadcasts against one base
    scan, the same tiny-side pattern as the IVF probe stage.
    Determinism: centroid coordinates are 6-decimal-rounded avgs
    (identical both engines), distances are dim-ordered sequential
    folds over identical doubles, the per-vector min over labels is an
    exact compare, and the final per-label avgs carry the round-6
    contract."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = emb.select("label", F.posexplode("v").alias("dim", "val"))
    cent = ex.groupBy("label", "dim").agg(F.round(F.avg("val"), 6).alias("cv"))
    cvecs = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))),
            lambda s: s["cv"],
        ).alias("cvec")
    )
    cl = cvecs.select(F.col("label").alias("clabel"), "cvec")
    d2 = F.aggregate(
        F.zip_with("v", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    dist = emb.crossJoin(F.broadcast(cl)).select(
        "vec_id", F.col("label").alias("vlabel"), "clabel", d2.alias("d2")
    )
    pv = dist.groupBy("vec_id", "vlabel").agg(
        F.max(F.when(F.col("clabel") == F.col("vlabel"), F.col("d2"))).alias(
            "own_d2"
        ),
        F.min(F.when(F.col("clabel") != F.col("vlabel"), F.col("d2"))).alias(
            "other_d2"
        ),
    )
    agg = pv.groupBy("vlabel").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("own_d2"), 6).alias("avg_own_d2"),
        F.round(F.avg("other_d2"), 6).alias("avg_nearest_other_d2"),
    )
    return agg.select(
        F.col("vlabel").alias("label"),
        "n_vecs",
        "avg_own_d2",
        "avg_nearest_other_d2",
        F.round(
            F.col("avg_nearest_other_d2") / F.col("avg_own_d2"), 6
        ).alias("separation"),
    )


_ISM_MOD = 10  # doc_id % 10 == 0 stands in for the incoming batch

_SQL_STATS_MERGE = f"""
WITH qual AS ({_SQL_QUALITY}),
j AS (
  SELECT d.source, d.n_chars, q.n_tokens,
         CAST(round(q.quality, 6) AS DECIMAL(18,6)) AS q6
  FROM documents d JOIN qual q ON q.doc_id = d.doc_id
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(min(n_chars) AS BIGINT) AS min_chars,
         CAST(max(n_chars) AS BIGINT) AS max_chars,
         sum(q6) AS sq
  FROM j GROUP BY source
)
SELECT source, n_docs, total_tokens, min_chars, max_chars,
       round(CAST(sq AS DOUBLE) / n_docs, 6) AS avg_quality
FROM s
"""


@register("incremental_stats_merge", oracle=_SQL_STATS_MERGE)
def incremental_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental profile maintenance: per-source corpus stats
    computed SEPARATELY over the standing corpus (doc_id % {_ISM_MOD}
    != 0) and an incoming batch (== 0), then combined purely
    algebraically — counts and token totals add, min/max fold, and the
    quality mean merges because what is stored is the exact
    DECIMAL(18,6) SUM of 6-decimal-rounded scores, not the mean. The
    oracle is the FULL-corpus recompute, so the hash match proves the
    merge law itself: a nightly profile never rescans the corpus, it
    folds each ingest's partial into the stored sufficient statistics
    (the same mergeability argument as the HLL/count-min sketches,
    here in exact form).  Scale shape: two map-side-combined
    aggregates over disjoint slices plus a |sources|-row merge."""
    d = _toks_df(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.round(tx.quality_expr(F.col("toks"), "text"), 6)
        .cast("decimal(18,6)")
        .alias("q6"),
    )

    def stats(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("q6").alias("sq"),
        )

    base = stats(d.where(F.col("doc_id") % _ISM_MOD != 0))
    batch = stats(d.where(F.col("doc_id") % _ISM_MOD == 0))
    merged = base.unionByName(batch).groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.min("min_chars").alias("min_chars"),
        F.max("max_chars").alias("max_chars"),
        F.sum("sq").alias("sq"),
    )
    return merged.select(
        "source",
        "n_docs",
        "total_tokens",
        "min_chars",
        "max_chars",
        F.round(F.col("sq").cast("double") / F.col("n_docs"), 6).alias(
            "avg_quality"
        ),
    )


_SQL_DQ = """
WITH checks AS (
  SELECT 'orders_orphan_custkey' AS rule,
         CAST((SELECT count(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS violations,
         CAST((SELECT count(*) FROM orders) AS BIGINT) AS checked
  UNION ALL
  SELECT 'lineitem_orphan_orderkey',
         CAST((SELECT count(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'orders_pk_unique',
         CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING count(*) > 1) t) AS BIGINT),
         CAST((SELECT count(DISTINCT o_orderkey) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'orders_totalprice_positive',
         CAST((SELECT count(*) FROM orders
               WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS BIGINT),
         CAST((SELECT count(*) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'lineitem_discount_range',
         CAST((SELECT count(*) FROM lineitem
               WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'lineitem_ship_after_order',
         CAST((SELECT count(*) FROM lineitem l JOIN orders o
               ON o.o_orderkey = l.l_orderkey
               WHERE l.l_shipdate < o.o_orderdate) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'documents_text_nonnull',
         CAST((SELECT count(*) FROM documents
               WHERE text IS NULL OR length(text) = 0) AS BIGINT),
         CAST((SELECT count(*) FROM documents) AS BIGINT)
)
SELECT rule, violations, checked,
       CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM checks
"""


@register("dq_validation_suite", oracle=_SQL_DQ)
def dq_validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite (the Deequ/dbt-test shape): one
    report row per declared rule — referential integrity (orphan
    foreign keys via broadcast anti-joins), primary-key uniqueness,
    range and non-null checks, and a cross-table temporal sanity rule
    (no lineitem ships before its order) — the contract gate a
    pipeline runs on every ingest before publishing a snapshot.
    Scale shape: every rule is either a map-side predicate count or an
    anti/inner join against a broadcastable dimension, all folded into
    one pass per fact table by conditional aggregation where they
    share a scan (the orphan + temporal rules share the lineitem-
    orders join). Integer-exact throughout."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    def row(rule: str, violations: DataFrame, checked: DataFrame) -> DataFrame:
        v = violations.select(F.count("*").alias("violations"))
        c = checked.select(F.count("*").alias("checked"))
        # 1-row x 1-row combine without a join: union the two scalar
        # aggregates and re-aggregate (keeps every rule BNLJ-free)
        return (
            v.select(F.lit(rule).alias("rule"), "violations", F.lit(None).cast("long").alias("checked"))
            .unionByName(
                c.select(F.lit(rule).alias("rule"), F.lit(None).cast("long").alias("violations"), "checked")
            )
            .groupBy("rule")
            .agg(
                F.max("violations").alias("violations"),
                F.max("checked").alias("checked"),
            )
        )

    orphan_orders = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"], "left_anti"
    )
    orphan_li = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti"
    )
    dup_pk = orders.groupBy("o_orderkey").count().where(F.col("count") > 1)
    pk_distinct = orders.select("o_orderkey").distinct()
    bad_price = orders.where(
        F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
    )
    bad_disc = li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
    ship_before = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).where(F.col("l_shipdate") < F.col("o_orderdate"))
    bad_text = docs.where(F.col("text").isNull() | (F.length("text") == 0))

    report = (
        row("orders_orphan_custkey", orphan_orders, orders)
        .unionByName(row("lineitem_orphan_orderkey", orphan_li, li))
        .unionByName(row("orders_pk_unique", dup_pk, pk_distinct))
        .unionByName(row("orders_totalprice_positive", bad_price, orders))
        .unionByName(row("lineitem_discount_range", bad_disc, li))
        .unionByName(row("lineitem_ship_after_order", ship_before, li))
        .unionByName(row("documents_text_nonnull", bad_text, docs))
    )
    return report.select(
        "rule",
        "violations",
        "checked",
        (F.col("violations") == 0).cast("int").alias("passed"),
    )


@register(
    "neardup_graph_stats",
    oracle=lambda: f"""
WITH pairs AS ({_sql_minhash_lsh()}),
e AS (SELECT a_id AS a, b_id AS b FROM pairs),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) t GROUP BY node
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
ds AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d) // 2 AS BIGINT) AS n_edges,
         CAST(max(d) AS BIGINT) AS max_degree,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_triangles, max_degree, n_wedges,
       CASE WHEN n_wedges = 0 THEN 0.0
            ELSE round(3.0 * n_triangles / n_wedges, 6) END AS global_clustering
FROM ds, tri
""",
)
def neardup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph topology: node/edge/degree profile, exact
    triangle count, and the global clustering coefficient (3*triangles
    / wedges) over the verified MinHash-LSH pair graph — the shape
    report that says whether near-dup clusters are chains (crawl
    drift: low clustering) or cliques (template spam: high), which
    changes the keeper policy dedup_keep_longest applies. Triangle
    counting uses the classic distributed algorithm: edges oriented
    low-id -> high-id (each triangle counted exactly once) and two
    equi-joins e1(a,b) |x| e2(b,c) |x| e3(a,c) — at scale the
    orientation is by DEGREE so every join side stays near-linear
    (Suri-Vassilvitskii); ids stand in for degree rank here. Wedge
    counts are pure integer arithmetic off the degree table; the one
    division carries round-6."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    deg = (
        pairs.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e1 = pairs
    e2 = pairs.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = pairs.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .agg(F.count("*").alias("n_triangles"))
    )
    ds = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.max("d").alias("max_degree"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    a_side = ds.select(
        "n_nodes",
        "n_edges",
        "max_degree",
        "n_wedges",
        F.lit(None).cast("long").alias("n_triangles"),
    )
    b_side = tri.select(
        F.lit(None).cast("long").alias("n_nodes"),
        F.lit(None).cast("long").alias("n_edges"),
        F.lit(None).cast("long").alias("max_degree"),
        F.lit(None).cast("long").alias("n_wedges"),
        "n_triangles",
    )
    merged = a_side.unionByName(b_side).agg(
        F.max("n_nodes").alias("n_nodes"),
        F.max("n_edges").alias("n_edges"),
        F.max("n_triangles").alias("n_triangles"),
        F.max("max_degree").alias("max_degree"),
        F.max("n_wedges").alias("n_wedges"),
    )
    return merged.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "max_degree",
        "n_wedges",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .alias("global_clustering"),
    )


_PR_D = 0.85
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    """Replay PageRank over the kNN graph: nested one-CTE-per-iteration
    power method, contributions folded in value order (deterministic
    sum). The (1-d)/n and 1/n constants are embedded as Python-double
    literals on BOTH sides — DuckDB would otherwise fold (1.0 - 0.85)
    in DECIMAL arithmetic and land one ulp away from the double path."""
    import pyarrow.parquet as papq

    # read_table (not read_metadata) so directory-layout scale fixtures
    # under SPARK_GRAFT_ORACLE_SF resolve too; one id column is cheap
    n = papq.read_table(
        f"{_ORACLE_SF}/embeddings.parquet", columns=["vec_id"]
    ).num_rows
    base = (1.0 - _PR_D) / n
    init = 1.0 / n
    knn_sql = REGISTRY["knn_self_join"].oracle
    iters = ""
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters += f""",
it{i} AS (
  SELECT nd.node, {base!r} + {_PR_D!r} * coalesce(agg.s, 0.0) AS r
  FROM nodes nd
  LEFT JOIN (
    SELECT e2.dst AS node,
           list_aggregate(list(p.r / e2.c ORDER BY p.r / e2.c), 'sum') AS s
    FROM e2 JOIN {prev} p ON p.node = e2.src GROUP BY e2.dst
  ) agg ON agg.node = nd.node
)"""
        prev = f"it{i}"
    return f"""
WITH knn AS ({knn_sql}),
e AS (SELECT src_id AS src, nbr_id AS dst FROM knn),
od AS (SELECT src, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY src),
e2 AS (SELECT e.src, e.dst, od.c FROM e JOIN od USING (src)),
nodes AS (SELECT vec_id AS node FROM embeddings),
r0 AS (SELECT node, {init!r} AS r FROM nodes){iters}
SELECT node, round(r, 6) AS pagerank,
       CAST(row_number() OVER (ORDER BY round(r, 6) DESC, node ASC) AS INT)
         AS pr_rank
FROM {prev}
"""


