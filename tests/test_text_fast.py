"""Parity and plan pins for the r12 vectorized scoring path
(functions/text.py: token_profile_udf / scored_docs).

The fast path's contract is HASH-IDENTITY with the expression path
(quality_expr / lang_pred_expr / marker_hits_expr), not approximate
agreement — corpus_clean's oracle defines the scores via the
expression semantics, so these tests compare row-by-row equality on
real fixture text AND on adversarial unicode where Python/JVM case
mapping could in principle diverge.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nano_vectordb_spark.functions import text as tx
from tests.conftest import SF_SMOKE


def _expr_scored(df):
    d = df.withColumn("toks", tx.tokens_expr("text"))
    hits = {
        lang: tx.marker_hits_expr(F.col("toks"), tx.LANG_MARKERS[lang])
        for lang in ("en", "de", "es", "fr")
    }
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        tx.quality_expr(F.col("toks"), "text").alias("quality"),
        tx.lang_pred_expr(hits["en"], hits["de"], hits["es"], hits["fr"]).alias(
            "pred_lang"
        ),
    )


def _assert_paths_identical(df):
    slow = {r["doc_id"]: r for r in _expr_scored(df).collect()}
    fast = {
        r["doc_id"]: r
        for r in tx.scored_docs(df).select(
            "doc_id", "n_tokens", "quality", "pred_lang"
        ).collect()
    }
    assert slow.keys() == fast.keys()
    for k in slow:
        s, f = slow[k], fast[k]
        assert s["n_tokens"] == f["n_tokens"], (k, s, f)
        # exact float equality — the whole point of the parity contract
        assert s["quality"] == f["quality"], (k, s, f)
        assert s["pred_lang"] == f["pred_lang"], (k, s, f)


def test_scored_docs_matches_expression_path_on_fixture(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    _assert_paths_identical(docs)


def test_scored_docs_matches_expression_path_adversarial(spark):
    """Unicode special-casing rows (İ expands under lower(), ẞ/K map
    cross-block), tabs/newlines inside tokens, empty and all-space
    text, repeated markers, and a doc that is pure stopwords."""
    rows = [
        (1, "İstanbul ẞ STRASSE K ß"),
        (2, ""),
        (3, "    "),
        (4, "the the the the a of and to in is it that for on with"),
        (5, "tab\tseparated\nnewline tokens der die das und"),
        (6, "el los las es y que por le les des et est une dans"),
        (7, "x" * 500 + " " + "punct!!!??? ###"),
        (8, "café naïve Ωmega ΣΙΣΥΦΟΣ"),
        (9, "a  b   c    d"),  # multi-space runs
        (10, "the quick brown fox jumps over the lazy dog " * 20),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    _assert_paths_identical(df)


def test_scored_docs_single_profile_pass(spark):
    """The nondeterministic flag on token_profile_udf exists to keep a
    scored-then-filtered plan at ONE ArrowEvalPython node (without it,
    CollapseProject duplicates the UDF into the filter and the profile
    pass runs twice — measured 2x the stage wall at 2M docs)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    filt = tx.scored_docs(docs).filter(
        (F.col("quality") >= 0.75) & (F.col("pred_lang") == "en")
    )
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_profile_udf_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, " ")], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: r
        for r in df.withColumn("__p", tx.token_profile_udf()("text"))
        .select("doc_id", "__p.*")
        .collect()
    }
    for k in (1, 2, 3):
        assert out[k]["n_tokens"] == 0
        assert out[k]["sw_hits"] == 0
    # empty text: n_chars 0 (ratio guard's zero branch)
    assert out[2]["n_chars"] == 0
    assert out[3]["n_chars"] == 1 and out[3]["n_punct"] == 0


_PROFILE_TEXT = st.lists(
    st.one_of(
        st.sampled_from(sorted(tx._PROFILE_LOOKUP)),
        st.text(alphabet="ab,.!'-é", max_size=5),
    ),
    max_size=5,
).map(" ".join)


@given(
    texts=st.lists(st.one_of(st.none(), _PROFILE_TEXT), max_size=6),
    filler=st.sampled_from(["", None, " "]),
    start=st.integers(0, 2),
)
@settings(max_examples=200, deadline=None)
def test_profile_arrow_empty_and_null_rows_any_position(texts, filler, start):
    """The columnar profile equals the _profile_batch reference with an
    empty, null or blank row at every batch position (first, middle,
    last), on arrays with a nonzero slice offset too."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    for pos in range(len(texts) + 1):
        batch = texts[:pos] + [filler] + texts[pos:]
        arr = pa.array(["lead"] * start + batch, pa.string()).slice(start)
        got = tx._profile_arrow(arr)
        got = np.column_stack([got.field(c).to_numpy() for c in tx._PROFILE_COLS])
        want = tx._profile_batch(pd.Series(batch, dtype=object))[tx._PROFILE_COLS]
        assert got.tolist() == want.to_numpy().tolist(), (batch, pos)
