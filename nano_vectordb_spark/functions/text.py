"""Text analysis column expressions for the LLM-data-pipeline extensions.

The reference's only text processing is the CSV -> chunk -> embed
pipeline (SURVEY.md O33, scripts/build_vecbin_chunked.py:144-225). This
module generalizes it into the operator family a training-data pipeline
needs: tokenization, language-ID, quality scoring, token counting, and
document fingerprinting — all as native (codegen'd) expressions, all
deterministic across engines:

  * tokens = whitespace split, empties dropped;
  * token hashes come from md5 hex (28-bit slices) so any engine with
    md5 reproduces them bit-for-bit — never engine-specific hash();
  * ratios/scores use a fixed operation order so doubles match the
    oracle exactly.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

ColumnOrName = Column | str

FP_MOD = 2_147_483_647  # 2^31 - 1

# Marker vocabularies for the language-ID heuristic (letter-frequency /
# stopword n-gram approach; deterministic and SQL-expressible).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "los", "las", "una", "es", "y", "que", "por"),
    "fr": ("le", "les", "des", "et", "est", "une", "dans", "que"),
}

EN_STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"] + ("that", "for", "on", "with")


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens_expr(text: ColumnOrName) -> Column:
    """Whitespace tokens with empties removed."""
    return F.filter(F.split(_col(text), " "), lambda x: x != "")


def token_hash_expr(tok: Column) -> Column:
    """Deterministic 28-bit token hash from the md5 hex prefix —
    reproducible in any engine with md5 (cf. DuckDB's hex cast)."""
    return F.conv(F.substring(F.md5(tok), 1, 7), 16, 10).cast("long")


def marker_hits_expr(toks: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens that appear in a marker vocabulary."""
    lit = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda x: F.array_contains(lit, x)))


def lang_pred_expr(en: Column, de: Column, es: Column, fr: Column) -> Column:
    """Argmax with the fixed tie-break order en > de > es > fr (same
    CASE cascade in the oracle SQL)."""
    return (
        F.when((en >= de) & (en >= es) & (en >= fr), F.lit("en"))
        .when((de >= es) & (de >= fr), F.lit("de"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def fingerprint_expr(toks: Column) -> Column:
    """Order-sensitive document fingerprint: position-weighted rolling
    hash sum(token_hash_i * (i mod 64 + 1)) mod (2^31-1), i zero-based.
    Terms stay < 2^34 and the sum < 2^63, so no overflow under ANSI
    semantics; the same arithmetic runs in the oracle."""
    weighted = F.transform(
        toks, lambda x, i: token_hash_expr(x) * ((i % 64) + 1).cast("long")
    )
    return (
        F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x) % FP_MOD
    )


def punct_ratio_expr(text: ColumnOrName) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lowercased)."""
    t = F.lower(_col(text))
    n = F.length(t)
    stripped = F.length(F.regexp_replace(t, "[a-z0-9 ]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stripped.cast("double") / n.cast("double")
    )


def stopword_ratio_expr(toks: Column) -> Column:
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        marker_hits_expr(toks, EN_STOPWORDS).cast("double") / n.cast("double")
    )


def quality_expr(toks: Column, text: ColumnOrName) -> Column:
    """Composite quality score in [0, 1]: length saturation, low
    stopword share, low punctuation share. Fixed op order for parity."""
    n = F.size(toks)
    length_term = F.least(F.lit(1.0), n.cast("double") / F.lit(64.0))
    return (
        F.lit(0.5) * length_term
        + F.lit(0.3) * (F.lit(1.0) - stopword_ratio_expr(toks))
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio_expr(text))
    )


# --------------------------------------------------------------------------
# Vectorized scoring path (r12): one Arrow-batched profile pass
# --------------------------------------------------------------------------
#
# The expression path above (tokens_expr + 5x marker_hits_expr +
# punct_ratio_expr) is exact but runs as INTERPRETED higher-order folds
# (~us/row/pass), and Catalyst's CollapseProject substitutes the folds
# into any later filter, so a scored-then-filtered pipeline evaluates
# them TWICE (measured at 2M docs: 36 s warm). The profile UDF below
# computes the same counts in one Arrow-batched pass (5 s warm at 2M,
# the whole scored+filtered stage).
#
# Parity contract (why this is hash-identical, not approximately so):
#   * every output is an INTEGER count — no float leaves Python;
#   * tokenization is text.split(' ') with empties dropped == the
#     split-on-single-space definition of tokens_expr (exact, charset
#     independent: ASCII space never splits a multi-byte code point);
#   * marker/stopword hits are exact string equality via a merged
#     44-word lookup (a word may carry several category flags);
#   * n_chars/n_punct replay punct_ratio_expr's arithmetic inputs:
#     len(text.lower()) and the count of chars outside [a-z0-9 ].
#     Python str.lower() and JVM lower() both implement the Unicode
#     default case mapping (tested head-to-head on the special-casing
#     rows: İ, ß, ẞ, K in tests/test_text_fast.py);
#   * all RATIO/score arithmetic stays JVM-side in scored_docs(), in
#     quality_expr's exact operation order.

_PROFILE_CATEGORIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("sw", EN_STOPWORDS),
    ("en", LANG_MARKERS["en"]),
    ("de", LANG_MARKERS["de"]),
    ("es", LANG_MARKERS["es"]),
    ("fr", LANG_MARKERS["fr"]),
)


def _profile_lookup() -> dict[str, tuple[int, ...]]:
    look: dict[str, list[int]] = {}
    for ci, (_, words) in enumerate(_PROFILE_CATEGORIES):
        for w in words:
            look.setdefault(w, [0] * len(_PROFILE_CATEGORIES))[ci] = 1
    return {w: tuple(v) for w, v in look.items()}


_PROFILE_LOOKUP = _profile_lookup()
_KEEP_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789 "
_PUNCT_DELETE_TABLE = {ord(c): None for c in _KEEP_CHARS}

PROFILE_SCHEMA = (
    "n_tokens int, sw_hits int, en_hits int, de_hits int, es_hits int, "
    "fr_hits int, n_chars int, n_punct int"
)
_PROFILE_COLS = [f.split(" ")[0] for f in PROFILE_SCHEMA.split(", ")]


def _profile_batch(texts: pd.Series) -> pd.DataFrame:
    look = _PROFILE_LOOKUP
    rows = []
    for text in texts:
        if text is None:
            rows.append((0, 0, 0, 0, 0, 0, 0, 0))
            continue
        parts = text.split(" ")
        c = Counter(parts)
        n = len(parts) - c.get("", 0)
        sw = en = de = es = fr = 0
        for w, (s_, e_, d_, x_, f_) in look.items():
            k = c.get(w)
            if k:
                sw += s_ * k
                en += e_ * k
                de += d_ * k
                es += x_ * k
                fr += f_ * k
        low = text.lower()
        rows.append(
            (n, sw, en, de, es, fr, len(low), len(low.translate(_PUNCT_DELETE_TABLE)))
        )
    return pd.DataFrame(rows, columns=_PROFILE_COLS)


_VOCAB_FLAGS = None  # lazy (vocab_u64 sorted, order, flags matrix)


def _vocab_tables():
    """Sorted u64 little-endian packings of the 44 marker words (all
    <= 8 ASCII bytes) + their category-flag matrix, for the columnar
    profile's exact-match lookup. A token's first-8-bytes packing
    masked to its length equals a word's packing iff the bytes are
    identical — exact, no hashing."""
    global _VOCAB_FLAGS
    if _VOCAB_FLAGS is None:
        import numpy as np

        words = sorted(_PROFILE_LOOKUP)
        packed = np.array(
            [
                int.from_bytes(w.encode().ljust(8, b"\0"), "little")
                for w in words
            ],
            dtype=np.uint64,
        )
        order = np.argsort(packed)
        flags = np.array(
            [_PROFILE_LOOKUP[words[i]] for i in order], dtype=np.int64
        )
        _VOCAB_FLAGS = (packed[order], flags)
    return _VOCAB_FLAGS


def _profile_arrow(texts):
    """Columnar twin of _profile_batch (r12 VERDICT item 6): the same
    8 integer counts computed straight off the Arrow string buffers —
    no per-row Python string objects, no Counter. ASCII rows (the
    overwhelming case) run fully vectorized on the UTF-8 byte buffer;
    non-ASCII rows fall back to the reference row logic verbatim, so
    output equality with _profile_batch is structural, and is pinned
    on the adversarial fixture in tests/test_text_fast.py."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n = len(texts)
    cols = {c: np.zeros(n, dtype=np.int64) for c in _PROFILE_COLS}
    if n:
        valid = ~np.asarray(texts.is_null())
        is_ascii = np.asarray(
            pc.fill_null(pc.string_is_ascii(texts), False)
        )
        fast = valid & is_ascii
        bufs = texts.buffers()
        off0 = texts.offset
        odt = np.int64 if pa.types.is_large_string(texts.type) else np.int32
        o_all = np.frombuffer(bufs[1], dtype=odt)[off0 : off0 + n + 1]
        data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] else np.zeros(0, np.uint8)
        base = int(o_all[0])
        o = (o_all.astype(np.int64) - base)
        seg = data[base : int(o_all[-1])]

        # per-byte masks over the batch's contiguous text bytes
        lower_lut = np.arange(256, dtype=np.uint8)
        lower_lut[65:91] += 32
        low = lower_lut[seg]
        keep_lut = np.zeros(256, dtype=bool)
        for ch in _KEEP_CHARS:
            keep_lut[ord(ch)] = True
        t = seg != 0x20  # non-space: token bytes (split on ' ' exactly)
        nonempty = o[:-1] != o[1:]
        row_first = o[:-1][nonempty]
        row_last = (o[1:] - 1)[nonempty]
        prev_t = np.concatenate([[False], t[:-1]])
        prev_t[row_first] = False  # a token never continues across rows
        starts = t & ~prev_t
        next_t = np.concatenate([t[1:], [False]])
        next_t[row_last] = False
        ends = t & ~next_t

        def row_sums(mask):
            # per-row sums of a per-byte 0/1 mask WITHOUT a global
            # cumsum (np.cumsum over bool/int8 measured pathologically
            # slow — ~100 ns/elem); np.add.reduceat is ~50x faster.
            # The sentinel 0 makes every row start a valid index
            # (trailing empty rows start at len(mask)) without moving
            # any segment end; empty segments yield vals[idx] instead
            # of 0 and are zeroed explicitly.
            vals = np.append(mask.astype(np.int32), 0)
            res = np.add.reduceat(vals, o[:-1]).astype(np.int64)
            res[~nonempty] = 0
            return res

        n_chars = (o[1:] - o[:-1]).astype(np.int64)
        n_tokens = row_sums(starts)
        n_keep = row_sums(keep_lut[low])

        # marker hits: pack each token's first 8 bytes (length-masked)
        # and exact-match against the 44-word vocabulary
        s_idx = np.nonzero(starts)[0]
        e_idx = np.nonzero(ends)[0]
        lens = e_idx - s_idx + 1
        pad = np.concatenate([seg, np.zeros(8, np.uint8)])
        from numpy.lib.stride_tricks import sliding_window_view

        g = sliding_window_view(pad, 8)[s_idx]
        tok64 = np.ascontiguousarray(g).view(np.uint64).ravel()
        small = lens < 8
        m = np.full(len(s_idx), np.uint64(0xFFFFFFFFFFFFFFFF))
        m[small] = (
            np.uint64(1) << (lens[small].astype(np.uint64) * np.uint64(8))
        ) - np.uint64(1)
        tok64 = tok64 & m
        tok64[lens > 8] = np.uint64(0xFFFFFFFFFFFFFFFF)  # can't be a word
        vocab, flags = _vocab_tables()
        pos = np.searchsorted(vocab, tok64)
        pos_c = np.minimum(pos, len(vocab) - 1)
        hit = vocab[pos_c] == tok64
        tok_row = np.searchsorted(o, s_idx, side="right") - 1
        hit_rows = tok_row[hit]
        hit_flags = flags[pos_c[hit]]
        for ci, name in enumerate(("sw", "en", "de", "es", "fr")):
            sel = hit_rows[hit_flags[:, ci] > 0]
            if len(sel):
                cols[f"{name}_hits"] += np.bincount(sel, minlength=n)

        cols["n_tokens"][:] = np.where(fast, n_tokens, 0)
        cols["n_chars"][:] = np.where(fast, n_chars, 0)
        cols["n_punct"][:] = np.where(fast, n_chars - n_keep, 0)
        for name in ("sw", "en", "de", "es", "fr"):
            cols[f"{name}_hits"] = np.where(fast, cols[f"{name}_hits"], 0)

        # non-ASCII rows: the reference row logic verbatim
        slow = np.nonzero(valid & ~is_ascii)[0]
        if len(slow):
            look = _PROFILE_LOOKUP
            for i in slow:
                text = texts[int(i)].as_py()
                parts = text.split(" ")
                from collections import Counter as _Counter

                c = _Counter(parts)
                nt = len(parts) - c.get("", 0)
                sw = en = de = es = fr = 0
                for w, (s_, e_, d_, x_, f_) in look.items():
                    k = c.get(w)
                    if k:
                        sw += s_ * k
                        en += e_ * k
                        de += d_ * k
                        es += x_ * k
                        fr += f_ * k
                lowt = text.lower()
                vals = (
                    nt, sw, en, de, es, fr,
                    len(lowt), len(lowt.translate(_PUNCT_DELETE_TABLE)),
                )
                for cname, v in zip(_PROFILE_COLS, vals):
                    cols[cname][i] = v
    return pa.StructArray.from_arrays(
        [pa.array(cols[c], type=pa.int32()) for c in _PROFILE_COLS],
        names=_PROFILE_COLS,
    )


def token_profile_udf():
    """The Arrow-batched token/char profile: struct of the 8 integer
    counts every quality/lang score derives from. Marked
    nondeterministic ON PURPOSE (it is deterministic): the flag is the
    supported way to stop CollapseProject/PushDownPredicates from
    substituting the UDF into downstream filters — without it a
    scored-then-filtered plan carries TWO ArrowEvalPython nodes and
    pays the profile pass twice (plan-pinned in tests/test_text_fast.py).

    r13: the default implementation is the COLUMNAR arrow_udf
    (_profile_arrow — Spark 4.1's Arrow-native scalar UDF), which
    works straight off the Arrow string buffers and skips the
    per-row Python string materialization the pandas path paid (the
    r12-measured residual of the 2M-doc profile pass). _profile_batch
    stays as the parity reference; equality is pinned on adversarial
    fixtures (Unicode special-casing, nulls, batch splits) in
    tests/test_text_fast.py. Set TOKEN_PROFILE_IMPL="pandas" to force
    the reference path."""
    if TOKEN_PROFILE_IMPL == "pandas":
        return pandas_udf(_profile_batch, PROFILE_SCHEMA).asNondeterministic()
    from pyspark.sql.functions import arrow_udf

    return arrow_udf(_profile_arrow, PROFILE_SCHEMA).asNondeterministic()


# "arrow" (default) = _profile_arrow columnar path; "pandas" = the
# _profile_batch reference (the r12 implementation, kept for parity
# pinning and as the escape hatch).
TOKEN_PROFILE_IMPL = "arrow"


def scored_docs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_tokens / quality / pred_lang to a documents frame via
    ONE profile pass — hash-identical to the expression path
    (quality_expr + lang_pred_expr), with every float computed JVM-side
    in the same operation order. This is the scale path for the
    quality/lang stage of corpus_clean (2M docs: 36 s -> 5 s warm)."""
    d = df.withColumn("__prof", token_profile_udf()(text_col))
    p = F.col("__prof")
    n = p["n_tokens"]
    nn = n.cast("double")
    sr = F.when(n == 0, F.lit(0.0)).otherwise(p["sw_hits"].cast("double") / nn)
    pr = F.when(p["n_chars"] == 0, F.lit(0.0)).otherwise(
        p["n_punct"].cast("double") / p["n_chars"].cast("double")
    )
    quality = (
        F.lit(0.5) * F.least(F.lit(1.0), nn / F.lit(64.0))
        + F.lit(0.3) * (F.lit(1.0) - sr)
        + F.lit(0.2) * (F.lit(1.0) - pr)
    )
    return d.select(
        *[F.col(c) for c in df.columns],
        n.alias("n_tokens"),
        quality.alias("quality"),
        lang_pred_expr(
            p["en_hits"], p["de_hits"], p["es_hits"], p["fr_hits"]
        ).alias("pred_lang"),
    )


def ngrams_expr(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams; empty when len(toks) < n.

    Guarded with `when` because Spark's `sequence(1, m)` produces a
    DESCENDING [1, 0] when m = 0 — the naive form would fabricate
    grams for short docs.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
    return F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def max_run_expr(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements in a
    sorted array (0 for empty). A native fold — the zero-shuffle way
    to get "count of the most frequent element" per row, vs the
    explode + groupBy plan that shuffles every n-gram. Elements must
    be non-empty strings ("" is the run sentinel).
    """
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, acc0, merge, lambda acc: acc["best"])


def dup_run_total_expr(sorted_arr: Column) -> Column:
    """Total count of elements that belong to runs of length > 1 in a
    sorted array — i.e. how many n-gram occurrences are duplicated
    within the document (Gopher-style repetition signal). Same
    zero-shuffle fold shape as max_run_expr.
    """
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def merge(acc: Column, x: Column) -> Column:
        same = x == acc["prev"]
        flushed = acc["dup"] + F.when(acc["run"] > 1, acc["run"]).otherwise(F.lit(0))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["dup"]).otherwise(flushed).alias("dup"),
        )

    return F.aggregate(
        sorted_arr,
        acc0,
        merge,
        lambda acc: acc["dup"] + F.when(acc["run"] > 1, acc["run"]).otherwise(F.lit(0)),
    )
