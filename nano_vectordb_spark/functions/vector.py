"""Vector math as native Spark column expressions.

Covers the reference's scoring kernels (SURVEY.md O4-O7):
  - dot product    (reference: src/simd_dot.cpp:18-64, double accumulator)
  - L2^2 distance  (reference: apps/nvdb_ivf_eval.cpp:232-240)
  - L2 norm / normalize / NaN checks (reference: apps/nvdb_sanity.cpp:7-47)

Design notes (100 TB mindset):
  * All expressions are higher-order array functions — they run JVM-side
    inside whole-stage codegen; no Python boundary in the hot path.
  * Arithmetic is double-precision with a strict left-to-right fold, the
    same evaluation order DuckDB's list_dot_product uses — results are
    bit-identical to the oracle (verified in tests), mirroring the
    reference's double-accumulator scalar path (src/simd_dot.cpp:18-25).
  * ``dot_np`` / ``l2sq_np`` / ``cosine_np`` replay the same folds in
    NumPy, bit-for-bit: the two-phase top-k kernel (operators/topk.py)
    and driver-side IVF probing (operators/ivf.py) score with them, so
    their outputs equal the expressions' without a rescoring join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def as_double_array(c: ColumnOrName) -> Column:
    """Widen array<float> to array<double> (reference O3 to_f32_row analog:
    include/nvdb/to_f32_row.h:10-34 widens any dtype to the scoring type)."""
    return _col(c).cast("array<double>")


def dot_expr(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sequential double-precision dot product (reference O4,
    src/simd_dot.cpp:18-64)."""
    return F.aggregate(
        F.zip_with(as_double_array(a), as_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def dot_expr_fixed(a: ColumnOrName, b: ColumnOrName, dim: int) -> Column:
    """dot_expr for a KNOWN dimension, unrolled: the identical left-
    fold rounding sequence (0.0, then += a[i]*b[i] in index order — so
    bit-identical output, pinned in tests/test_quantize.py) expressed
    as flat arithmetic instead of zip_with + aggregate. Higher-order
    functions evaluate interpreted per element; the unrolled form is
    plain codegen-able expressions, which matters on candidate-verify
    hot paths that stream hundreds of millions of pairs through the
    dot (candidate-verify pair streams; measured per shape — inside a
    join stage the fold can win, see dedup.embedding_neardup_lsh).
    Emits null when either array is null (the fold's null contract).
    Length-mismatch contracts differ: an array SHORTER than ``dim``
    errors here under ANSI mode (element_at out of range), while the
    fold form yields NULL (zip_with null-pads the shorter side, the
    null product nulls the sum) — neither silently truncates; pick
    the loud error or the null propagation per call site (ADVICE r9)."""
    aa, bb = as_double_array(a), as_double_array(b)
    s: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        s = s + F.element_at(aa, i) * F.element_at(bb, i)
    return s


def l2sq_expr(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sequential double-precision squared L2 distance (reference O7,
    apps/nvdb_ivf_eval.cpp:232-240)."""
    return F.aggregate(
        F.zip_with(as_double_array(a), as_double_array(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def norm_expr(a: ColumnOrName) -> Column:
    """L2 norm (reference sanity check: apps/nvdb_sanity.cpp:33-46)."""
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity. On L2-normalized inputs this equals dot; kept
    separate because pipeline extensions (near-dup) use it on raw vectors."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def normalize_expr(a: ColumnOrName) -> Column:
    """L2-normalize, in double, returning array<double>. Mirrors the
    reference pipeline's normalize_embeddings=True
    (scripts/build_vecbin_chunked.py:294-300)."""
    a = as_double_array(a)
    nrm = F.sqrt(
        F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    )
    return F.transform(a, lambda x: x / nrm)


def has_nan_expr(a: ColumnOrName) -> Column:
    """NaN/Inf detector (reference O24, apps/nvdb_sanity.cpp:14-19)."""
    return F.exists(
        as_double_array(a), lambda x: x.isNaN() | (F.abs(x) == F.lit(float("inf")))
    )


def _fold_np(a, b, term):
    """Left-to-right float64 fold of ``term(a_d, b_d)`` over the last
    axis, starting from 0.0: the rounding sequence of the expressions'
    ``aggregate(zip_with(...), 0.0, s + x)``. Leading axes broadcast,
    so (P, D) x (P, D) scores P row-aligned pairs and (N, 1, D) x
    (1, Q, D) scores all N x Q pairs with only an (N, Q) accumulator."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        acc += term(a[..., d], b[..., d])
    return acc


def dot_np(a, b):
    """NumPy twin of dot_expr, bit-identical."""
    return _fold_np(a, b, lambda x, y: x * y)


def l2sq_np(a, b):
    """NumPy twin of l2sq_expr, bit-identical."""
    return _fold_np(a, b, lambda x, y: (x - y) * (x - y))


def cosine_np(a, b):
    """NumPy twin of cosine_expr, bit-identical (IEEE sqrt, * and / are
    correctly rounded in both engines)."""
    import numpy as np

    return dot_np(a, b) / (np.sqrt(dot_np(a, a)) * np.sqrt(dot_np(b, b)))
