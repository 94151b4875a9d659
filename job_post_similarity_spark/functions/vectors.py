"""Vector column expressions (SURVEY.md §2.9, V3-V4).

Embeddings live as ``array<double>`` columns; all arithmetic is
built-in higher-order functions (zip_with / aggregate / transform) —
JVM-side, no Python, no UDF. Dot products fold left-to-right in
double, which matches DuckDB's list functions bit-for-bit and keeps
oracle hashes stable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """V4: dot product of two equal-length double arrays."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """V4: full cosine similarity (no unit-norm assumption)."""
    return dot(a, b) / (norm(a) * norm(b))


def dot_cosine(a: Column | str, b: Column | str) -> Column:
    """V4 fast path: cosine when both vectors are unit-L2-normalized —
    exactly the property the reference relies on (model emits normalized
    vectors; app/generate_embeddings.py:25-50, app/evaluation.py:24-27)."""
    return dot(a, b)


def dot_cosine_arrow(a: Column | str, b: Column | str) -> Column:
    """V4 bulk path: unit-vector cosine as an Arrow-batched Pandas UDF
    (row-stacked ``einsum``) — for candidate-VERIFY stages that score
    millions of pairs, where the JVM fold's per-element expression
    evaluation dominates (measured ~5× on the IVF verify at sf0.1).

    Not for oracle-gated outputs: numpy's pairwise summation order can
    differ from the left-to-right fold in the last ulp, so rounded
    values could flip on a boundary. ``dot_cosine`` (bit-stable vs
    DuckDB) remains the default.

    Marked ``asNondeterministic`` ON PURPOSE (it is deterministic):
    verify stages both project AND filter on this column, and
    Catalyst pushes a deterministic filter below the projection,
    planning the Arrow UDF TWICE — the whole candidate set was being
    scored two times (visible as two ArrowEvalPython nodes). The
    nondeterministic mark pins the filter above the single
    evaluation; the only optimizations lost are reorderings that
    would re-run the UDF anyway.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def _dot(va, vb):
        ma = np.asarray(list(va), dtype=np.float64)
        mb = np.asarray(list(vb), dtype=np.float64)
        if len(ma) == 0:
            return pd.Series([], dtype=np.float64)
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    # positional form: `from __future__ import annotations` stringifies
    # type hints, which the hint-based pandas_udf API can't infer
    return F.pandas_udf(_dot, T.DoubleType()).asNondeterministic()(_c(a), _c(b))


def l2_normalize(a: Column | str) -> Column:
    """Scale to unit L2 norm (null-safe on zero vectors: returns zeros)."""
    col = _c(a)
    n = norm(col)
    return F.when(n == 0.0, col).otherwise(
        F.transform(col, lambda x: x / n)
    )


def sq_l2_distance(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance — what Faiss IndexFlatL2 actually returns
    (SURVEY.md §2.9 V3 quirk note)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_to_cosine(dist: Column | str) -> Column:
    """V3 (correct form): cosine = 1 - L2²/2 for unit vectors, clipped
    to [-1, 1] (reference: app/evaluation.py:24-27). ``dist`` must be
    the *true* (non-squared) L2 distance."""
    c = _c(dist)
    sim = F.lit(1.0) - (c * c) / F.lit(2.0)
    return F.least(F.greatest(sim, F.lit(-1.0)), F.lit(1.0))
