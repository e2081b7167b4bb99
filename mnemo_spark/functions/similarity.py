"""Vector similarity kernels (reference F7).

The reference computes cosine via USearch HNSW
(crates/mnemo-core/src/index/usearch.rs:22, metric cosine, f32) and
pgvector `vector_cosine_ops`. Two forms here:

- Expression form (`dot`/`norm`/`cosine`): JVM-side higher-order
  functions over array<float>. Zero Python, but Spark evaluates
  `aggregate`/`zip_with` folds INTERPRETED (not codegen'd) — ~10-100×
  slower per row than native. Fine for small scans and for plans
  where per-row similarity is not the bottleneck.
- Arrow form (`cosine_arrow`): a vectorized pandas UDF that stacks
  each Arrow batch into a (n, dim) float64 matrix and computes all
  dots/norms as one numpy einsum. This is the hot-path kernel for
  the dense retrieval operators (operators/vector.py) — per-row cost
  drops from an interpreted fold to SIMD.

Precision contract with the DuckDB oracle: cast to double BEFORE any
arithmetic, round only at the output edge. The expression form also
accumulates strictly left-to-right like DuckDB's `list_dot_product`;
the Arrow form may re-associate the sum (numpy pairwise/SIMD), which
differs by ≤ a few ulps — invisible after the ROUND_DP=6 output
rounding every consumer applies before comparing or ranking.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _dbl(c: Column) -> Column:
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero-norm vectors."""
    d = dot(a, b)
    n = norm(a) * norm(b)
    return F.when(n > 0, d / n)


def cosine_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, m) guarded cosine of two row-vector matrices — THE shared
    convention for every cell-assignment / probe site (index-time
    assignment and query-time probing must agree bit-for-bit, so there
    is exactly one copy of this block): a zero-norm row on either side
    scores -inf (it can never be an argmax winner / probe candidate),
    and zero denominators are guarded before the divide."""
    an = np.sqrt(np.einsum("ij,ij->i", A, A))
    bn = np.sqrt(np.einsum("ij,ij->i", B, B))
    denom = np.outer(an, bn)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(
            denom > 0.0, (A @ B.T) / np.where(denom == 0.0, 1.0, denom), -np.inf
        )


def stack_batch(col: pd.Series, null_mask: np.ndarray) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow list column; NULL rows
    become zero vectors (callers mask them out of the result)."""
    vals = col.to_numpy()
    if not null_mask.any():
        return np.vstack(vals).astype(np.float64, copy=False)
    live = [np.asarray(v, dtype=np.float64) for v, m in zip(vals, null_mask) if not m]
    dim = live[0].shape[0] if live else 0
    out = np.zeros((len(vals), dim), dtype=np.float64)
    if live:
        out[~null_mask] = np.vstack(live)
    return out


@pandas_udf(DoubleType())
def cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched cosine similarity; NULL on NULL input or zero norms
    (same contract as the `cosine` expression form)."""
    if len(a) == 0:
        return pd.Series([], dtype="Float64")
    nulls = a.isna().to_numpy() | b.isna().to_numpy()
    A = stack_batch(a, nulls)
    B = stack_batch(b, nulls)
    dots = np.einsum("ij,ij->i", A, B)
    denom = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
        np.einsum("ij,ij->i", B, B)
    )
    valid = (~nulls) & (denom > 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(valid, dots / np.where(denom == 0.0, 1.0, denom), 0.0)
    out = pd.array(sims, dtype="Float64")
    out[~valid] = pd.NA
    return pd.Series(out)
