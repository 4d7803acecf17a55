"""Arrow (pandas_udf) kernels for the md5-derived similarity
operators: the sign-RP signature stage of ``rp_lsh_similarity_join``,
the Voronoi cell assignment of ``semantic_cells``, and the strict-fold
pair dot (round 14, guide §4.2). Every kernel accumulates with a strict
left fold over vector components so its doubles are BIT-IDENTICAL to
the DuckDB oracles' ``list_reduce`` folds (same IEEE ops, same order).

Lives in its own module WITHOUT ``from __future__ import annotations``:
PySpark resolves pandas_udf type hints by evaluating them against the
function's module globals, so the iterator-form signature needs real
``pandas`` / ``Iterator`` names at module scope. Keeping the function in
an importable module (rather than a closure pickled by value) also lets
reused Python workers keep the derived plane family across tasks.
"""

from collections.abc import Iterator
from typing import Tuple

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

# once-per-worker plane cache: (n_planes, dim, prefix) -> ndarray
_PLANES: dict = {}


def _planes(n_planes: int, dim: int, prefix: str) -> np.ndarray:
    key = (n_planes, dim, prefix)
    if key not in _PLANES:
        from nyc_taxi_etl_pyspark_spark.operators.similarity import (
            md5_rp_planes,
        )

        _PLANES[key] = np.array(
            md5_rp_planes(n_planes, dim, prefix=prefix), dtype=np.float64
        )
    return _PLANES[key]


def md5_cell_udf(n_cells: int, dim: int, prefix: str = "cell"):
    """pandas_udf mapping ``vec_col`` → the nearest md5-anchor Voronoi
    cell (argmin of squared-L2, ties to the LOWEST anchor index) — the
    kernel of ``semantic_cells`` (round 14, guide §4.2). Distances
    accumulate with a strict left fold over components ((x_i − a_i)²
    added in component order), bit-identical to the DuckDB oracle's
    ``list_reduce``; ``np.argmin`` picks the first minimum, matching
    ``list_position`` of the min. NULL / wrong-length vectors yield
    NULL."""
    anchors_key = (n_cells, dim, prefix)

    @F.pandas_udf("int")
    def cell(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        anchors = _planes(*anchors_key)  # (n_cells, dim)
        for s in it:
            valid = np.array(
                [v is not None and len(v) == dim for v in s], dtype=bool
            )
            vecs = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    if ok
                    else np.zeros(dim)
                    for v, ok in zip(s, valid)
                ]
            )
            acc = np.zeros((len(s), n_cells), dtype=np.float64)
            for i in range(dim):  # strict left fold over components
                d = vecs[:, i, None] - anchors[None, :, i]
                acc += d * d
            out = np.argmin(acc, axis=1).astype("int32")
            res = pd.Series(out).astype("Int32")
            res[~valid] = pd.NA
            yield res

    return cell


def strict_dot_udf(dim: int):
    """pandas_udf computing dot(v_a, v_b) with a strict left fold over
    components — bit-identical to a ``list_reduce`` of the products in
    component order (same IEEE ops, same order), vectorized across
    rows. NULL / wrong-length inputs yield NULL."""

    @F.pandas_udf("double")
    def dot(
        it: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for a_s, b_s in it:
            a_s, b_s = a_s.reset_index(drop=True), b_s.reset_index(drop=True)
            valid = np.array(
                [
                    x is not None
                    and y is not None
                    and len(x) == dim
                    and len(y) == dim
                    for x, y in zip(a_s, b_s)
                ],
                dtype=bool,
            )
            za = np.stack(
                [
                    np.asarray(x, dtype=np.float64) if ok else np.zeros(dim)
                    for x, ok in zip(a_s, valid)
                ]
            )
            zb = np.stack(
                [
                    np.asarray(y, dtype=np.float64) if ok else np.zeros(dim)
                    for y, ok in zip(b_s, valid)
                ]
            )
            acc = np.zeros(len(a_s), dtype=np.float64)
            for i in range(dim):  # strict left fold over components
                acc += za[:, i] * zb[:, i]
            # nullable Float64 so invalid rows become SQL NULL, not NaN
            # (None into a float64 Series stores NaN, and Spark's NaN
            # ordering makes `NaN >= threshold` TRUE, so an invalid
            # pair would pass every threshold; ADVICE r14)
            res = pd.Series(acc, dtype="Float64")
            res[~valid] = pd.NA
            yield res

    return dot


def rp_sign_buckets_udf(
    n_bands: int, bits_per_band: int, dim: int, prefix: str = "rp"
):
    """pandas_udf mapping ``vec_col`` → the ``n_bands`` band buckets,
    bit j of band b = sign(v · plane[b·k+j]). The plane family is
    re-derived in the worker (``md5_rp_planes`` — the same 2048 tiny
    md5s the broadcast spelling evaluates engine-side, cached per
    worker process), and the dots are accumulated with a STRICT LEFT
    FOLD over the dimension axis (one vectorized multiply-add per
    component, in component order), so every dot is BIT-IDENTICAL to
    the DuckDB oracle's ``list_reduce`` — same IEEE ops in the same
    order (pinned by q_similarity_join_md5's oracle). NULL or
    wrong-length vectors get NaN dots → all-zero buckets; they still
    join no pair, because the re-rank cosine is NULL for them. An
    interpreted HOF fold per plane was the measured bottleneck of
    q_similarity_join_md5 (32 folds per row: 1.6 s of the signature
    stage at sf0.1; HOFs are CodegenFallback)."""
    n_planes = n_bands * bits_per_band

    @F.pandas_udf("array<long>")
    def sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        planes = _planes(n_planes, dim, prefix)
        weights = (1 << np.arange(bits_per_band)).astype(np.int64)
        nan_row = np.full(dim, np.nan)
        for s in it:
            vecs = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    if v is not None and len(v) == dim
                    else nan_row
                    for v in s
                ]
            )
            acc = np.zeros((len(s), n_planes), dtype=np.float64)
            for i in range(dim):  # strict left fold over components
                acc += vecs[:, i, None] * planes[None, :, i]
            bits = (acc > 0).reshape(len(s), n_bands, bits_per_band)
            buckets = bits.astype(np.int64) @ weights
            yield pd.Series(list(buckets))

    return sig
