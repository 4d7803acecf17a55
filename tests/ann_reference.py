"""Independent JVM-side references for the approximate vector encoders.

``ivf_assign``, ``pq_encode`` and ``ivfpq_encode`` have no DuckDB oracle
(their queries are approximate and checked rows-only), so their numpy
kernels are checked against these pure Spark-SQL spellings instead:
higher-order-function folds (``aggregate(zip_with(...))``) over the
codebooks as nested-array literals, argmin as
``array_position(array_min)`` — the first index of the minimum, the
same lowest-index tie-break the kernels promise. They share no code
with the kernels beyond the literal builder, and run only in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_etl_pyspark_spark.functions.vectors import cosine_similarity_col
from nyc_taxi_etl_pyspark_spark.operators.similarity import _nested_double_lit


def ivf_assign_ref(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Argmax-cosine centroid per vector: broadcast crossJoin against
    the codebook, then a groupBy(id) ``max_by``. NULL cosines (zero or
    NULL vectors) never win, so such rows get NULL ``centroid_id``."""
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id"),
            cosine_similarity_col(
                F.col(vec_col), F.col("centroid_vec")
            ).alias("__csim"),
        )
        .groupBy(id_col)
        .agg(
            F.max_by("centroid_id", "__csim").alias("centroid_id"),
            F.first(vec_col).alias(vec_col),
        )
    )


def _normalized(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # norm computed ONCE per row (not per element inside the divide)
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.greatest(
            F.sqrt(
                F.aggregate(
                    F.col(vec_col),
                    F.lit(0.0),
                    lambda a, y: a + y.cast("double") * y.cast("double"),
                )
            ),
            F.lit(1e-12),  # zero vectors encode as themselves, not NaN
        ).alias("__norm"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.transform(
            F.col(vec_col), lambda x: x / F.col("__norm")
        ).alias("__nvec"),
    )


def _code_cols(src: str, codebooks) -> list:
    d_sub = len(codebooks[0][0])
    code_cols = []
    for m, cb in enumerate(codebooks):
        sub = F.slice(F.col(src), m * d_sub + 1, d_sub)
        cb_lit = _nested_double_lit([[float(x) for x in c] for c in cb])
        dists = F.transform(
            cb_lit,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"__code_{m}")
        )
    return code_cols


def pq_encode_ref(
    vectors: DataFrame, codebooks, id_col: str, vec_col: str
) -> DataFrame:
    """PQ codes of the L2-normalized vectors: per subspace, the index
    of the nearest (squared-L2) codeword."""
    out = _normalized(vectors, id_col, vec_col)
    return out.select(id_col, vec_col, *_code_cols("__nvec", codebooks))


def ivfpq_encode_ref(
    vectors: DataFrame, centroids: list, codebooks, id_col: str, vec_col: str
) -> DataFrame:
    """IVF×PQ codes: nearest (squared-L2) coarse centroid of the
    normalized vector, then PQ codes of the residual."""
    cents = [v for _, v in sorted(centroids, key=lambda cv: int(cv[0]))]
    cent_lit = _nested_double_lit([[float(x) for x in c] for c in cents])
    cell_d2 = F.transform(
        cent_lit,
        lambda c: F.aggregate(
            F.zip_with(F.col("__nvec"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    out = _normalized(vectors, id_col, vec_col).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__nvec"),
        (F.array_position(cell_d2, F.array_min(cell_d2)) - 1)
        .cast("int")
        .alias("centroid_id"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        F.zip_with(
            F.col("__nvec"),
            F.element_at(cent_lit, F.col("centroid_id") + 1),
            lambda x, y: x - y,
        ).alias("__resid"),
    )
    return out.select(
        id_col, vec_col, "centroid_id", *_code_cols("__resid", codebooks)
    )
