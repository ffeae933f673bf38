"""Binary quantization (1 bit/dimension) + Hamming-distance search.

Third VectorCompression-style codec beside PQ and SQ (reference surface:
py/vector_compression.py:5-94 — Train/Encode/distance hooks). BQ is the
degenerate-but-industrially-dominant point of that design space: each
dimension keeps only its sign bit, so a D-dim float32 vector becomes
D/8 bytes (32x compression) and distance becomes XOR + popcount.

Spark-first shape:
- ``encode_bits`` packs sign bits into 32-bit words stored as
  ``array<bigint>`` via a pure Catalyst fold — no UDF, whole-stage
  codegen'd, and exact (each word < 2^32, built by integer-valued
  double arithmetic that is exact below 2^52).
- ``hamming_topk`` scores query x base with
  ``sum_j bit_count(qw[j] XOR bw[j])`` — a handful of JVM popcounts
  per pair, the cheapest possible scan; top-k via the shared window
  rank. At 100 TB the 32x-smaller scan is the point: a 1000-executor
  sweep reads bits, not floats, and the shortlist re-rank touches only
  ``nq * shortlist`` raw vectors (FAISS IndexBinaryFlat + refine shape).

Why 32-bit words and not 64: both Spark and the DuckDB oracle build
words as SUM(2^i * bit). 2^63 overflows signed 64-bit in that fold;
31 is the largest safe shift, so we pack 32 bits/word and pay one extra
XOR+popcount per 64 dims — noise next to the scan savings.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from vector_search_spark.functions.distance import as_double_array
from vector_search_spark.operators.knn import topk_per_query

__all__ = [
    "encode_bits",
    "hamming",
    "hamming_topk",
    "bq_refine_topk",
    "random_rotation",
    "rotate",
    "bq_rotated_refine_topk",
]

WORD_BITS = 32


def _pack_word(vec: Column, word_idx: int) -> Column:
    """Word ``word_idx`` of the sign-bit packing: bit i set iff
    vec[word_idx*32 + i] > 0 (strict, so 0.0 and -0.0 agree)."""
    base = word_idx * WORD_BITS
    return (
        F.aggregate(
            F.sequence(F.lit(0), F.lit(WORD_BITS - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.when(
                F.element_at(vec, i + F.lit(base + 1)) > 0.0,
                F.pow(F.lit(2.0), i.cast("double")),
            ).otherwise(F.lit(0.0)),
        )
        .cast("long")
    )


def encode_bits(
    points: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    out_col: str = "bits",
) -> DataFrame:
    """Add ``out_col: array<bigint>`` of ceil(dim/32) packed sign words."""
    if dim % WORD_BITS != 0:
        raise ValueError(
            f"dim must be a multiple of {WORD_BITS}, got {dim}"
        )
    v = as_double_array(vec_col)
    words = [_pack_word(v, j) for j in range(dim // WORD_BITS)]
    return points.withColumn(out_col, F.array(*words))


def hamming(a: Column, b: Column, n_words: int) -> Column:
    """Hamming distance between two packed-bit arrays (int column)."""
    total = F.lit(0)
    for j in range(n_words):
        total = total + F.bit_count(
            a.getItem(j).bitwiseXOR(b.getItem(j))
        )
    return total.cast("int")


def hamming_topk(
    queries_bits: DataFrame,
    base_bits: DataFrame,
    n_words: int,
    k: int,
    query_id: str = "query_id",
    base_id: str = "vec_id",
    bits_col: str = "bits",
) -> DataFrame:
    """Per-query k nearest by Hamming distance, ties by base id.

    Query side is tiny (broadcast); base side streams — one scan of the
    packed words, no shuffle of base rows before the per-query top-k
    window (partial top-k combine happens map-side via the window's
    rank pushdown at realistic k).
    """
    from pyspark.sql import Window

    q = queries_bits.select(
        F.col(query_id), F.col(bits_col).alias("_qb")
    )
    b = base_bits.select(F.col(base_id), F.col(bits_col).alias("_bb"))
    scored = b.crossJoin(F.broadcast(q)).select(
        query_id,
        base_id,
        hamming(F.col("_qb"), F.col("_bb"), n_words).alias("hamming"),
    )
    w = Window.partitionBy(query_id).orderBy("hamming", base_id)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bq_refine_topk(
    queries: DataFrame,
    base: DataFrame,
    dim: int,
    k: int,
    shortlist: int,
    query_id: str = "query_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage search: Hamming shortlist over packed bits, then exact
    L2 re-rank of the shortlist (FAISS refine shape; same contract as
    pq.refine_topk). Returns (query_id, vec_id, hamming, dist, rank)
    with rank <= k by exact distance.

    The exact stage is :func:`ivf._exact_rescore`: it joins the
    ``nq * shortlist`` shortlist rows back to the base vectors —
    independent of N, so the full-fidelity data is touched only where
    it matters.
    """
    from vector_search_spark.operators.ivf import _exact_rescore

    qb = encode_bits(queries.select(query_id, vec_col), dim, vec_col=vec_col)
    bb = encode_bits(base.select(base_id, vec_col), dim, vec_col=vec_col)
    short = hamming_topk(
        qb, bb, dim // WORD_BITS, shortlist, query_id=query_id,
        base_id=base_id,
    ).select(
        F.col(query_id).alias("query_id"),
        F.col(base_id).alias("vec_id"),
        "hamming",
    )
    rescored = _exact_rescore(
        short, queries, base, query_id, vec_col, base_id, vec_col
    ).select(
        F.col("query_id").alias(query_id),
        F.col("vec_id").alias(base_id),
        "hamming",
        "dist",
    )
    return topk_per_query(rescored, k, group_col=query_id, id_col=base_id)


def random_rotation(dim: int, seed: int = 42):
    """Seeded orthogonal rotation matrix (numpy, model-sized D x D).

    QR of a standard-Gaussian draw with the R-diagonal sign fix, which
    makes the factorization unique — same (dim, seed) always yields
    the SAME matrix, so encode and query sides agree without shipping
    state. This is the classic pre-conditioner for sign-bit codes
    (random rotation in LSH/ITQ practice, and the 'randomized
    orthogonal transform' step of RaBitQ, Gao & Long, SIGMOD 2024):
    raw sign bits waste capacity on low-variance coordinates; a random
    rotation spreads every vector's energy evenly across dimensions,
    so each of the D bits carries ~equal information. The same matrix
    balances variance across PQ subspaces (OPQ's random-rotation
    mode), which is why ``pq.random_rotation`` re-exports it.
    """
    rng = np.random.default_rng(seed)
    A = rng.standard_normal((dim, dim))
    Q, R = np.linalg.qr(A)
    return Q * np.sign(np.diag(R))


def rotate(
    points: DataFrame,
    rotation,
    vec_col: str = "embedding",
    out_col: str = "rot",
) -> DataFrame:
    """Append ``out_col`` = x @ R^T: one broadcast D x D gemm per Arrow
    batch (the pca.project shape) — the rotation is model-sized, the
    pass is embarrassingly parallel, and no other column moves. The
    repo's one rotate kernel: ``pq.rotate`` wraps it."""
    clash = {"_v", out_col} & set(points.columns) - {vec_col}
    if clash:
        raise ValueError(
            f"rotate: input already has column(s) {sorted(clash)}; "
            f"pick a different out_col"
        )
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(rotation, dtype=np.float64)
    )
    # NULL vectors have no rotation — exclude them up front (the
    # multimodal NULL-exclusion policy) instead of letting np.vstack
    # throw an opaque error deep inside the Arrow batch.
    src = points.withColumn("_v", as_double_array(vec_col)).filter(
        F.col("_v").isNotNull()
    )
    # Output schema from StructType objects, not simpleString() concat:
    # exotic field types (nested structs with char/varchar, UDTs) don't
    # round-trip through DDL strings.
    schema = StructType(
        [f for f in src.schema.fields if f.name != "_v"]
        + [StructField(out_col, ArrayType(DoubleType()))]
    )

    def fn(batches):
        R = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            out = pdf.drop(columns=["_v"])
            out[out_col] = list(X @ R.T)
            yield out

    return src.mapInPandas(fn, schema)


def bq_rotated_refine_topk(
    queries: DataFrame,
    base: DataFrame,
    dim: int,
    k: int,
    shortlist: int,
    seed: int = 42,
    query_id: str = "query_id",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rotated-BQ two-stage search: rotate both sides with the shared
    seeded orthogonal matrix, Hamming-shortlist on the rotated sign
    bits, exact re-rank in the rotated space — valid because L2 is
    rotation-invariant (||Rx - Rq|| = ||x - q||), so the final ranks
    equal an unrotated exact re-rank up to float ulps.

    Same scan economics as bq_refine_topk (32x-compressed sweep +
    nq*shortlist exact pairs); the rotation adds one broadcast gemm
    per side. Recall gain over raw BQ is data-dependent (largest when
    variance concentrates in few coordinates); the scaling suite
    measures both.
    """
    R = random_rotation(dim, seed)
    rq = rotate(
        queries.select(query_id, vec_col), R, vec_col=vec_col
    ).select(query_id, F.col("rot").alias(vec_col))
    rb = rotate(
        base.select(base_id, vec_col), R, vec_col=vec_col
    ).select(base_id, F.col("rot").alias(vec_col))
    return bq_refine_topk(
        rq, rb, dim, k, shortlist,
        query_id=query_id, base_id=base_id, vec_col=vec_col,
    )
