"""Similarity search over embedding columns (array<float>).

* ``cosine_topk_bruteforce`` — exact top-k via broadcast cross join; the
  dot/norm folds are Catalyst ``aggregate``/``zip_with`` expressions (no
  Python). Baseline + oracle-checkable.
* ``ann_lsh_topk_catalyst`` — the scale path: sign-of-projection LSH
  signatures against seeded, hash-derived ±1 planes (deterministic,
  partition-independent) over integer-quantized embeddings, computed in
  one Arrow-batched integer matmul (``rademacher_signatures_arrow``) that
  is bit-identical to the Catalyst/SQL twin ``rademacher_signature``;
  candidates bucket-join on signature bands, exact re-rank on the (small)
  candidate set. At 10^12 rows the signature is the shuffle key; brute
  force stays O(n·q).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine(q_col, c_col):
    dot = F.aggregate(F.zip_with(_dbl(q_col), _dbl(c_col), lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    nq = F.aggregate(_dbl(q_col), F.lit(0.0), lambda acc, x: acc + x * x)
    nc = F.aggregate(_dbl(c_col), F.lit(0.0), lambda acc, x: acc + x * x)
    return dot / (F.sqrt(nq) * F.sqrt(nc))


def cosine_topk_bruteforce(
    queries: DataFrame, corpus: DataFrame, k: int = 5, qid_col: str = "qid", cid_col: str = "cid"
) -> DataFrame:
    """queries (qid, embedding), corpus (cid, embedding) → (qid, cid, cos, rank)."""
    from maplibre_tile_spec_spark.operators.text import spread_small_scan

    q = queries.select(F.col(qid_col), F.col("embedding").alias("q_emb"))
    # conditional spread: the cosine folds run upstream of the first
    # exchange, which serializes on single-row-group scans
    c = spread_small_scan(corpus).select(F.col(cid_col), F.col("embedding").alias("c_emb"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col(qid_col) != F.col(cid_col))
    w = Window.partitionBy(qid_col).orderBy(F.col("cos").desc(), F.col(cid_col).asc())
    return (
        pairs.select(qid_col, cid_col, cosine(F.col("q_emb"), F.col("c_emb")).alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_matrix(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic hash-derived hyperplanes (no RNG state, reproducible
    on any executor)."""
    idx = np.arange(dim * n_planes, dtype=np.uint64)
    x = idx ^ np.uint64(seed * 0x9E3779B97F4A7C15 & (2**64 - 1))
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    u = x.astype(np.float64) / 2**64
    return (u.reshape(n_planes, dim) - 0.5) * 2.0


def rademacher_planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """±1 sign planes derived from the deterministic hash matrix."""
    return np.where(_plane_matrix(dim, n_planes, seed) > 0, 1, -1).astype(np.int64)


QUANT_SCALE = 1048576.0  # 2^20: power of two ⇒ float×scale is exact


def rademacher_signature(emb_col, planes: np.ndarray):
    """Signature as a pure Catalyst expression over **integer-quantized**
    embeddings: qⱼ = floor(embⱼ·2^20) is exact on any engine (scaling by a
    power of two is lossless), the ±1 dot product is an integer sum, and
    the sign test can never flip on float summation order — which makes
    the signature bit-for-bit reproducible in the DuckDB oracle. The
    production path computes the same bits with
    ``rademacher_signatures_arrow``; this expression is its reference."""
    q = F.transform(emb_col, lambda x: F.floor(x.cast("double") * F.lit(QUANT_SCALE)).cast("long"))
    sig = F.lit(0).cast("long")
    for p in range(planes.shape[0]):
        lits = F.array(*[F.lit(int(v)).cast("long") for v in planes[p]])
        dot = F.aggregate(
            F.zip_with(q, lits, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def rademacher_signatures_arrow(
    df: DataFrame, planes: np.ndarray, id_col: str = "vec_id"
) -> DataFrame:
    """(id, sig) via one Arrow-batched integer matmul — bit-identical to
    ``rademacher_signature`` (and the SQL oracle): quantization and the ±1
    dot product are exact integer arithmetic, so no float summation order
    can flip a sign, while the numpy matmul is ~5× faster than the
    equivalent Catalyst expression tree."""
    pl = planes.astype(np.int64)

    def sign_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(emb * QUANT_SCALE).astype(np.int64)
            dots = q @ pl.T
            bits = (dots > 0).astype(np.int64)
            sig = (bits << np.arange(pl.shape[0], dtype=np.int64)).sum(axis=1)
            yield pd.DataFrame({"id": pdf[id_col], "sig": sig})

    return df.select(F.col(id_col), "embedding").mapInPandas(sign_batch, schema="id long, sig long")


def ann_lsh_topk_catalyst(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 16,
    band_bits: int = 2,
    seed: int = 7,
    qid_col: str = "qid",
    cid_col: str = "cid",
) -> DataFrame:
    """Approximate top-k with the oracle-exact Rademacher signature: integer
    quantized sign projections (Arrow kernel, bit-identical to the
    Catalyst/SQL formulation), pigeonhole signature bands, bucket join, and
    exact cosine re-rank of the candidates only."""
    planes = rademacher_planes(dim, n_planes, seed)
    n_bands = n_planes // band_bits
    # no spread here (unlike cosine_topk_bruteforce): the signature kernel
    # is light and the candidate join re-shuffles anyway — measured 1.39 s
    # plain vs 1.89 s spread at sf0.1

    def bands(df: DataFrame, id_col: str) -> DataFrame:
        sigs = rademacher_signatures_arrow(df, planes, id_col)
        arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("sig"), b * band_bits)
                    .bitwiseAND(F.lit(2**band_bits - 1))
                    .alias("key"),
                )
                for b in range(n_bands)
            ]
        )
        return (
            sigs.withColumnRenamed("id", id_col)
            .select(id_col, F.explode(arr).alias("b"))
            .select(id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key"))
        )

    qb = bands(queries, qid_col)
    cb = bands(corpus, cid_col)
    cand_ids = (
        qb.join(cb, ["band", "key"])
        .filter(F.col(qid_col) != F.col(cid_col))
        .select(qid_col, cid_col)
        .distinct()
    )
    q = queries.select(F.col(qid_col), F.col("embedding").alias("q_emb"))
    c = corpus.select(F.col(cid_col), F.col("embedding").alias("c_emb"))
    cand = cand_ids.join(F.broadcast(q), qid_col).join(c, cid_col)
    w = Window.partitionBy(qid_col).orderBy(F.col("cos").desc(), F.col(cid_col).asc())
    return (
        cand.select(qid_col, cid_col, cosine(F.col("q_emb"), F.col("c_emb")).alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
