"""Semantic (embedding-cluster) deduplication: SemDeDup re-expressed on
DataFrames (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication").

Shape: k-means over the embedding column, then near-duplicate detection
ONLY within each final cluster.  Centroids live on the driver (k x dim
doubles -- the same contract as MLlib's KMeans and the paper's FAISS index)
and are folded into the assignment expression as literals, so every
assignment pass is a pure map-side argmin with ZERO shuffles; each Lloyd
iteration costs exactly one groupBy shuffle (the centroid update, map-side
combined).  The cluster count is the scale knob -- SemDeDup runs 50k
clusters over 5B embeddings so within-cluster pair work stays ~ N^2/k.
:func:`semantic_dup_flags` runs the SQL-literal argmin
(:func:`kmeans_assign`), whose expression grows with k*dim.

Cross-engine exactness (the DuckDB oracle hash-matches bit-for-bit):

- per-pair dot products use the sequential fold verified identical to
  DuckDB's ``list_dot_product`` (functions/vectors.py), and the driver-side
  Python folds below replicate the same left-to-right order;
- centroid MEANS would be order-sensitive float sums across rows, so each
  element is quantized once with ``floor(x * 1e8)`` into BIGINT -- integer
  sums are order-free -- and de-quantized with one double division with
  identical operands in every engine (Python included);
- argmin ties break on the lowest cluster id (lexicographic struct min
  here, ROW_NUMBER tie-break in the oracle).

Reference scope note: the reference repo has no clustering; this is part of
the training-pipeline extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import dot_spark
from ..runtime import track_persist

# Element quantization for order-free centroid sums.  ONE constant feeds
# both sides: Spark exprs and the DuckDB oracle splice QUANT_SQL (an
# e-notation literal, which parses as DOUBLE in both engines -- a plain
# decimal literal would parse as DECIMAL in DuckDB), and the Python
# de-quantization divides by its float value.
QUANT_SQL = "1e8"
QUANT = float(QUANT_SQL)


def _flit(x: float) -> str:
    # repr() round-trips doubles exactly; the string-parse cast is the
    # rounding-safe way to embed them as SQL literals.
    return f"cast('{x!r}' as double)"


def _assign_expr(cents: list[tuple[int, list[float], float]]) -> Column:
    """Map-side argmin_c (|c|^2 - 2 x.c) as a lexicographic struct min over
    literal centroids (|x|^2 is constant per row and dropped).  Generated as
    ONE SQL string: building it from per-element Column objects costs
    hundreds of py4j round-trips per pass."""
    entries = []
    for cluster, cent, cnorm2 in cents:
        arr = "array(" + ", ".join(_flit(v) for v in cent) + ")"
        dkey = f"{_flit(cnorm2)} - 2 * ({dot_spark('vd', arr)})"
        entries.append(
            f"named_struct('dkey', {dkey}, 'cluster', {int(cluster)})"
        )
    return F.expr(f"array_min(array({', '.join(entries)})).cluster")


def kmeans_assign(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Deterministic Lloyd k-means; returns (vec_id, vd, cluster) with the
    final assignment.  Init = the embeddings of the ``k`` lowest ids
    (documented simplification; production init samples)."""
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"cast({vec_col} as array<double>)").alias("vd"),
    )

    def with_norm2(rows: list[tuple[int, list[float]]]):
        out = []
        for cluster, cent in rows:
            acc = 0.0
            for x in cent:  # same left-to-right fold as list_dot_product
                acc += x * x
            out.append((cluster, cent, acc))
        return out

    seed_rows = e.orderBy("vec_id").limit(k).collect()
    cents = with_norm2(
        [(i, list(r["vd"])) for i, r in enumerate(seed_rows)]
    )

    for _ in range(iters):
        assigned = e.withColumn("cluster", _assign_expr(cents))
        # Order-free centroid update: posexplode to (cluster, dim-position)
        # grain, quantized BIGINT sums, ONE map-side-combined shuffle of
        # k*dim rows, collected to the driver (k x dim doubles -- the MLlib
        # KMeans contract).
        sums = (
            assigned.select(
                "cluster", F.posexplode("vd").alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.expr(f"cast(floor(x * {QUANT_SQL}) as bigint)")
                ).alias("s"),
            )
            .collect()
        )
        acc: dict[int, list[float]] = {}
        for r in sums:
            acc.setdefault(r["cluster"], [0.0] * dim)[r["pos"]] = r["s"] / (
                r["n"] * QUANT
            )
        cents = with_norm2(sorted(acc.items()))

    return e.withColumn("cluster", _assign_expr(cents))


def semantic_dup_flags(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Per-vector SemDeDup verdict: (vec_id, cluster, n_cluster,
    semantic_dup) where semantic_dup = 1 iff a same-cluster vector with a
    LOWER id has cosine >= threshold (the kept representative is always the
    lowest id, so the rule is deterministic and engine-independent)."""
    final = kmeans_assign(emb, vec_col, id_col, k=k, iters=iters, dim=dim)
    scored = track_persist(
        final.withColumn("nrm", F.sqrt(F.expr(dot_spark("vd", "vd"))))
    )
    sizes = scored.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_cluster"))
    a = scored.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("vd").alias("vd_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = scored.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("vd").alias("vd_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dup = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.expr(dot_spark("vd_a", "vd_b"))
            / (F.col("nrm_a") * F.col("nrm_b"))
            >= threshold
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        scored.join(sizes, "cluster")
        .join(dup.withColumn("semantic_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "n_cluster",
            F.coalesce("semantic_dup", F.lit(0)).cast("int").alias(
                "semantic_dup"
            ),
        )
    )
