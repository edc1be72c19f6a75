"""Embedding-corpus statistics: the exact second-moment (Gram) reduction and
a PCA top component derived from it.

This is the whitening / SemDeDup-preprocessing side of the embedding
pipeline: before clustering or deduplicating a 100 TB embedding corpus you
need the d x d covariance, and the ONLY scale-safe way to get it is as a
mergeable partial aggregate -- each partition reduces its rows to one d x d
integer matrix, and matrices add associatively.  That is exactly what the
``embedding_gram_matrix`` query does (Arrow-batched numpy ``A^T A`` per
batch, then an integer groupBy sum), so its cost at 1000 executors is one
map pass plus a 2145-row-per-partition shuffle, independent of row count.

Exactness: elements are quantized to an integer grid (floor(x * 1e6), the
same grid the PQ operators use), so every moment is an exact int64 and the
DuckDB oracle (list-indexed pair expansion) matches bit-for-bit.  The
augmented row [1, q_1..q_d] makes count and first moments fall out of the
same matrix (S[0][0] = n, S[0][j] = sum q_j), the standard trick that keeps
mean-centering OUT of the distributed pass.

Grid-overflow budget: |q| <= 1e6, so a second moment accumulates ~1e12 per
row; int64 holds ~9.2e18, i.e. ~9M rows per final aggregate cell at this
grid.  At larger corpora drop the grid to 1e4 (budget ~9e13 rows) or merge
per-shard int64 matrices in Python big-int space -- the reduction shape is
unchanged.

``embedding_pca_power`` then runs power iteration on the 65 x 65 collected
matrix DRIVER-side (a k-bounded collect, like the k-means centroid path in
operators/semantic.py) entirely in Python big-int arithmetic with
floor-division renormalization each step -- bit-identical to the DuckDB
oracle's HUGEINT CTE chain, the same integer-grid-iteration recipe as
operators/graph.py PageRank.  The driver-side solve is O(d^2) per step,
independent of corpus size; only the Gram reduction touches the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import free, track_persist
from ..tables import load_table
from .registry import register

DIM = 64
AUG = DIM + 1
GRID = 1_000_000
PCA_ITERS = 24  # near-isotropic synthetic data converges slowly (the
# eigengap ratio is ~0.93); 24 steps cost ~0.2s in either engine on the
# 64x64 matrix and would be overkill on a real anisotropic corpus.
V0 = 1_000_000  # starting loading per dimension (any positive scale works)

_GRAM_CORE_D = f"""
qv AS (
  SELECT list_prepend(CAST(1 AS BIGINT),
           list_transform(embedding::DOUBLE[],
             x -> CAST(FLOOR(x * 1000000.0) AS BIGINT))) AS q
  FROM embeddings
),
idx AS (SELECT unnest(range(0, {AUG})) AS d),
gram AS MATERIALIZED (
  SELECT ti.d AS i, tj.d AS j,
         CAST(SUM(CAST(q[ti.d + 1] AS HUGEINT) * q[tj.d + 1]) AS BIGINT) AS s
  FROM qv CROSS JOIN idx ti CROSS JOIN idx tj
  WHERE ti.d <= tj.d
  GROUP BY ti.d, tj.d
)"""


def gram_matrix(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distributed augmented-moment reduction over any DataFrame with a
    ``vec_col`` array column: one numpy ``A^T A`` per Arrow batch, then an
    exact integer sum per (i, j) cell of the upper triangle."""
    import numpy as np
    import pandas as pd

    emb = emb.select(F.col(vec_col).alias("embedding"))

    def partials(batches):
        iu = np.triu_indices(AUG)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            q = np.floor(mat * float(GRID)).astype(np.int64)
            a = np.concatenate(
                [np.ones((len(q), 1), dtype=np.int64), q], axis=1
            )
            s = a.T @ a
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "s": s[iu],
                }
            )

    parts = emb.mapInPandas(partials, schema="i int, j int, s long")
    return parts.groupBy("i", "j").agg(F.sum("s").cast("bigint").alias("s"))


@register(
    "embedding_gram_matrix",
    oracle=f"""
WITH {_GRAM_CORE_D}
SELECT i, j, s FROM gram ORDER BY i, j
""",
    doc="Exact integer Gram / moment matrix of the embedding corpus on the "
    "1e6 quantization grid, augmented with a constant-1 column so count "
    "(S[0][0]) and first moments (S[0][j]) ride the same reduction as "
    "the second moments -- the mergeable-partial-aggregate form of "
    "covariance that scales to arbitrary corpus size (module docstring; "
    "per-batch numpy A^T A via mapInPandas, integer groupBy merge).",
    tags=("embedding", "statistics", "pandas-udf"),
    bench=True,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gram_matrix(load_table(spark, sf_dir, "embeddings")).orderBy(
        "i", "j"
    )


def _floor_div(w: int, d: int) -> int:
    """Floor division of a (possibly negative) big int by a positive one --
    spelled out so the DuckDB oracle (truncating ``//``) states the same
    CASE formula and both engines agree on negatives."""
    if w >= 0:
        return w // d
    return -((-w + d - 1) // d)


def _power_iteration(gram_rows: list[tuple[int, int, int]]) -> list[int]:
    """Exact integer power iteration on the covariance derived from the
    augmented gram (n * S_ij - m_i * m_j), renormalized each step to the
    ~1e6 grid by a power-of-ten floor division."""
    s = {}
    for i, j, v in gram_rows:
        s[(i, j)] = v
        s[(j, i)] = v
    n = s[(0, 0)]
    m = [s[(0, j + 1)] for j in range(DIM)]
    cov = [
        [n * s[(i + 1, j + 1)] - m[i] * m[j] for j in range(DIM)]
        for i in range(DIM)
    ]
    v = [V0] * DIM
    for _ in range(PCA_ITERS):
        w = [sum(cov[i][j] * v[j] for j in range(DIM)) for i in range(DIM)]
        mx = max(abs(x) for x in w)
        k = max(len(str(mx)) - 6, 0)
        d = 10**k
        v = [_floor_div(x, d) for x in w]
    return v


def _pca_oracle() -> str:
    steps = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        steps.append(
            f"""w{t} AS MATERIALIZED (
  SELECT cf.r AS d, SUM(cf.cv * v.v) AS w
  FROM cfull cf JOIN {prev} v ON v.d = cf.c2
  GROUP BY cf.r
),
d{t} AS (
  -- exact 10^k as a HUGEINT for ANY k: parse '1' || k zeros (POWER()
  -- returns a double, exact only through 1e22 -- not enough headroom
  -- at large row counts)
  SELECT CAST('1' || repeat('0',
              GREATEST(length(CAST(MAX(ABS(w)) AS VARCHAR)) - 6, 0))
              AS HUGEINT) AS dd
  FROM w{t}
),
v{t} AS (
  SELECT w.d,
         CASE WHEN w.w >= 0 THEN w.w // d{t}.dd
              ELSE -((-w.w + d{t}.dd - 1) // d{t}.dd) END AS v
  FROM w{t} w CROSS JOIN d{t}
)"""
        )
        prev = f"v{t}"
    chain = ",\n".join(steps)
    return f"""
WITH {_GRAM_CORE_D},
nrow AS (SELECT s AS n FROM gram WHERE i = 0 AND j = 0),
mom AS (SELECT j AS d, s AS mv FROM gram WHERE i = 0 AND j > 0),
cup AS (
  SELECT g.i - 1 AS r, g.j - 1 AS c2,
         CAST(nrow.n AS HUGEINT) * g.s
           - CAST(mr.mv AS HUGEINT) * mc.mv AS cv
  FROM gram g CROSS JOIN nrow
  JOIN mom mr ON mr.d = g.i
  JOIN mom mc ON mc.d = g.j
  WHERE g.i > 0
),
cfull AS MATERIALIZED (
  SELECT r, c2, cv FROM cup
  UNION ALL
  SELECT c2 AS r, r AS c2, cv FROM cup WHERE r <> c2
),
v0 AS (SELECT unnest(range(0, {DIM})) AS d, CAST({V0} AS HUGEINT) AS v),
{chain}
SELECT d AS dim_idx, CAST(v AS BIGINT) AS loading_q
FROM {prev}
ORDER BY dim_idx
"""


@register(
    "embedding_pca_power",
    oracle=_pca_oracle(),
    doc=f"PCA top component by {PCA_ITERS}-step integer power iteration on "
    "the covariance derived from the distributed Gram reduction: the "
    "data-sized work is the mergeable moment aggregate "
    "(embedding_gram_matrix); the 64 x 64 eigensolve is a k-bounded "
    "driver-side loop in exact big-int arithmetic with power-of-ten "
    "floor renormalization each step, bit-identical to the oracle's "
    "HUGEINT CTE chain -- the PageRank integer-grid recipe applied to "
    "a numerical linear-algebra op.  No sign canonicalization is "
    "needed: both engines start from the same v0, so they converge to "
    "the same signed vector.",
    tags=("embedding", "statistics", "pca", "iterative"),
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (r["i"], r["j"], r["s"])
        for r in gram_matrix(load_table(spark, sf_dir, "embeddings")).collect()
    ]
    v = _power_iteration(rows)
    return spark.createDataFrame(
        [(d, int(v[d])) for d in range(DIM)],
        schema="dim_idx int, loading_q bigint",
    ).orderBy("dim_idx")


# --- Greedy k-center coreset selection (data-selection / diversity) ----------

KC_K = 8  # centers to select
KC_GRID = 100_000_000  # 1e8 element grid: (1e8)^2 * 64 dims = 6.4e17 < 2^63


def _kc_dist_terms(p: str, c: str) -> str:
    """Exact integer squared euclidean distance between two quantized
    64-d list columns, spelled as an explicit 64-term sum so Spark and
    DuckDB evaluate the identical expression (both 1-index lists)."""
    return " + ".join(
        f"({p}.qv[{i}] - {c}.qv[{i}]) * ({p}.qv[{i}] - {c}.qv[{i}])"
        for i in range(1, DIM + 1)
    )


def _kcenter_oracle() -> str:
    rounds = []
    for r in range(2, KC_K + 2):
        prev = f"d{r - 1}"
        rounds.append(
            f"""c{r} AS MATERIALIZED (
  SELECT vec_id, qv, mind FROM {prev} ORDER BY mind DESC, vec_id LIMIT 1
),
d{r} AS MATERIALIZED (
  SELECT p.vec_id, p.qv, LEAST(p.mind, {_kc_dist_terms('p', 'c')}) AS mind
  FROM {prev} p CROSS JOIN c{r} c
)"""
        )
    chain = ",\n".join(rounds)
    picks = ["SELECT 1 AS sel_round, vec_id, CAST(0 AS BIGINT) AS sel_dist_q FROM c1"]
    for r in range(2, KC_K + 2):
        picks.append(
            f"SELECT {r}, vec_id, CAST(mind AS BIGINT) FROM c{r}"
        )
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(FLOOR(x * {KC_GRID}.0) AS BIGINT)) AS qv
  FROM embeddings
),
c1 AS MATERIALIZED (
  SELECT vec_id, qv FROM q WHERE vec_id = (SELECT MIN(vec_id) FROM q)
),
d1 AS MATERIALIZED (
  SELECT p.vec_id, p.qv, {_kc_dist_terms('p', 'c')} AS mind
  FROM q p CROSS JOIN c1 c
),
{chain}
{' UNION ALL '.join(picks)}
ORDER BY sel_round
"""


@register(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle(),
    doc=f"Greedy k-center coreset selection (Gonzalez's farthest-point "
    f"traversal, the classic 2-approximation): starting from the lowest "
    f"vec_id, {KC_K} rounds each pick the point FARTHEST from every "
    "already-chosen center -- the diversity-maximizing data-selection "
    "pass that seeds active learning, prototype selection, and "
    "balanced fine-tuning subsets over an embedding corpus.  Each "
    "round is one map-side pass (running min-distance folded "
    "incrementally against the single new center, exact int64 "
    "squared euclidean on the 1e8 grid) plus a top-1 reduce "
    "(TakeOrderedAndProject), so k centers cost k linear scans and "
    "the driver holds only the k-bounded center list -- the identical "
    "scaling shape to the k-means path in operators/semantic.py.  "
    f"Output: the {KC_K} selected ids with the selection radius that "
    "chose them (a non-increasing sequence), plus round {KC_K}+1 = "
    "the would-be next pick, whose radius IS the k-center coverage "
    "objective.  Ties break to the lowest vec_id in both engines.",
    tags=("sample", "embedding", "coreset", "iterative"),
)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    picks = kcenter_select(emb, KC_K)
    return spark.createDataFrame(
        picks, schema="sel_round int, vec_id bigint, sel_dist_q bigint"
    ).orderBy("sel_round")


def kcenter_select(
    emb: DataFrame, k: int = KC_K, vec_col: str = "embedding"
) -> list[tuple[int, int, int]]:
    """Gonzalez greedy k-center over any (vec_id, ``vec_col``) frame;
    returns (sel_round, vec_id, sel_dist_q) rows including the round-(k+1)
    coverage-objective probe.  Reused by the scale probe on synthetic
    corpora."""
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(cast({vec_col} as array<double>),"
            f" x -> cast(floor(x * {KC_GRID}.0d) as bigint))"
        ).alias("qv"),
    )
    track_persist(q)
    seed = q.orderBy("vec_id").select("vec_id", "qv").first()
    picks = [(1, seed["vec_id"], 0)]
    center_qv = list(seed["qv"])
    mind = None  # column expression state folded into a materialized frame
    cur = q
    prev_round = None
    for r in range(2, k + 2):
        arr = "array(" + ",".join(f"{v}L" for v in center_qv) + ")"
        dist = (
            f"aggregate(zip_with(qv, {arr}, (a, b) -> (a - b) * (a - b)),"
            f" 0L, (acc, x) -> acc + x)"
        )
        new_mind = (
            F.expr(dist)
            if mind is None
            else F.least(F.col("mind"), F.expr(dist))
        )
        cur = cur.select("vec_id", "qv", new_mind.alias("mind"))
        # Persist each round's folded min-distance frame: the next round
        # folds ONE new center against it (k linear passes total), instead
        # of re-deriving r distance passes from the base (k^2).
        track_persist(cur)
        mind = "mind"
        top = cur.orderBy(F.desc("mind"), F.asc("vec_id")).first()
        # cur is materialized now; the round before it can never be read
        # again -- free it so peak cache stays at 2 frames, not k+1 (the
        # 2M-vector probe tier would otherwise pin multi-GB of dead
        # copies until release_caches()).
        if prev_round is not None:
            free(prev_round)
        prev_round = cur
        picks.append((r, top["vec_id"], int(top["mind"])))
        center_qv = list(top["qv"])
    return picks


# --- mapInArrow kernel: norm histogram -----------------------------------------

NORM_GRID = 1_000_000  # same 1e6 grid as the Gram reduction
NORM_BUCKET = 10**12


@register(
    "embedding_norms_arrow",
    oracle=f"""
WITH q AS (
  SELECT list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * {NORM_GRID}.0) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS norm_q
  FROM q
)
SELECT CAST(norm_q // {NORM_BUCKET} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(norm_q) AS BIGINT) AS sum_norm_q
FROM n
GROUP BY 1
ORDER BY bucket
""",
    doc="Vector-norm histogram through a PURE-ARROW kernel (mapInArrow, "
    "Spark 4's zero-pandas batch interface): each RecordBatch's "
    "embedding column is viewed as a zero-copy numpy matrix, elements "
    "are quantized to the 1e6 integer grid in float64 (promoting "
    "float32 BEFORE arithmetic, so the grid agrees with the oracle's "
    "::DOUBLE cast), and exact int64 squared norms stream back as an "
    "Arrow batch -- no pandas conversion on either edge, the cheapest "
    "Python-kernel path Spark offers.  The norm histogram itself is "
    "the embedding-health diagnostic (collapsed or exploding norms "
    "break cosine retrieval); per-batch work is one BLAS-free "
    "square-and-sum, the groupBy state is |buckets|.  Completes the "
    "Python-execution-surface set: pandas_udf, applyInPandas(+State), "
    "mapInPandas, UDTF, and now mapInArrow.",
    tags=("embedding", "statistics", "arrow", "pandas-udf"),
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def norm_batches(batches):
        for batch in batches:
            col = batch.column(0)
            if len(col) == 0:
                continue
            flat = col.flatten() if hasattr(col, "flatten") else col.values
            mat = flat.to_numpy(zero_copy_only=False).astype(
                np.float64
            ).reshape(len(col), DIM)
            q = np.floor(mat * float(NORM_GRID)).astype(np.int64)
            norms = (q * q).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(norms, type=pa.int64())], names=["norm_q"]
            )

    norms = emb.mapInArrow(norm_batches, schema="norm_q long")
    return (
        norms.groupBy(
            F.expr(f"norm_q div {NORM_BUCKET}").cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("norm_q").cast("bigint").alias("sum_norm_q"),
        )
        .orderBy("bucket")
    )
