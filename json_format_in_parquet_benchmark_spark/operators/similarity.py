"""Similarity search over embedding columns.

- :func:`topk_bruteforce` -- exact top-k cosine for a (small, broadcast)
  query set against the full corpus.  At 100 TB the query side is always the
  small side: broadcast it, scan the corpus once, TakeOrdered per query.
- :func:`sign_lsh_buckets` -- random-hyperplane (sign) LSH bucketing, the
  scale path: vectors sharing a bucket are candidate neighbors, so search
  cost drops from O(N) per query to O(N / 2^planes) expected.  Hyperplanes
  are DETERMINISTIC (md5-derived pseudo-random weights), so bucket ids are
  reproducible across runs/engines and oracle-checkable.
- :func:`topk_lsh` -- top-k restricted to LSH bucket collisions (approximate;
  multi-probe = also match buckets at Hamming distance 1).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot_spark, norm_spark

# Per-pair cosine, with each side's norm precomputed in its projection:
# higher-order array expressions (zip_with/aggregate) run interpreted
# (outside whole-stage codegen), so norms are evaluated once per VECTOR and
# only the dot once per pair -- same IEEE ops as the inline form (identical
# sqrt operands, identical division), so oracle exactness is unaffected.
_PAIR_COS = f"{dot_spark('qvec', 'cvec')} / (qnrm * cnrm)"


def _with_norm(df: DataFrame, vec_col: str, id_col: str, side: str) -> DataFrame:
    """Project (id, vec, norm) for one join side (side = 'q' or 'c')."""
    ident = "query_id" if side == "q" else "neighbor_id"
    return df.select(
        F.col(id_col).alias(ident),
        F.col(vec_col).alias(f"{side}vec"),
        F.expr(norm_spark(vec_col)).alias(f"{side}nrm"),
    )


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: weight(j, d) derives from
    md5('pl{j}:{d}'), uniform in [-1, 1] with 3 decimal places (exactly
    representable scale / 1000 keeps the literals engine-portable)."""
    planes = []
    for j in range(n_planes):
        w = []
        for d in range(dim):
            h = int(hashlib.md5(f"pl{j}:{d}".encode()).hexdigest()[:15], 16)
            w.append((h % 2001 - 1000) / 1000.0)
        planes.append(w)
    return planes


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (query side
    broadcast; ties broken by neighbor id for determinism)."""
    q = _with_norm(queries, vec_col, id_col, "q")
    c = _with_norm(corpus, vec_col, id_col, "c")
    pairs = c.crossJoin(F.broadcast(q)).where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.expr(_PAIR_COS).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def bucket_column(vec_col: str, n_planes: int = 8, dim: int = 64):
    """Spark Column: the sign-LSH bucket id in [0, 2^n_planes) of a vector
    column (usable inline in any projection -- no join needed)."""
    bucket = None
    for j, w in enumerate(hyperplanes(n_planes, dim)):
        arr = f"array({', '.join(repr(x) for x in w)})"
        bit = F.when(F.expr(dot_spark(vec_col, arr)) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("bigint")


def sign_lsh_buckets(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """Assign each vector a sign-LSH bucket id in [0, 2^n_planes)."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        bucket_column(vec_col, n_planes, dim).alias("bucket"),
    )


def bucket_expr_duckdb(vec: str, n_planes: int, dim: int) -> str:
    """DuckDB SQL computing the identical bucket id as
    :func:`sign_lsh_buckets` (hyperplanes are shared md5-derived constants)."""
    from ..functions.vectors import dot_duckdb

    terms = []
    for j, w in enumerate(hyperplanes(n_planes, dim)):
        arr = "[" + ", ".join(repr(x) for x in w) + "]"
        terms.append(
            f"(CASE WHEN {dot_duckdb(vec, arr)} >= 0"
            f" THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def centroids_int(n_cells: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random IVF centroids on the integer grid:
    entry = md5-derived int in [-1000, 1000] (exactly 1000x the float form
    below, which only ever holds thousandths)."""
    cells = []
    for c in range(n_cells):
        w = []
        for d in range(dim):
            h = int(hashlib.md5(f"iv{c}:{d}".encode()).hexdigest()[:15], 16)
            w.append(h % 2001 - 1000)
        cells.append(w)
    return cells


def centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random IVF centroids (same md5 scheme as
    :func:`hyperplanes`, different salt); thousandths, so exactly
    representable and exactly 1/1000 of :func:`centroids_int`."""
    return [[v / 1000.0 for v in w] for w in centroids_int(n_cells, dim)]


def _centroids_spark_literal(cells: list[list[float]]) -> str:
    rows = ", ".join(
        "array(" + ", ".join(repr(x) + "D" for x in w) + ")" for w in cells
    )
    return f"array({rows})"


def ivf_assign(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int = 16, dim: int = 64
) -> DataFrame:
    """Coarse-quantize each vector to its best IVF cell (argmax dot against
    the deterministic centroids; ties broken by lowest cell id).

    This is the IVF BUILD step: at 100 TB the (vec_id, cell) assignment is
    computed once and persisted partitioned by cell, so queries touch only
    n_probe/n_cells of the corpus.  Assignment is a single corpus scan
    fanned out n_cells-fold before a per-id argmax — no shuffle wider than
    the id itself.  Spark evaluates the higher-order dot INTERPRETED, so
    this O(N * n_cells * dim) form is the small-n_cells reference; the
    at-scale build is :func:`ivf_assign_hier_exact`.
    """
    cents = _centroids_spark_literal(centroids(n_cells, dim))
    cell_dots = df.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.expr(f"sequence(0, {n_cells - 1})")).alias("cell"),
        F.col(vec_col).alias("v"),
    ).withColumn(
        "d", F.expr(dot_spark("v", f"element_at({cents}, cell + 1)"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("d"), F.asc("cell"))
    return (
        cell_dots.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


# --- integer-exact two-level assignment (the oracle-checkable scale arm) ---
#
# When n_cells grows LINEARLY with N (the rule that keeps per-cell
# occupancy -- and so every downstream within-cell join -- constant), flat
# assignment's N * n_cells * dim flops grow QUADRATICALLY: the dominant term
# at the 5M-vector probe tier (results/scale_probe.txt).  Hierarchical
# quantization (FAISS's coarse quantizer) splits the fine centroids into
# g ~ sqrt(n_cells) groups, assigns each vector to the best group, then to
# the best fine cell within it: O(N * 2*sqrt(n_cells) * dim).  The round-7
# float form of that split was not bit-reproducible in a SQL oracle, so the
# whole decision moves to exact integer arithmetic:
#
# - vectors quantize once to the 1e6 grid (floor(x * 1e6) as int64 -- the
#   same engine-portable recipe as the PQ machinery below),
# - centroids are ALREADY integers at scale 1000 (centroids_int),
# - both argmaxes (coarse group, then fine cell within the group) compare
#   exact int64 dot products, ties to the lowest index.
#
# Every decision is therefore bit-identical across the numpy kernel, a Spark
# SQL expression, and DuckDB (integer products stay far below 2^53, so even
# a double-domain evaluation of the same dots is exact), which lets the
# O(N * 2*sqrt(n_cells) * dim) assignment BE the driver-checked plan.

# Integer quantization grid for exact assignment decisions.  ONE numeric
# constant feeds both sides: the numpy kernels multiply by EQ_GRID_F and the
# DuckDB twins splice EQ_GRID into FLOOR(x * {EQ_GRID}), so changing the
# grid cannot desynchronize a registered plan from its oracle (the assert
# pins the pair).  EQ_GRID stays in E-NOTATION: exponent literals parse as
# DOUBLE in both engines, while a plain decimal literal parses as DECIMAL
# in DuckDB (the round-5 last-bit trap).
EQ_GRID_F = 1e6
EQ_GRID = "1e6"
assert float(EQ_GRID) == EQ_GRID_F, "EQ_GRID and EQ_GRID_F must agree"


def hier_groups(n_cells: int, n_groups: int | None) -> int:
    """The coarse-group count: always a divisor of n_cells so groups are
    equal-sized (argmax over group SUMS then equals argmax over group
    means -- no division anywhere).  Defaulting picks the divisor nearest
    sqrt(n_cells) (ties to the smaller), which keeps the two-level flop
    count O(N * ~2*sqrt(n_cells) * dim) for any n_cells the growth rule
    produces; an explicit non-divisor is an error."""
    if n_groups is None:
        root = n_cells ** 0.5
        return min(
            (d for d in range(1, n_cells + 1) if n_cells % d == 0),
            key=lambda d: (abs(d - root), d),
        )
    if not 1 <= n_groups <= n_cells or n_cells % n_groups:
        raise ValueError(
            f"n_groups ({n_groups}) must divide n_cells ({n_cells}) for "
            "the integer-exact coarse step (equal group sizes)"
        )
    return n_groups


def ivf_assign_hier_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 64,
    dim: int = 64,
    n_groups: int | None = None,
) -> DataFrame:
    """Two-level IVF assignment with every decision in exact int64: quantize
    to the 1e6 grid, argmax dot against the g group-sum centroids, then
    against the group's n_cells/g fine centroids (ties to the lowest index
    at both levels).  O(N * (g + n_cells/g) * dim) integer flops in an
    Arrow-batched numpy kernel, embarrassingly parallel, zero shuffle --
    and bit-identical to :func:`hier_assign_duckdb_ctes`' SQL, so the plan
    that survives the linear-n_cells growth rule is itself oracle-checked."""
    import numpy as np
    import pandas as pd

    g = hier_groups(n_cells, n_groups)
    gsize = n_cells // g
    cint = np.array(centroids_int(n_cells, dim), dtype=np.int64)  # cells x dim
    coarse = cint.reshape(g, gsize, dim).sum(axis=1)  # g x dim (group sums)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            # floor(x * EQ_GRID_F): identical IEEE multiply + floor as the
            # SQL twin (float32 -> double cast is exact on both sides).
            eq = np.floor(X * EQ_GRID_F).astype(np.int64)
            cg = (eq @ coarse.T).argmax(axis=1)  # int64 matmul: exact;
            out = np.empty(len(eq), dtype=np.int32)  # first max = lowest grp
            for gi in np.unique(cg):
                m = cg == gi
                sub = cint[gi * gsize : (gi + 1) * gsize]
                out[m] = gi * gsize + (eq[m] @ sub.T).argmax(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": out})

    src = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(assign, schema="vec_id long, cell int")


def _int_list_literal(rows: list[list[int]]) -> str:
    return "[" + ", ".join(
        "[" + ", ".join(str(x) for x in w) + "]" for w in rows
    ) + "]"


def hier_assign_duckdb_ctes(
    table: str,
    vec_col: str,
    id_col: str,
    n_cells: int = 64,
    dim: int = 64,
    n_groups: int | None = None,
) -> str:
    """CTE chain (to splice after WITH) ending in ``assigned(vec_id, cell)``
    -- the DuckDB twin of :func:`ivf_assign_hier_exact`.  Integer products
    stay below 2^53, so list_dot_product's double arithmetic is exact and
    the argmax decisions match the int64 kernel bit for bit."""
    g = hier_groups(n_cells, n_groups)
    gsize = n_cells // g
    cint = centroids_int(n_cells, dim)
    coarse = [
        [sum(cint[gi * gsize + j][d] for j in range(gsize)) for d in range(dim)]
        for gi in range(g)
    ]
    coarse_lit = _int_list_literal(coarse)
    fine_lit = _int_list_literal(cint)
    return f"""heq AS (
  SELECT {id_col} AS vec_id,
         list_transform({vec_col}::DOUBLE[],
                        x -> CAST(FLOOR(x * {EQ_GRID}) AS BIGINT)) AS eq
  FROM {table}
),
hcoarse AS (
  SELECT vec_id, grp FROM (
    SELECT e.vec_id, t.i AS grp,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.eq::DOUBLE[],
                                       ({coarse_lit})[t.i + 1]::DOUBLE[]) DESC,
                      t.i) AS rn
    FROM heq e CROSS JOIN range({g}) t(i)
  ) WHERE rn = 1
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.grp * {gsize} + t.i AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(
                        e.eq::DOUBLE[],
                        ({fine_lit})[c.grp * {gsize} + t.i + 1]::DOUBLE[]) DESC,
                      t.i) AS rn
    FROM heq e JOIN hcoarse c USING (vec_id) CROSS JOIN range({gsize}) t(i)
  ) WHERE rn = 1
)"""


def ivf_probes(
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(query_id, cell) rows: each query's ``n_probe`` nearest IVF cells by
    centroid dot product (ties to the lowest cell id)."""
    cents = _centroids_spark_literal(centroids(n_cells, dim))
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(F.expr(f"sequence(0, {n_cells - 1})")).alias("cell"),
        F.col(vec_col).alias("v"),
    ).withColumn("d", F.expr(dot_spark("v", f"element_at({cents}, cell + 1)")))
    w = Window.partitionBy("query_id").orderBy(F.desc("d"), F.asc("cell"))
    return (
        qd.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "cell")
    )


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: each query probes its ``n_probe`` nearest
    cells and scores only corpus vectors assigned there — expected search
    cost O(N * n_probe / n_cells) per query instead of O(N).

    ``assigned`` optionally supplies a pre-built (neighbor_id, cell)
    assignment — e.g. read back from a cell-partitioned Parquet layout, the
    at-scale deployment shape — otherwise it is computed inline.
    """
    corpus_cells = (
        assigned
        if assigned is not None
        else ivf_assign(corpus, vec_col, id_col, n_cells, dim).withColumnRenamed(
            "vec_id", "neighbor_id"
        )
    )
    probes = ivf_probes(queries, vec_col, id_col, n_cells, n_probe, dim)
    c = _with_norm(corpus, vec_col, id_col, "c").join(corpus_cells, "neighbor_id")
    q = _with_norm(queries, vec_col, id_col, "q").join(probes, "query_id")
    pairs = c.join(F.broadcast(q), "cell").where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", F.expr(_PAIR_COS).alias("cos_sim")
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(wr)).where(F.col("rank") <= k)


def knn_graph_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 64,
    dim: int = 64,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Full k-NN graph: EVERY vector's top-k cosine neighbors among the
    vectors sharing its IVF cell (n_probe=1) -- the all-to-all ANN shape
    behind SemDeDup-style curation and graph-based near-dup clustering.

    Unlike :func:`topk_ivf` (few queries, query side broadcast), here the
    query side IS the corpus, so NEITHER side is broadcast: both sides
    shuffle once on ``cell`` and the candidate join is cell-co-partitioned.
    Per-cell work is occupancy^2, so ``n_cells`` is the scale knob grown
    with N to hold cell occupancy (N/n_cells) constant -- the candidate
    JOIN's work O(N^2/n_cells) then stays linear (measured: 7.5x per 10x
    at the 50k->500k vector tiers, results/scale_probe.txt), and no
    single-point bottleneck exists anywhere in the plan.  The full cost
    model has a second term the probe exposed at 5M vectors: ASSIGNMENT
    is O(N * n_cells * dim) flops, which grows quadratically under the
    same linear-n_cells rule and dominates from ~10^6 vectors.  The
    registered query therefore supplies ``assigned`` from
    :func:`ivf_assign_hier_exact` (two-level integer-exact quantizer,
    O(N * 2*sqrt(n_cells) * dim), oracle-mirrored bit for bit) and
    scores with :func:`knn_graph_ivf_exact`.
    """
    cells = (
        assigned
        if assigned is not None
        else ivf_assign(df, vec_col, id_col, n_cells, dim)
    )
    q = _with_norm(df, vec_col, id_col, "q").join(
        cells.withColumnRenamed("vec_id", "query_id"), "query_id"
    )
    c = _with_norm(df, vec_col, id_col, "c").join(
        cells.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    pairs = q.join(c, "cell").where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", F.expr(_PAIR_COS).alias("cos_sim")
    )
    # Probed and rejected (round 7): windowing over (cell, query_id) to
    # reuse the cell hash-partitioning (query_id determines cell at
    # n_probe=1, so the subset rule would skip the second exchange)
    # measured SLOWER at the 500k-vector tier (171.6s vs 155.9s min-of-2,
    # same box, same session): the interpreted pair-cosine dominates this
    # plan, not the scored-pair shuffle, and the wider sort key costs more
    # than the exchange saves.  Since round 8 the registered query runs
    # knn_graph_ivf_exact below (per-cell int64 Gram, oracle-exact, no
    # pair materialization); this SQL pair-join form remains the
    # raw-cosine reference the quantization-faithfulness test compares
    # against (tests/test_properties.py).
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_graph_ivf_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 64,
    dim: int = 64,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """The k-NN graph with BOTH stages on the integer-exact fast path --
    the round-8 completion of the assignment fix: per-cell scoring as an
    int64 Gram matrix in an Arrow-batched numpy kernel, oracle-mirrored
    bit for bit.

    Scoring semantics: neighbors rank by the cosine of the QUANTIZED
    vectors (eq = floor(x * 1e6), the same grid the assignment uses).
    cos = dot_int / (sqrt(m2_q) * sqrt(m2_c)) where dot_int and the
    squared norms are exact int64 (products <= dim * 1e12 << 2^53), so
    int->double casts are exact, sqrt is IEEE correctly rounded in numpy
    (hardware sqrtsd) and DuckDB (libm) alike, and the final
    multiply/divide are single IEEE ops on identical operands --
    bit-identical ranking across engines, ties broken by neighbor id on
    bit-EQUAL cosines.  Quantization perturbs each cosine by O(1e-6)
    relative -- a legitimate (and documented) definition for an ANN
    index, in exchange for the scoring stage running as vectorized C
    instead of a per-pair interpreted 64-term fold: measured 173s ->
    ~17s at 500k vectors (results/scale_probe.txt, round 8).

    Every row of this output is hash-checked against the oracle; per row the
    FULL cell is lexsorted by (-cos, neighbor_id), so top-k tie handling
    matches ROW_NUMBER exactly (argpartition could split a boundary
    tie differently).
    """
    import numpy as np
    import pandas as pd

    cells = (
        assigned
        if assigned is not None
        else ivf_assign_hier_exact(df, vec_col, id_col, n_cells, dim)
    )
    vecs = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).join(cells, "vec_id")

    empty = pd.DataFrame(
        {"query_id": [], "neighbor_id": [], "cos_sim": [], "rank": []}
    ).astype(
        {"query_id": "int64", "neighbor_id": "int64",
         "cos_sim": "float64", "rank": "int32"}
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        X = np.asarray(pdf["vec"].to_list(), dtype=np.float64)
        n = len(ids)
        if n < 2:
            return empty
        eq = np.floor(X * EQ_GRID_F).astype(np.int64)
        G = eq @ eq.T  # exact int64 Gram
        m2 = np.sqrt(np.diag(G).astype(np.float64))  # sqrt of exact int
        # Rows with an all-zero quantized vector have m2 = 0; the SQL twin
        # divides by zero -> inf/NaN there and NaN ordering in lexsort may
        # diverge from the oracle's ORDER BY, so a degenerate input must
        # fail loudly rather than silently.  The generator's embeddings
        # never quantize to zero (|x| >= 1/EQ_GRID_F somewhere), so this
        # only ever trips on foreign data.
        if not m2.all():
            raise ValueError(
                "knn_graph_ivf_exact: vector quantizes to all-zero on the "
                f"{EQ_GRID} grid (ids "
                f"{ids[m2 == 0][:5].tolist()}); cosine is undefined there"
            )
        S = G.astype(np.float64) / m2[:, None] / m2[None, :]
        kk = min(k, n - 1)
        out_q = np.repeat(ids, kk)
        out_n = np.empty(n * kk, dtype=np.int64)
        out_c = np.empty(n * kk, dtype=np.float64)
        neg = -S
        for i in range(n):
            row = neg[i].copy()
            row[i] = np.inf  # exclude self
            order = np.lexsort((ids, row))[:kk]
            out_n[i * kk : (i + 1) * kk] = ids[order]
            out_c[i * kk : (i + 1) * kk] = S[i, order]
        return pd.DataFrame(
            {
                "query_id": out_q,
                "neighbor_id": out_n,
                "cos_sim": out_c,
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n),
            }
        )

    return vecs.groupBy("cell").applyInPandas(
        per_cell,
        schema="query_id long, neighbor_id long, cos_sim double, rank int",
    )


def knn_graph_exact_duckdb_sql(k: int) -> str:
    """DuckDB twin of :func:`knn_graph_ivf_exact`'s scoring, to splice
    after the ``assigned`` CTE from :func:`hier_assign_duckdb_ctes`
    (which also defines ``heq(vec_id, eq)``): exact integer dot and
    squared norms, cosine as the identical IEEE expression.  Reads only
    those CTEs -- the source table is whatever the assignment CTEs were
    built over, so there is no table parameter here."""
    return f"""
norms AS (
  SELECT vec_id, sqrt(CAST(list_dot_product(eq::DOUBLE[], eq::DOUBLE[])
                            AS DOUBLE)) AS nrm
  FROM heq
),
scored AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         CAST(list_dot_product(a.eq::DOUBLE[], b.eq::DOUBLE[]) AS DOUBLE)
           / na.nrm / nb.nrm AS cos_sim
  FROM assigned qa
  JOIN assigned ca USING (cell)
  JOIN heq a ON a.vec_id = qa.vec_id
  JOIN heq b ON b.vec_id = ca.vec_id
  JOIN norms na ON na.vec_id = qa.vec_id
  JOIN norms nb ON nb.vec_id = ca.vec_id
  WHERE qa.vec_id <> ca.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS INT)
           AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {k}
"""


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: only score candidates whose LSH bucket matches the
    query's bucket exactly or at Hamming distance 1 (multi-probe).

    Candidate generation EXPLODES each query into its n_planes + 1 probe
    buckets (its own bucket plus every single-bit flip) and equi-joins the
    corpus on ``bucket`` -- a hash join whose cost is the occupancy of the
    probed buckets, expected O(N * (n_planes + 1) / 2^n_planes) per query.
    This produces the identical candidate set as filtering
    ``bit_count(bucket ^ qbucket) <= 1`` over the cross product (a bucket is
    within Hamming 1 of qbucket iff it IS one of the probes), without the
    O(N * Q) nested-loop scan; the probe buckets are pairwise distinct, so
    no candidate is emitted twice.  tests/test_plans.py pins the plan to a
    broadcast HASH join on bucket, not BroadcastNestedLoopJoin.
    """
    cb = sign_lsh_buckets(corpus, vec_col, id_col, n_planes, dim).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    qb = sign_lsh_buckets(queries, vec_col, id_col, n_planes, dim).withColumnRenamed(
        "vec_id", "query_id"
    )
    c = _with_norm(corpus, vec_col, id_col, "c").join(cb, "neighbor_id")
    probe_arr = F.array(
        F.col("qbucket"),
        *[F.expr(f"qbucket ^ {1 << j}").cast("bigint") for j in range(n_planes)],
    )
    q = (
        _with_norm(queries, vec_col, id_col, "q")
        .join(qb, "query_id")
        .withColumnRenamed("bucket", "qbucket")
        .select("query_id", "qvec", "qnrm", F.explode(probe_arr).alias("bucket"))
    )
    pairs = c.join(F.broadcast(q), "bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", F.expr(_PAIR_COS).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) -- the FAISS-style ANN compression path.
#
# Vectors are split into PQ_M subspaces; each subspace gets a tiny k-means
# codebook (PQ_K centroids) and every vector is stored as PQ_M one-byte
# codes.  Query scoring is ADC (asymmetric distance computation): per query,
# a PQ_M x PQ_K distance table is precomputed once, and each candidate's
# distance is PQ_M table lookups + adds -- no float math per candidate.  At
# 100 TB this compresses a 64-dim float vector (256 B) to 8 B and turns the
# scan into a codes-only columnar read; it composes with IVF (prune cells,
# then ADC-score the survivors).
#
# Exactness design: embeddings are quantized ONCE to an integer grid
# (floor(x * 1e6) as BIGINT) and ALL distances -- training assignment, final
# codes, distance tables -- are exact int64 arithmetic, so every decision
# (argmin ties included) is bit-identical across Spark / DuckDB / Python.
# Centroid updates de-quantize via one double division with identical
# operands (floor(sum / count)), the same recipe operators/semantic.py uses.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (PQ_M * PQ_DSUB = 64 = embedding dim)
PQ_K = 16  # centroids per subspace codebook
PQ_GRID = "1e6"  # integer quantization grid for exact distances


def pq_quantize(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(vec_id, eq) with eq = the vector on the exact integer grid."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform(cast({vec_col} as array<double>),"
            f" x -> cast(floor(x * {PQ_GRID}) as bigint))"
        ).alias("eq"),
    )


def _pq_dist_sql(sub: int, cent: list[int]) -> str:
    terms = " + ".join(
        f"(element_at(eq, {sub * PQ_DSUB + j + 1}) - ({cent[j]}L))"
        f" * (element_at(eq, {sub * PQ_DSUB + j + 1}) - ({cent[j]}L))"
        for j in range(PQ_DSUB)
    )
    return f"({terms})"


def _pq_code_expr(sub: int, codebook: list[list[int]]) -> str:
    """Argmin over the subspace codebook; ties -> lowest code (exact int
    distances, so the min struct comparison is deterministic)."""
    entries = ", ".join(
        f"named_struct('d', {_pq_dist_sql(sub, cent)}, 'c', {c})"
        for c, cent in enumerate(codebook)
    )
    return f"array_min(array({entries})).c"


def pq_train_codebooks(e: DataFrame) -> list[list[list[int]]]:
    """One deterministic Lloyd iteration per subspace, entirely in the
    integer domain.  Seeds = the PQ_K lowest-id vectors' subvectors (same
    simplification as operators/semantic.py); empty codes keep their seed.
    Returns codebooks[sub][code] = centroid (list of PQ_DSUB ints)."""
    import math

    seed_rows = e.orderBy("vec_id").limit(PQ_K).collect()
    cbs = [
        [
            [int(v) for v in r["eq"][s * PQ_DSUB : (s + 1) * PQ_DSUB]]
            for r in seed_rows
        ]
        for s in range(PQ_M)
    ]
    assigned = pq_assign_fast(e, cbs, with_eq=True)
    # Reshape to (sub, code, pos) grain and take exact integer sums: ONE
    # map-side-combined shuffle of at most PQ_M * PQ_K * PQ_DSUB rows per
    # task, then a k-bounded collect (1024 rows) -- the MLlib KMeans
    # aggregation contract.
    structs = ", ".join(
        f"named_struct('sub', {s}, 'code', code{s},"
        f" 'sq', slice(eq, {s * PQ_DSUB + 1}, {PQ_DSUB}))"
        for s in range(PQ_M)
    )
    longf = (
        assigned.select(F.expr(f"explode(array({structs}))").alias("z"))
        .select("z.sub", "z.code", F.posexplode("z.sq").alias("pos", "x"))
    )
    sums = (
        longf.groupBy("sub", "code", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out = [[list(cent) for cent in cbs[s]] for s in range(PQ_M)]
    for r in sums:
        # floor(sum / count): double division of identical operands --
        # bit-identical to the oracle's FLOOR(CAST(s AS DOUBLE)/CAST(n AS
        # DOUBLE)).
        out[r["sub"]][r["code"]][r["pos"]] = math.floor(r["s"] / r["n"])
    return out


def pq_topk(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    n_queries: int = 3,
    k: int = 10,
) -> DataFrame:
    """ADC top-k: queries are the vec_ids < n_queries; candidates are every
    other vector, scored by PQ_M integer table lookups.  The distance
    tables are driver-built (n_queries * PQ_M * PQ_K ints) and folded into
    the scoring expression as literals, so scoring is a zero-shuffle map
    stage over the codes; only the final per-query top-k windows shuffle
    (n_queries partitions of candidate rows)."""
    e = pq_quantize(emb, vec_col, id_col)
    cbs = pq_train_codebooks(e)
    codes = pq_assign_fast(e, cbs)
    qrows = sorted(
        e.where(F.col("vec_id") < n_queries).collect(),
        key=lambda r: r["vec_id"],
    )
    per_query = []
    for r in qrows:
        qeq = [int(v) for v in r["eq"]]
        lookups = []
        for s in range(PQ_M):
            dts = [
                str(
                    sum(
                        (qeq[s * PQ_DSUB + j] - cent[j]) ** 2
                        for j in range(PQ_DSUB)
                    )
                )
                + "L"
                for cent in cbs[s]
            ]
            lookups.append(
                f"element_at(array({', '.join(dts)}), code{s} + 1)"
            )
        dist = " + ".join(lookups)
        per_query.append(
            f"named_struct('query_id', {int(r['vec_id'])}L,"
            f" 'adc_dist', cast({dist} as bigint))"
        )
    scored = (
        codes.select(
            "vec_id",
            F.expr(f"explode(array({', '.join(per_query)}))").alias("z"),
        )
        .select(
            F.col("z.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("z.adc_dist").alias("adc_dist"),
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def pq_assign_fast(
    e: DataFrame, cbs: list[list[list[int]]], with_eq: bool = False
) -> DataFrame:
    """(vec_id, code0..code{PQ_M-1}) via an Arrow-batched numpy kernel --
    identical values to the ``_pq_code_expr`` SQL-literal argmin (exact
    int64 distances; ``argmin`` returns the FIRST minimum = lowest code,
    matching the struct-min tiebreak).  The 1024-term literal expression
    exceeds Spark's whole-stage-codegen method limit and falls back to
    interpreted eval, so the vectorized kernel is the at-scale path; the
    expression form remains the oracle-shaped reference, pinned equal by
    tests/test_properties.py."""
    import numpy as np
    import pandas as pd

    cent = np.asarray(cbs, dtype=np.int64)  # (PQ_M, PQ_K, PQ_DSUB)
    schema = (
        "vec_id long, "
        + ", ".join(f"code{s} int" for s in range(PQ_M))
        + (", eq array<bigint>" if with_eq else "")
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["eq"].tolist(), dtype=np.int64).reshape(
                len(pdf), PQ_M, PQ_DSUB
            )
            out = {"vec_id": pdf["vec_id"]}
            for s in range(PQ_M):
                d = ((X[:, s, None, :] - cent[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                out[f"code{s}"] = d.argmin(axis=1).astype("int32")
            if with_eq:
                out["eq"] = pdf["eq"]
            yield pd.DataFrame(out)

    return e.select("vec_id", "eq").mapInPandas(assign, schema=schema)


def ivfpq_topk(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    n_queries: int = 3,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ: the FAISS composition -- coarse IVF cells prune the corpus
    (each query scores only its n_probe nearest cells' members), and PQ
    codes + ADC tables make the surviving candidates cheap to score (8
    integer lookups each, no float math, 8 B/vector).  At 100 TB this is
    THE standard trillion-scale ANN layout: cost per query is
    O(N * n_probe / n_cells) candidates x O(PQ_M) integer adds.

    Exactness: cell assignment/probes reuse the oracle-exact dot-product
    argmax (ivf_assign / ivf_probes); codes and distance tables are the
    exact int64 PQ machinery (pq_train_codebooks / pq_assign_fast).
    """
    e = pq_quantize(emb, vec_col, id_col)
    cbs = pq_train_codebooks(e)
    codes = pq_assign_fast(e, cbs)
    cells = ivf_assign(emb, vec_col, id_col, n_cells=n_cells, dim=dim)
    probes = ivf_probes(
        emb.where(F.col(id_col) < n_queries),
        vec_col,
        id_col,
        n_cells=n_cells,
        n_probe=n_probe,
        dim=dim,
    )
    cand = (
        codes.join(
            cells.withColumnRenamed("vec_id", "cvid"),
            codes.vec_id == F.col("cvid"),
        )
        .drop("cvid")
        .join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("vec_id"))
    )
    qrows = sorted(
        e.where(F.col("vec_id") < n_queries).collect(),
        key=lambda r: r["vec_id"],
    )
    # Per-subspace ADC lookup: CASE over the (few, broadcast-sized) query
    # ids selects that query's 16-entry integer table.
    lookups = []
    for s in range(PQ_M):
        arms = []
        for r in qrows:
            qeq = [int(v) for v in r["eq"]]
            dts = [
                str(
                    sum(
                        (qeq[s * PQ_DSUB + j] - cent[j]) ** 2
                        for j in range(PQ_DSUB)
                    )
                )
                + "L"
                for cent in cbs[s]
            ]
            arms.append(
                f"when query_id = {int(r['vec_id'])}L then"
                f" element_at(array({', '.join(dts)}), code{s} + 1)"
            )
        lookups.append(f"(case {' '.join(arms)} end)")
    dist = " + ".join(lookups)
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(f"cast({dist} as bigint)").alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
