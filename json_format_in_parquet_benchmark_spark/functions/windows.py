"""Shared window recipes with paired Spark/DuckDB forms.

Two boundary-sensitive patterns appear across the text and multimodal
pipelines and must stay bit-identical between the Spark plan and its
oracle:

- **Budget packing**: items pack in order into fixed-budget shards via
  ``shard = floor(preceding-size-sum / budget)`` (token shards, byte
  shards).
- **Exact rank quantile**: the value at rank ``floor(p * (n-1))`` under a
  deterministic (value, id) order -- the engine-exact percentile used for
  adaptive cut bands.

Each recipe has one Spark Column builder and one SQL-snippet builder so
the arithmetic lives in exactly one place; an off-by-one (``p*(n-1)`` vs
``p*n``) or a convention change (preceding vs inclusive cumulative sum)
edits here edits every consumer and its oracle together.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..runtime import track_persist

_PLAIN_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _require_integral(df, col: str, fn: str, role: str) -> None:
    """Enforce the two-phase recipes' column contract with a clear error.

    The two-phase builders splice ``col`` raw into ``F.expr(f"{col} div
    width")``, so the argument must be a PLAIN column name (not a
    qualified path or expression) of an integral type -- ``div`` on a
    fractional type or a spliced expression would otherwise surface as an
    opaque Catalyst analysis error (or, worse for the bit-exactness
    guarantee, fractional bucketing that no longer matches the
    single-window oracle)."""
    if not _PLAIN_NAME.match(col):
        raise TypeError(
            f"{fn}: {role} column {col!r} must be a plain column name "
            "(it is spliced into an integer `div` expression); pre-project "
            "expressions into a named column first"
        )
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise TypeError(f"{fn}: {role} column {col!r} not found in the frame")
    if dtype not in _INTEGRAL:
        raise TypeError(
            f"{fn}: {role} column {col!r} has type {dtype}; the two-phase "
            "bucketing (and its bit-exactness vs the single-window oracle) "
            "requires an integral type -- cast to bigint upstream"
        )


def _require_width(fn: str, name: str, width) -> None:
    """Reject non-positive bucket/tie widths LOUDLY.  ``x div 0`` is a
    silent all-NULL bucketing under non-ANSI mode and an opaque
    mid-query DIVIDE_BY_ZERO under ANSI -- either way the misuse class
    :func:`_require_integral` exists to prevent, so fail at call time
    with the argument named (r10 ADVICE)."""
    if isinstance(width, bool) or not isinstance(width, int) or width < 1:
        raise TypeError(
            f"{fn}: {name} must be a positive int, got {width!r} -- a "
            "zero/negative width makes `div` yield NULL buckets silently"
        )


def _null_first_bucket(col: str, width: int) -> tuple[Column, Column]:
    """The (flag, bucket) key pair that makes two-phase bucketing
    NULL-complete: a NULL order/value used to make the bucket NULL, and
    the null-unsafe offsets equi-join then DROPPED the row where the
    single-window form keeps it (nulls first, Spark's ASC default).
    Both keys here are non-null -- flag 0 for NULL values (sorting
    before every real bucket's flag 1, i.e. nulls first), bucket
    ``coalesce(col div width, 0)``.  Equal values still share a bucket
    and bucket order is still monotone in the value, so the
    decomposition's exactness argument is unchanged."""
    is_null = F.col(col).isNull()
    flag = F.when(is_null, F.lit(0)).otherwise(F.lit(1)).cast("int")
    bucket = F.coalesce(F.expr(f"{col} div {width}"), F.lit(0)).cast("bigint")
    return flag, bucket


def pack_shard_spark(
    part_col: str, order_col: str, size_col: str, budget: int
) -> Column:
    """Spark: shard id by cumulative-size budget packing within a group."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        F.floor(
            (F.sum(size_col).over(w) - F.col(size_col)) / float(budget)
        ).cast("bigint")
    )


def prefix_sum_two_phase(
    df,
    part_col: str,
    order_col: str,
    size_col: str,
    order_extra: tuple[str, ...] = (),
    bucket_width: int = 65536,
    out_col: str = "prefix",
):
    """EXCLUSIVE running sum of ``size_col`` within ``part_col`` ordered by
    ``(order_col, *order_extra)`` -- the two-phase decomposition shared by
    the shard packers and the Pareto/cumulative-share plans, for
    LOW-cardinality partition keys where one window would sort each key's
    entire data on a single reducer.

    Rows bucket by ``order_col div bucket_width`` (monotone non-decreasing
    in the order column, equal values share a bucket); phase 1 computes
    the exclusive running sum within each (part, bucket) -- many small
    parallel windows -- plus one total per bucket, and phase 2
    prefix-sums the per-bucket totals over only ``n_buckets`` rows,
    joined back on the partitioning phase 1 already established.  With a
    deterministic ``(order_col, *order_extra)`` total order the result is
    bit-identical to the one-window form; int64 addition is exact and
    associative, so even tie permutations cannot change any prefix that a
    total order pins.  NULL order values are kept and sort first (the
    Spark single-window ASC default) via the non-null (flag, bucket) key
    pair -- see :func:`_null_first_bucket`.  Returns ``df`` plus
    ``out_col``.
    """
    _require_integral(df, order_col, "prefix_sum_two_phase", "order")
    _require_width("prefix_sum_two_phase", "bucket_width", bucket_width)
    bn, b = _null_first_bucket(order_col, bucket_width)
    keys = ["_pfx_bn", "_pfx_b"]
    w_in = (
        Window.partitionBy(part_col, *keys)
        .orderBy(order_col, *order_extra)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Persist the pre-window projection: BOTH phases read it (the running
    # sum and the per-bucket totals); without the cache Catalyst recomputes
    # the upstream lineage once per branch (the round-4 fan-out rule).
    staged = track_persist(df.withColumn("_pfx_bn", bn).withColumn("_pfx_b", b))
    sized = staged.withColumn(
        "_pfx_intra", F.sum(size_col).over(w_in) - F.col(size_col)
    )
    totals = staged.groupBy(part_col, *keys).agg(
        F.sum(size_col).alias("_pfx_tot")
    )
    w_b = (
        Window.partitionBy(part_col)
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        part_col,
        *keys,
        F.coalesce(F.sum("_pfx_tot").over(w_b), F.lit(0)).alias("_pfx_off"),
    )
    # No broadcast hint on purpose: the join key (part, bucket) is exactly
    # the phase-1 window partitioning, so the big side joins without a new
    # exchange, and AQE broadcast-converts the offsets side while it is
    # small (it grows with n_buckets, so forcing broadcast would be the
    # 100-TB mistake).
    return (
        sized.join(offsets, [part_col, *keys])
        .withColumn(out_col, F.col("_pfx_off") + F.col("_pfx_intra"))
        .drop(*keys, "_pfx_intra", "_pfx_off")
    )


def pack_shards_two_phase(
    df,
    part_col: str,
    order_col: str,
    size_col: str,
    budget: int,
    bucket_width: int = 65536,
    shard_col: str = "shard",
):
    """Scalable twin of :func:`pack_shard_spark`: the same shard ids via a
    TWO-PHASE prefix sum instead of one window per partition key.

    The single-window form sorts each ``part_col`` group on ONE reducer --
    fine when the partition key has high cardinality, a scale wall when it
    is something like `lang` (5 values): at 100 TB that is 20 TB per task.
    Here the prefix sum decomposes: rows bucket by coarse ordered ranges of
    ``order_col`` (``order_col div bucket_width`` -- monotone in the order
    column, so bucket order == row order), phase 1 computes the EXCLUSIVE
    running sum within each (part, bucket) -- many small parallel windows --
    plus one total per bucket, and phase 2 prefix-sums the per-bucket totals
    with a window over only ``n_buckets`` rows, broadcast-joined back.
    ``offset + intra`` is exactly the global preceding sum (BIGINT
    arithmetic throughout), so ``floor(.. / budget)`` reproduces the
    single-window shard ids bit for bit; the DuckDB oracle keeps the
    one-window :func:`pack_shard_duck` definition.

    Since r11 this IS :func:`prefix_sum_two_phase` plus the
    ``floor(prefix / budget)`` shard arithmetic (the r9 TODO fold --
    one copy of the two-phase machinery, zero semantic change).

    Returns ``df`` plus ``shard_col``.  Bucket BALANCE (not correctness)
    assumes ``order_col`` is roughly dense; for skewed id spaces derive the
    buckets from ``repartitionByRange`` sampling instead.  ``order_col``
    must be a PLAIN integral column name (enforced by
    :func:`_require_integral`).
    """
    _require_width("pack_shards_two_phase", "budget", budget)
    packed = prefix_sum_two_phase(
        df,
        part_col,
        order_col,
        size_col,
        bucket_width=bucket_width,
        out_col="_pack_prefix",
    )
    return packed.withColumn(
        shard_col,
        F.floor(F.col("_pack_prefix") / float(budget)).cast("bigint"),
    ).drop("_pack_prefix")


def rank_two_phase(
    df,
    part_col: str,
    value_col: str,
    order_extra: tuple[str, ...] = (),
    bucket_width: int = 65536,
    rn_col: str = "rn",
    n_col: str = "n",
    tie_bucket: tuple[str, int] | None = None,
):
    """1-based rank of each row within ``part_col`` ordered by
    ``(value_col, *order_extra)``, plus the partition row count -- the
    two-phase twin of ``ROW_NUMBER() / COUNT(*) OVER (PARTITION BY part)``
    for LOW-cardinality partition keys, where the plain window sorts each
    key's entire data on one reducer.

    Rows bucket by ``value_col div bucket_width`` (integer division is
    monotone non-decreasing in the value, and EQUAL values always share a
    bucket, so the value at any global rank -- the only thing the rank
    consumers extract -- is preserved under tie permutation exactly as in
    the single-window form).  Phase 1 ranks within each (part, bucket);
    phase 2 prefix-sums the per-bucket counts over ``n_buckets`` rows and
    joins the offsets back on the partitioning phase 1 already
    established.  Parallelism is bounded by the value spread / width --
    pick ``bucket_width`` so a typical partition spans many buckets.

    Returns ``df`` plus ``rn_col`` (1-based) and ``n_col``.  ``value_col``
    must be a PLAIN integral column name (enforced by
    :func:`_require_integral`); a GLOBAL rank comes from a constant
    ``part_col`` (project ``F.lit(0)`` first).  NULL values are kept and
    rank FIRST (Spark's single-window ASC default) via the non-null
    (flag, bucket) key pair -- see :func:`_null_first_bucket`.

    ``tie_bucket``: value bucketing alone caps the fan-out at the value's
    NDV (equal values must share a bucket), which is a real ceiling for
    LOW-NDV values like an order count -- every customer with frequency 7
    would sort on one reducer.  Passing ``(tie_col, tie_width)`` adds a
    SECOND bucket level over the deterministic tiebreak column: within
    one exact value, row order IS the tiebreak order, so splitting a
    value's run by ``tie_col div tie_width`` keeps the buckets contiguous
    in the global (value, tie) order and the composed rank stays exact.
    Requires ``bucket_width == 1`` (buckets must be EXACT values -- a
    multi-value bucket's rows do not sort by tie_col) and ``tie_col ==
    order_extra[0]`` (the decomposition is only valid along the actual
    ordering).  Fan-out becomes NDV x tie_range/tie_width, which GROWS
    with the dimension instead of capping at the NDV.
    """
    _require_integral(df, value_col, "rank_two_phase", "value")
    _require_width("rank_two_phase", "bucket_width", bucket_width)
    bn, b = _null_first_bucket(value_col, bucket_width)
    keys = ["_rk_bn", "_rk_b"]
    staged = df.withColumn("_rk_bn", bn).withColumn("_rk_b", b)
    if tie_bucket is not None:
        tie_col, tie_width = tie_bucket
        if bucket_width != 1:
            raise TypeError(
                "rank_two_phase: tie_bucket requires bucket_width=1 -- a "
                "multi-value bucket's rows are not ordered by the tiebreak"
            )
        if not order_extra or order_extra[0] != tie_col:
            raise TypeError(
                "rank_two_phase: tie_bucket column must be order_extra[0] "
                "(the decomposition follows the actual ordering)"
            )
        _require_integral(df, tie_col, "rank_two_phase", "tie")
        _require_width("rank_two_phase", "tie_width", tie_width)
        bn2, b2 = _null_first_bucket(tie_col, tie_width)
        staged = staged.withColumn("_rk_b2n", bn2).withColumn("_rk_b2", b2)
        keys += ["_rk_b2n", "_rk_b2"]
    w_in = (
        Window.partitionBy(part_col, *keys).orderBy(value_col, *order_extra)
    )
    # Same two-consumer persist reasoning as pack_shards_two_phase.
    staged = track_persist(staged)
    bucketed = staged.withColumn("_rk_intra", F.row_number().over(w_in))
    counts = staged.groupBy(part_col, *keys).agg(
        F.count(F.lit(1)).alias("_rk_c")
    )
    w_off = (
        Window.partitionBy(part_col)
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        part_col,
        *keys,
        F.coalesce(F.sum("_rk_c").over(w_off), F.lit(0)).alias("_rk_off"),
        F.sum("_rk_c").over(Window.partitionBy(part_col)).alias(n_col),
    )
    # Same no-broadcast-hint reasoning as pack_shards_two_phase: the join
    # key matches phase 1's window partitioning, AQE converts while small.
    return (
        bucketed.join(offsets, [part_col, *keys])
        .withColumn(rn_col, F.col("_rk_off") + F.col("_rk_intra"))
        .drop(*keys, "_rk_intra", "_rk_off")
    )


def pack_shard_duck(
    part_col: str, order_col: str, size_col: str, budget: int
) -> str:
    """DuckDB SQL expression computing :func:`pack_shard_spark` exactly."""
    return (
        f"CAST(FLOOR((SUM({size_col}) OVER (PARTITION BY {part_col}"
        f" ORDER BY {order_col} ROWS UNBOUNDED PRECEDING)"
        f" - {size_col}) / {budget}.0) AS BIGINT)"
    )


def rank_cut_spark(rn_col: str, n_col: str, p: float, val_col: str) -> Column:
    """Spark: aggregate arm picking the value at rank floor(p * (n-1)).

    Use inside ``groupBy(part).agg(...)`` over a frame carrying
    ``rn`` = row_number - 1 (ordered by (value, id)) and ``n`` = group
    count: ``F.max(rank_cut_spark("rn", "n", 0.05, "n_chars"))``.
    """
    return F.when(
        F.col(rn_col) == F.floor(p * (F.col(n_col) - 1)).cast("bigint"),
        F.col(val_col),
    )


def rank_cut_duck(rn_col: str, n_col: str, p: float, val_col: str) -> str:
    """DuckDB SQL aggregate arm for :func:`rank_cut_spark` (wrap in MAX)."""
    return (
        f"CASE WHEN {rn_col} = CAST(FLOOR({p} * ({n_col} - 1)) AS BIGINT)"
        f" THEN {val_col} END"
    )
