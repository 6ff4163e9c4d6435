"""Surrogate-key operators (SURVEY.md §2.7 F7).

Reference: contiguous 1-based Ids assigned by row order
(``insert(0, 'Id', range(1, n+1))`` — transform.py:129, 301, 376).
pandas inherits file/pivot order; a distributed engine must pin an
explicit deterministic ordering.

Both variants return Ids exactly 1..n in ``order_by`` order, identical
across evaluations when that order is total:

- ``add_sequential_id(df, order_by)`` — one global ``row_number()``
  window: a single-partition sort, so only for dimension-sized inputs
  (DIM_Date).
- ``add_sequential_id(df, order_by, group_by=g)`` — Ids in ``(g,
  order_by)`` order. ``row_number()`` runs per group, partitioned by
  ``g``, so a frame already hash-partitioned on ``g`` keeps its
  partitioning and a window on the same spec shares its sort. Each
  group then adds its offset: a running sum, NULL groups first, over
  one count row per group, broadcast and joined back null-safe. That
  running sum is a single-partition window over the groups, so the
  condition is that the group count is dimension-sized; the grouped
  rows may be any size.
- ``add_unique_id`` — for inputs with no small grouping key (the
  fact): range-partition and sort by ``order_by``, then add
  per-partition offsets from the partition row counts (zipWithIndex,
  expressed DataFrame-side). It pins the sorted snapshot with
  ``persist()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def add_sequential_id(
    df: DataFrame,
    order_by: list[str | Column],
    id_col: str = "Id",
    group_by: list[str] | None = None,
) -> DataFrame:
    """Contiguous 1-based id in ``(*group_by, *order_by)`` order.

    Without ``group_by``: one global window (dimension-sized inputs).
    With it: a per-group ``row_number()`` plus a broadcast per-group
    offset; the only unpartitioned window sees one row per group.
    """
    if not group_by:
        w = Window.orderBy(*order_by)
        cols = [F.row_number().over(w).cast("long").alias(id_col), *df.columns]
        return df.select(*cols)
    keys = [f"__g{i}" for i in range(len(group_by))]
    w_off = Window.orderBy(
        *[F.col(k).asc_nulls_first() for k in keys]
    ).rowsBetween(Window.unboundedPreceding, -1)
    offset = F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    offsets = (
        df.groupBy(*[F.col(g).alias(k) for g, k in zip(group_by, keys)])
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(*keys, offset.alias("__offset"))
    )
    rn = F.row_number().over(Window.partitionBy(*group_by).orderBy(*order_by))
    on = [F.col(g).eqNullSafe(F.col(k)) for g, k in zip(group_by, keys)]
    ids = (F.col("__offset") + F.col("__rn")).cast("long")
    return (
        df.withColumn("__rn", rn)
        .join(F.broadcast(offsets), on)
        .select(ids.alias(id_col), *df.columns)
    )


def add_unique_id(
    df: DataFrame,
    order_by: list[str],
    id_col: str = "Id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Contiguous deterministic ids without a single-partition shuffle.

    ``repartitionByRange`` + in-partition sort gives a total order
    across partitions; the in-partition row offset plus a cumulative
    offset per partition yields the global id.

    Correctness hinges on every consumer seeing ONE materialized
    partitioning: partition ids are non-deterministic, and the offset
    computation and the id assignment each trigger their own physical
    planning of the range exchange — under AQE the two can coalesce to
    *different* partitionings, so offsets from one get applied to pids
    of another and the ids silently corrupt (observed at 600k rows:
    ids up to 600115 with duplicates, 12.8k order inversions). The fix
    is to pin the partitioned+sorted frame with ``persist()`` — pids
    are baked into the cached blocks, every branch reads the same
    snapshot, and a recompute after eviction regenerates identical
    partitions (range boundaries are part of the cached plan's
    lineage). The cache is the standard price of stable distributed id
    assignment; ``unpersist()`` after the ids are consumed.

    r14 optimization (guide §2.4 — remove shuffles outright): the
    in-partition row number comes from ``monotonically_increasing_id``
    evaluated directly on the pinned range-sorted snapshot (pid in the
    upper bits, 0-based row offset in the lower 33 — the documented
    layout), NOT from a ``row_number`` window partitioned by pid. The
    window form hash-shuffled the FULL data a second time (Exchange on
    __pid) and re-sorted it; the mid form is a narrow projection on
    the cached blocks, whose row order the cache pins. Before/after at
    sf0.1 fact (600k rows): id-assignment overhead 3.5 s → ~1.3 s,
    plan loses one full-data Exchange + one sort. The 33-bit row field
    caps partitions at 2^33 rows — 8.6e9 rows per partition, far past
    any sane partition sizing.

    The running-sum window over the count rows is "global" but sees one
    row per partition, not per data row — microscopic at any scale.
    """
    from pyspark import StorageLevel

    n_parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"
    )
    parted = df.repartitionByRange(int(n_parts), *order_by).sortWithinPartitions(
        *order_by
    )
    mask = (1 << 33) - 1
    snap = parted.withColumn(
        "__mid", F.monotonically_increasing_id()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pid_of = F.shiftrightunsigned(F.col("__mid"), 33)

    w_off = (
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        snap.groupBy(pid_of.alias("__pid"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
        )
        .select("__pid", "__offset")
    )
    out = (
        snap.withColumn("__pid", pid_of)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(
            id_col,
            (
                F.col("__offset")
                + F.col("__mid").bitwiseAND(F.lit(mask))
                + F.lit(1)
            ).cast("long"),
        )
        .drop("__pid", "__mid", "__offset")
        .select(id_col, *df.columns)
    )
    # r15 (guide §2.6): expose the pinned snapshot so an orchestrator
    # that must WAIT before consuming this frame (load_star_schema's
    # fact write queues behind its FK-parent dims) can materialize the
    # expensive part — the range exchange + sort + cache write — from a
    # concurrent thread while it waits. Plain Python attribute on the
    # DataFrame wrapper: callers that transform the frame further
    # simply lose the handle (getattr default), nothing depends on it.
    out._dw_id_pin = snap
    return out
