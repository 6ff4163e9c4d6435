"""Per-group linear interpolation (SURVEY.md §2.4 A5-A7, §2.5 W1/W2).

Reference: ``groupby(code)[ind].transform(lambda x: x.interpolate())``
with first-row-of-group null→0 seeding (transform.py:280-286). pandas
default ``limit_direction='forward'`` semantics:
  - interior null runs: linear between nearest non-null neighbors;
  - trailing nulls: forward-filled with the last known value;
  - leading nulls: stay null (except the group's first row, seeded 0
    beforehand by the reference — exposed here as ``seed_group_head``).

Implementation: pure window functions, no UDF, no shuffle beyond the
one hash-partition on the group key (both windows share the same
partitioning, so Catalyst plans a single exchange + two sorts — and the
two sorts share the same (group, order) prefix so the second collapses).
Scale: per-group state never materializes on one node beyond a
partition's rows; time-series length per group is the only memory term.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def seed_group_head(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    cols: list[str],
    fill_value: float = 0.0,
) -> DataFrame:
    """If the first row of a group has NULL in ``cols`` → ``fill_value``
    (reference transform.py:280-282: A5 group-head + A6 conditional fill)."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    head = F.row_number().over(w) == 1
    return df.withColumns({
        c: F.when(head & F.col(c).isNull(), F.lit(fill_value)).otherwise(F.col(c))
        for c in cols
    })


def interpolate_by_group(
    df: DataFrame,
    group_by: list[str],
    order_by: str,
    cols: list[str],
) -> DataFrame:
    """Linear interpolation of NULL runs in ``cols`` within each group,
    ordered by the numeric column ``order_by`` (reference
    transform.py:284-286; pandas ``Series.interpolate()`` forward
    semantics).

    Window recipe per column:
      prev value/position  = ``last(col, ignorenulls)`` over
                             (unbounded preceding → current)
      next value/position  = ``first(col, ignorenulls)`` over
                             (current → unbounded following)
      interpolated         = prev + (next-prev) · (pos-prev_pos)/(next_pos-prev_pos)
      trailing nulls       = coalesce to prev (forward fill)
      leading nulls        = stay NULL (no backfill)

    Interpolation is positional over the row sequence — matching pandas
    ``interpolate(method='linear')``, which ignores the index and uses
    consecutive row positions. Gaps in ``order_by`` therefore do NOT
    stretch the slope (use method='values' semantics by passing a dense
    order column if needed).
    """
    w_back = (
        Window.partitionBy(*group_by)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*group_by)
        .orderBy(order_by)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_row = Window.partitionBy(*group_by).orderBy(order_by)

    def filled(c: str) -> Column:
        val = F.col(c).cast("double")
        pos_if = F.when(val.isNotNull(), F.col("__pos"))
        prev_v = F.last(val, ignorenulls=True).over(w_back)
        next_v = F.first(val, ignorenulls=True).over(w_fwd)
        prev_p = F.last(pos_if, ignorenulls=True).over(w_back)
        next_p = F.first(pos_if, ignorenulls=True).over(w_fwd)

        interp = prev_v + (next_v - prev_v) * (F.col("__pos") - prev_p) / (
            next_p - prev_p
        )
        return (
            F.when(val.isNotNull(), val)
            .when(prev_v.isNull(), F.lit(None).cast("double"))  # leading: stay null
            .when(next_v.isNull(), prev_v)  # trailing: forward fill
            .otherwise(interp)
        )

    out = df.withColumn("__pos", F.row_number().over(w_row).cast("double"))
    return out.withColumns({c: filled(c) for c in cols}).drop("__pos")
