"""The BI dashboard's queries over the committed warehouse.

Each template names its tables as ``{fact}``, ``{dim_date}``, ... and is
run twice: by Spark with the placeholders bound to DataFrames the
warehouse sink reopened, and by DuckDB with them bound to the same
parquet directories. Aggregates are exact (decimal sums, integer
counts), NULL-free and rounded where doubles remain, so both engines
must agree digit for digit.
"""

from __future__ import annotations

import random
import threading

TABLE_ARGS = {
    "fact": "FACT_LineItem",
    "dim_date": "DIM_Date",
    "dim_order": "DIM_Order",
    "dim_part": "DIM_Part",
    "dim_indicator": "DIM_Indicator",
}

_REVENUE = "CAST(sum(CAST(f.ExtendedPrice AS DECIMAL(18,2))) AS DOUBLE) AS revenue"

QUERIES: dict[str, tuple[str, tuple[str, ...]]] = {
    "revenue_by_quarter": (
        f"""SELECT d.Year, d.Quarter, count(*) AS lines, {_REVENUE},
       CAST(sum(CAST(f.Quantity AS BIGINT)) AS BIGINT) AS units
FROM {{fact}} f JOIN {{dim_date}} d ON f.DateId = d.Id
GROUP BY d.Year, d.Quarter""",
        ("fact", "dim_date"),
    ),
    "revenue_by_priority": (
        f"""SELECT o.Priority, o.Status, count(*) AS lines, {_REVENUE}
FROM {{fact}} f JOIN {{dim_order}} o ON f.OrderId = o.Id
GROUP BY o.Priority, o.Status""",
        ("fact", "dim_order"),
    ),
    "revenue_by_part": (
        f"""SELECT coalesce(p.PriceCategory, 'none') AS PriceCategory, p.Name,
       f.ReturnFlag, count(*) AS lines, {_REVENUE}
FROM {{fact}} f JOIN {{dim_part}} p ON f.PartId = p.Id
GROUP BY coalesce(p.PriceCategory, 'none'), p.Name, f.ReturnFlag""",
        ("fact", "dim_part"),
    ),
    "rollup_year_quantity": (
        f"""SELECT CASE WHEN grouping(d.Year) = 1 THEN -1 ELSE d.Year END AS Year,
       CASE WHEN grouping(f.QuantityGroup) = 1 THEN 'ALL'
            ELSE coalesce(f.QuantityGroup, 'none') END AS QuantityGroup,
       count(*) AS lines, {_REVENUE}
FROM {{fact}} f JOIN {{dim_date}} d ON f.DateId = d.Id
GROUP BY ROLLUP (d.Year, f.QuantityGroup)""",
        ("fact", "dim_date"),
    ),
    "indicator_terciles": (
        """SELECT Day, coalesce(clickBucket, 'none') AS bucket, count(*) AS users,
       round(min(coalesce(click, -1.0)), 6) AS lo,
       round(max(coalesce(click, -1.0)), 6) AS hi
FROM {dim_indicator}
GROUP BY Day, coalesce(clickBucket, 'none')""",
        ("dim_indicator",),
    ),
    # selective: fact files are range-partitioned by OrderId, so file and
    # row-group statistics can skip most of the fact
    "order_lookup": (
        """SELECT f.OrderId, f.LineNumber, f.PartId, f.Quantity, f.ExtendedPrice,
       o.Priority
FROM {fact} f JOIN {dim_order} o ON f.OrderId = o.Id
WHERE f.OrderId BETWEEN {lo} AND {hi}""",
        ("fact", "dim_order"),
    ),
}

LOOKUP_ORDERS = 100  # orders per order_lookup range


def params(name: str, rng: random.Random, n_orders: int) -> dict[str, int]:
    """Draw the query's parameters; only the lookup has any."""
    if name != "order_lookup":
        return {}
    lo = rng.randrange(0, max(1, n_orders - LOOKUP_ORDERS))
    return {"lo": lo, "hi": lo + LOOKUP_ORDERS - 1}


class QueryStream:
    """A seeded stream of ``(name, params)``: ``passes`` whole passes over
    the query set, each pass in its own shuffled order. Clients share
    one stream, so a run's query mix and order depend on the seed only."""

    def __init__(self, key: str, n_orders: int, passes: int):
        self._rng = random.Random(key)
        self._n_orders = n_orders
        self._passes = passes
        self._pending: list[tuple[str, dict[str, int]]] = []
        self._lock = threading.Lock()

    def next(self) -> tuple[str, dict[str, int]] | None:
        with self._lock:
            if not self._pending:
                if self._passes == 0:
                    return None
                self._passes -= 1
                names = list(QUERIES)
                self._rng.shuffle(names)
                self._pending = [(n, params(n, self._rng, self._n_orders)) for n in names]
            return self._pending.pop(0)
