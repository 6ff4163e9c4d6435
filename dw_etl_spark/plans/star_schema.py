"""The reference's star-schema ETL (SURVEY.md §3 EP1) as one lazy
DataFrame lineage over the driver testdata, per the FIXTURES.md §6 role
mapping:

  members (fact source)   → lineitem (+ date parts from l_shipdate)
  expeditions (dup'd dim) → orders   (dedup by key, keep-first)
  peaks (binned dim)      → part     (fixed-edge price bins)
  world_bank (long feed)  → events   (user_id=country, day=year axis,
                                      event_type=indicator, value=value)

Reference DAG (jobs.py:29-47): 5 extracts → 5 transforms → 6 loads with
pickled intermediates per edge. Here the whole thing is one driver
program of lazy lineage; data moves only at the shuffles the plan
actually needs (the pivot's group-by, the window partitions, and
nothing else — every dim join is a broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dw_etl_spark.functions.scalar import decade, domain_whitelist, map_lookup
from dw_etl_spark.operators.bins import bin_numeric
from dw_etl_spark.operators.dedup import dedup_keep_first
from dw_etl_spark.operators.interpolate import interpolate_by_group, seed_group_head
from dw_etl_spark.operators.joins import resolve_surrogate_key
from dw_etl_spark.operators.keys import add_sequential_id, add_unique_id
from dw_etl_spark.operators.pivot import pivot_wide
from dw_etl_spark.operators.qcut import ntile_buckets, qcut_by_group_expr
from dw_etl_spark.sources.files import read_table

QUARTER_NAMES = {1: "Winter", 2: "Spring", 3: "Summer", 4: "Autumn"}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
QTY_EDGES = [0, 10, 20, 30, 40, 51]
QTY_LABELS = ["0-9", "10-19", "20-29", "30-39", "40-50"]
PRICE_EDGES = [900, 1100, 1300, 1500, 1700, 1900, 2100]


def build_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_Date(Id, Year, Quarter, QuarterName, Decade).

    Reference create_dim_date (transform.py:364-394): project → dedup by
    (Year, Season) → sequential Id → decade arithmetic → season map.
    Derived from lineitem ship dates (the members-role date attributes).
    """
    li = read_table(spark, sf_dir, "lineitem")
    dates = li.select(
        F.year("l_shipdate").alias("Year"),
        F.quarter("l_shipdate").alias("Quarter"),
    )
    deduped = dedup_keep_first(dates, ["Year", "Quarter"])
    with_id = add_sequential_id(deduped, order_by=["Year", "Quarter"])
    return with_id.select(
        "Id",
        "Year",
        "Quarter",
        map_lookup("Quarter", QUARTER_NAMES).alias("QuarterName"),
        decade("Year").alias("Decade"),
    )


def build_dim_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_Expedition role (transform.py:155-193): project/rename,
    keep-first dedup by natural key, strict casts at the edges."""
    orders = read_table(spark, sf_dir, "orders")
    deduped = dedup_keep_first(orders, ["o_orderkey"], order_by=["o_orderdate", "o_orderkey"])
    return deduped.select(
        F.col("o_orderkey").alias("Id"),
        F.col("o_orderstatus").alias("Status"),
        F.col("o_orderpriority").alias("Priority"),
        F.col("o_totalprice").alias("TotalPrice"),
    )


def build_dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM_Peak role (transform.py:202-247): project/rename + fixed-edge
    labeled bins (peak heights → 500m bins; here retail price → 200-unit
    bins, same right-open/out-of-range→NULL semantics)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("Id"),
        F.col("p_name").alias("Name"),
        F.col("p_retailprice").alias("RetailPrice"),
        bin_numeric("p_retailprice", PRICE_EDGES).alias("PriceCategory"),
    )


def interpolated_indicator_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-independent prefix of the indicator-dim chain: pivot
    long→wide (A4) → group-head null seed (A5/A6) → per-group linear
    interpolation (A7) → sequential Id (F7). Split out so a caller
    producing BOTH tercile semantics (the merged dim_indicator gate
    query) materializes this chain once and buckets twice.

    Contract:

    - The event rows cross exactly one exchange, a hash partitioning on
      ``UserId``. It satisfies the pivot's ``(UserId, Day)`` grouping
      and every ``UserId`` window, so the scan is not spread first and
      no later step shuffles the rows again.
    - Ids are 1..n in ``(UserId, Day)`` order, a total order because
      ``(UserId, Day)`` is the pivot index. They come from per-UserId
      row numbers plus a broadcast per-UserId offset. The offsets branch
      reads only the ``(UserId, Day)`` keys, so column pruning gives it
      its own keys-only exchange on the same ``UserId`` partitioning.
    - The only unpartitioned window is that offsets sum, and it sees one
      row per UserId. The pivot index scales with the event corpus
      (12M rows at sf30), so no window may order its rows on a single
      partition.
    """
    events = read_table(spark, sf_dir, "events", spread=False)
    # The indicator value is a 2-decimal fixed-point quantity (fixture
    # contract, TESTDATA.md): aggregate it as exact integer cents so
    # the group mean is INDEPENDENT of partial-aggregation order. A
    # float avg() is not: group means of the form k/3200 land exactly
    # on the round-to-6 .5 boundary, where a 1-ulp sum-order difference
    # flips the compared digit. sum(BIGINT) is order-free; the two
    # divisions below are correctly rounded from identical inputs on
    # both engines, so every downstream lerp/tercile input is
    # bit-identical at any scale factor.
    long_form = events.select(
        F.col("user_id").alias("UserId"),
        F.dayofmonth("ts").alias("Day"),
        F.col("event_type").alias("Indicator"),
        F.round(F.col("value") * 100).cast("long").alias("Cents"),
    )
    wide = pivot_wide(
        long_form.repartition("UserId"),
        index=["UserId", "Day"],
        pivot_col="Indicator",
        value_col="Cents",
        values=EVENT_TYPES,
        agg=F.sum("Cents").cast("double") / F.lit(100.0) / F.count("Cents"),
    )
    seeded = seed_group_head(
        wide, group_by=["UserId"], order_by=["Day"], cols=EVENT_TYPES
    )
    filled = interpolate_by_group(
        seeded, group_by=["UserId"], order_by="Day", cols=EVENT_TYPES
    )
    return add_sequential_id(filled, order_by=["Day"], group_by=["UserId"])


def build_dim_indicator(
    spark: SparkSession,
    sf_dir: str,
    qcut: str = "count",
    base: DataFrame | None = None,
) -> DataFrame:
    """DIM_CountryIndicator role (transform.py:256-356), full chain:
    pivot long→wide (A4) → group-head null seed (A5/A6) → per-group
    linear interpolation (A7) → sequential Id (F7) → per-'year' tercile
    buckets (A8/W3).

    events role: user_id = country, day-of-month = year axis,
    event_type = indicator code, value = indicator value.

    ``qcut`` picks the A8 tercile semantics: ``"count"`` (equal-count
    ntile, deterministic via Id tiebreak) or ``"value"`` — the
    reference's actual ``pd.qcut`` bin-by-quantile-edge behavior
    (transform.py:335), where ties share a bin and duplicate edges
    collapse the label set (duplicates='drop').

    ``base`` injects a precomputed (typically already-materialized)
    ``interpolated_indicator_base`` frame so two bucket variants can
    share one chain; the caller owns its lifecycle then.

    Contract: the Ids, and with them the count-mode tiebreak, are the
    base's ``(UserId, Day)`` order. Count mode buckets all five
    indicators in one projection over ``Day`` windows; without a
    ``base``, value mode runs the base chain once.
    """
    if qcut not in ("count", "value"):
        raise ValueError(f"qcut must be 'count' or 'value', got {qcut!r}")
    caller_owns_base = base is not None
    with_id = base if caller_owns_base else interpolated_indicator_base(
        spark, sf_dir
    )
    out_cols = [f"{c}Bucket" for c in EVENT_TYPES]
    if qcut == "value":
        if not caller_owns_base:
            # qcut_by_group_expr reads the frame twice (histogram pass +
            # bucket assembly); pin the interpolated frame so the
            # pivot/window chain runs once, not twice. The checkpoint is
            # lazy: the edge fit's first job materializes it as part of
            # its own pass.
            with_id = with_id.localCheckpoint(eager=False)
        bucketed = qcut_by_group_expr(
            with_id, group_by=["Day"], value_col=EVENT_TYPES, n=3, out_col=out_cols
        )
    else:
        bucketed = ntile_buckets(
            with_id,
            group_by=["Day"],
            value_col=EVENT_TYPES,
            n=3,
            out_col=out_cols,
            tiebreak=[F.col("Id")],
        )
    # round for cross-engine double stability (partial-agg order varies)
    rounded = [F.round(F.col(c), 6).alias(c) for c in EVENT_TYPES]
    return bucketed.select("Id", "UserId", "Day", *rounded, *out_cols)


def build_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FACT_MemberExpedition role (transform.py:18-146): project/rename
    (P1/P2) → domain whitelist w/ default (P3) → fixed-edge bins (F1) →
    composite-key surrogate join to DIM_Date (J1) → sequential Id (F7).

    All dim joins broadcast — the fact side never shuffles for a join.
    Fact Ids use the scalable ``add_unique_id`` path (repartitionByRange
    + per-partition offsets) — the global-window ``add_sequential_id``
    is reserved for dimension-sized inputs (PLANS.md §4): a fact table
    must never sort on a single partition.
    """
    li = read_table(spark, sf_dir, "lineitem")
    dim_date = build_dim_date(spark, sf_dir)

    projected = li.select(
        F.col("l_orderkey").alias("OrderId"),
        F.col("l_partkey").alias("PartId"),
        F.col("l_linenumber").alias("LineNumber"),
        F.col("l_quantity").alias("Quantity"),
        F.col("l_extendedprice").alias("ExtendedPrice"),
        domain_whitelist("l_returnflag", ["A", "R"], "UNKNOWN").alias("ReturnFlag"),
        bin_numeric("l_quantity", QTY_EDGES, QTY_LABELS).alias("QuantityGroup"),
        F.year("l_shipdate").alias("ShipYear"),
        F.quarter("l_shipdate").alias("ShipQuarter"),
    )
    with_date = resolve_surrogate_key(
        projected,
        dim_date,
        on={"ShipYear": "Year", "ShipQuarter": "Quarter"},
        as_name="DateId",
    )
    # (OrderId, LineNumber) is NOT unique in the synthetic data; a total
    # ordering makes the id↔row pairing deterministic (any engine, any
    # partitioning) instead of relying on stable-sort tie order.
    return add_unique_id(
        with_date.drop("ShipYear", "ShipQuarter"),
        order_by=["OrderId", "LineNumber", "PartId", "Quantity", "ExtendedPrice"],
    )


def build_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All four dims + the fact, as lazy DataFrames (no actions).

    Construction runs from CONCURRENT driver threads (r15, guide §1.2
    step 2 — the pipeline's py4j/plan-building prefix was profiled at
    ~13 s at sf1 BEFORE the first cluster job, with DIM_Indicator's
    window chains alone ~2/3 of it). Each table's builder is
    independent and touches no shared state; py4j gives every Python
    thread its own gateway connection, so the JVM-side expression
    construction genuinely parallelizes. The result is the identical
    five lazy plans, just built side by side."""
    from concurrent.futures import ThreadPoolExecutor

    builders = {
        "DIM_Date": build_dim_date,
        "DIM_Order": build_dim_order,
        "DIM_Part": build_dim_part,
        "DIM_Indicator": build_dim_indicator,
        "FACT_LineItem": build_fact,
    }
    with ThreadPoolExecutor(max_workers=len(builders)) as ex:
        futs = {
            name: ex.submit(fn, spark, sf_dir)
            for name, fn in builders.items()
        }
        return {name: fut.result() for name, fut in futs.items()}
