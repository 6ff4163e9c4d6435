"""Scale-utility tests: semantic equality to naive plans, plus physical
plan assertions (bucketed join has no Exchange; broadcast where we
claim broadcast)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dw_etl_spark.operators.scale import (
    salted_join,
    two_phase_count_distinct,
    write_bucketed,
)
from dw_etl_spark.sources.files import read_table
from tests.conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    li = read_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = read_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").groupBy("l_orderkey").count()
    salted = (
        salted_join(li, orders, on=["l_orderkey"], n_salts=4)
        .groupBy("l_orderkey")
        .count()
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_two_phase_count_distinct_equals_builtin(spark):
    li = read_table(spark, SF_SMOKE, "lineitem")
    got = {
        r["l_returnflag"]: r["n_distinct"]
        for r in two_phase_count_distinct(li, ["l_returnflag"], "l_partkey").collect()
    }
    want = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert got == want


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")

    write_bucketed(li, "b_lineitem", ["l_orderkey"], n_buckets=4, sort_keys=["l_orderkey"])
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=4, sort_keys=["o_orderkey"])
    try:
        a = spark.table("b_lineitem")
        b = spark.table("b_orders")
        # disable auto-broadcast so the test exercises the SMJ path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a.l_orderkey == b.o_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # same join on the raw (unbucketed) frames DOES shuffle
            raw = li.join(orders, li.l_orderkey == orders.o_orderkey)
            raw_plan = raw._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in raw_plan
            assert joined.count() == raw.count()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Hive-style partitioned writes prune at the source: a filter on
    the partition column reads only that directory."""
    ev = read_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events_parted")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the scan's partition filter must carry the predicate...
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    want = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == want


def test_observe_counts_no_extra_job(spark):
    from dw_etl_spark.functions.metrics import observe_counts

    df = spark.createDataFrame([(1, "a"), (2, None), (3, None)], ["id", "v"])
    instrumented, obs = observe_counts(df, "m", null_cols=["v"])
    instrumented.write.format("noop").mode("overwrite").save()
    assert obs.get == {"n_rows": 3, "n_null_v": 2}


def test_fact_dim_join_is_broadcast(spark):
    """The star-schema fact assembly must broadcast its dim joins."""
    from dw_etl_spark.plans.star_schema import build_fact

    plan = build_fact(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fact_id_window_is_partitioned(spark):
    """The fact's id assignment must never be a single-partition global
    window (the canonical 100 TB scale-killer). WindowExec prints as
    ``Window [exprs], [partition], [order]`` — an unpartitioned window
    has only two bracket groups. The fact plan may still contain
    unpartitioned windows for dimension-sized inputs (dim_date's 28-row
    id) and add_unique_id's one-row-per-partition offsets sum, but the
    window that orders the fact rows themselves (by OrderId) must carry
    a partition spec.
    """
    from dw_etl_spark.plans.star_schema import build_fact

    plan = build_fact(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert windows, "expected WindowExec nodes in the fact plan"
    for ln in windows:
        unpartitioned = ln.count("], [") < 2
        if unpartitioned:
            assert "OrderId" not in ln, (
                "fact rows flow through a single-partition window:\n" + ln
            )


def test_indicator_base_id_window_is_partitioned(spark):
    """The indicator dim's id assignment must also never be a global
    window: its input is the (UserId, Day) pivot index, which scales
    with the event corpus (12M rows at sf30 — the sf30 ladder rung
    OOM'd the 16g driver on two concurrently-planned single-partition
    sorts of it). The only allowed unpartitioned window is the Id
    offsets sum, which sees one row per UserId — anything ordering the
    scaled rows themselves (by Day) must carry a partition spec.
    """
    from dw_etl_spark.plans.star_schema import interpolated_indicator_base

    plan = (
        interpolated_indicator_base(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert windows, "expected WindowExec nodes in the indicator base plan"
    for ln in windows:
        unpartitioned = ln.count("], [") < 2
        if unpartitioned:
            assert "Day" not in ln, (
                "indicator rows flow through a single-partition window:\n" + ln
            )


def test_indicator_base_moves_its_rows_once(spark):
    """The indicator chain hash-partitions the event rows on ``UserId``
    once: that exchange feeds the pivot's ``(UserId, Day)`` grouping and
    every ``UserId`` window. The Id offsets need one count row per
    UserId; their branch ships only the ``(UserId, Day)`` keys, on the
    same ``UserId`` partitioning. No range partitioning, round-robin
    spread or cached relation remains."""
    import re

    from dw_etl_spark.plans.star_schema import interpolated_indicator_base

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            interpolated_indicator_base(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    lines = plan.splitlines()
    hashed = [
        (ln, nxt)
        for ln, nxt in zip(lines, lines[1:])
        if re.search(r"(?<!Reused)Exchange hashpartitioning\(", ln)
    ]
    assert hashed, plan
    for ln, _ in hashed:
        assert re.search(r"Exchange hashpartitioning\(UserId#\d+L?, \d+\)", ln), ln
    # exactly one exchange carries the indicator values into the pivot
    values = [ln for ln, nxt in hashed if "AS Indicator" in nxt]
    assert len(values) == 1, plan
    for banned in ("rangepartitioning", "RoundRobinPartitioning", "InMemoryRelation"):
        assert banned not in plan, plan


def test_salted_join_rejects_outer_joins(spark):
    import pytest as _pytest

    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey")
    orders = read_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    for how in ("right", "full_outer", "outer", "full"):
        with _pytest.raises(ValueError):
            salted_join(li, orders, on=["l_orderkey"], how=how)


def test_approx_profile_sketch_agg_is_expand_free(spark):
    """The sketch agg must never mix exact distinct aggregates back in:
    a countDistinct alongside the tight-rsd HLLs forces an Expand that
    multiplies every sketch buffer by the distinct-group count (measured
    5x wall-clock at sf0.1). Exact references run as separate narrow
    jobs instead — the plan of the returned frame stays Expand-free."""
    import __spark_entry__ as e

    df = e.queries()["approx_profile"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_dim_indicator_qcut_plan_has_no_joins(spark):
    """The value-bin tercile variant assigns buckets via inlined literal
    CASE chains (driver-interpolated quantile edges) — zero joins in the
    plan, same exchange family as the count-based sibling. (The two
    variants now ship merged under the dim_indicator gate key; the
    value path is exercised directly here.)"""
    import re

    from dw_etl_spark.plans.star_schema import build_dim_indicator

    df = build_dim_indicator(spark, SF_SMOKE, qcut="value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Join|CartesianProduct", plan)


def test_two_phase_count_distinct_null_semantics(spark):
    """NULL values are not distinct values (countDistinct parity); keys
    whose values are all NULL still emit a 0 row."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", None), ("b", None)],
        "k string, v int",
    )
    got = {
        r["k"]: r["n_distinct"]
        for r in two_phase_count_distinct(df, ["k"], "v").collect()
    }
    want = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == want == {"a": 1, "b": 0}


def test_contamination_plan_is_equi_join_not_all_pairs(spark):
    """The decontamination pass must plan as an inverted-index equi-join
    on the gram — no CartesianProduct and no doc x doc nested loop."""
    from dw_etl_spark.operators.text_dedup import contamination_flags
    from dw_etl_spark.sources.files import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    flags = contamination_flags(
        docs, docs.filter("doc_id % 17 = 0"), "text", "doc_id", n=3
    )
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------- bloom prefilter dedup

def test_bloom_prefilter_exact_equals_naive_anti_join(spark):
    from dw_etl_spark.operators.scale import bloom_prefilter_anti_join

    seen = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 100000).alias("fp")
    )
    new = spark.range(0, 3000).select(
        (F.col("id") * 104729 % 100000).alias("fp"), F.col("id").alias("doc")
    )
    naive = {
        (r["fp"], r["doc"])
        for r in new.join(seen.distinct(), "fp", "left_anti").collect()
    }
    # tiny filter (4 KiB) => plenty of false positives; exact mode must
    # still match the naive join row-for-row.
    got = {
        (r["fp"], r["doc"])
        for r in bloom_prefilter_anti_join(
            new, seen, "fp", num_bits=1 << 15, num_hashes=3
        ).collect()
    }
    assert got == naive


def test_bloom_prefilter_approximate_never_keeps_seen_rows(spark):
    from dw_etl_spark.operators.scale import bloom_prefilter_anti_join

    seen = spark.range(0, 2000).select((F.col("id") * 31 % 60000).alias("fp"))
    new = spark.range(0, 2000).select((F.col("id") * 37 % 60000).alias("fp"))
    seen_keys = {r["fp"] for r in seen.collect()}
    naive_new = {r["fp"] for r in new.join(seen, "fp", "left_anti").collect()}
    kept = {
        r["fp"]
        for r in bloom_prefilter_anti_join(
            new, seen, "fp", num_bits=1 << 18, exact=False
        ).collect()
    }
    # no false negatives: every kept row is genuinely new...
    assert kept.isdisjoint(seen_keys)
    assert kept <= naive_new
    # ...and at a sane filter size the loss is small, not wholesale.
    assert len(kept) >= 0.9 * len(naive_new)


def test_bloom_prefilter_shrinks_the_join_input(spark):
    from dw_etl_spark.operators.scale import build_bloom, bloom_prefilter_anti_join

    # mostly-new batch: only ~1/10 of batch keys were seen before
    seen = spark.range(0, 1000).select(F.col("id").alias("fp"))
    new = spark.range(0, 10000).select(F.col("id").alias("fp"))
    out = bloom_prefilter_anti_join(new, seen, "fp", num_bits=1 << 18)
    assert out.count() == 9000
    # the exact-verification join input is candidates only: with a
    # well-sized filter that is ~|true dups|, far below |batch|
    bloom = build_bloom(seen, "fp", 1 << 18)
    assert len(bloom) == (1 << 18) // 8


# ------------------------------------------------------- z-order clustering

def test_zorder_gives_locality_on_every_dimension(spark):
    from dw_etl_spark.operators.scale import zorder_by

    # 64x64 uniform grid: a 1-d sort by x leaves y spanning the full
    # range in every partition; z-order must shrink BOTH spans.
    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def mean_spans(df, parts):
        spans = (
            df.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
            .collect()[0]
        )
        return spans["ax"], spans["ay"]

    z = zorder_by(grid, ["x", "y"], num_partitions=16)
    zx, zy = mean_spans(z, 16)
    lex = grid.repartitionByRange(16, "x").sortWithinPartitions("x")
    lx, ly = mean_spans(lex, 16)
    # lexicographic: x tight but y spans ~everything
    assert lx < 16 and ly > 48
    # z-order: both dimensions tight (16 partitions of a 64x64 grid =>
    # ideal 16x16 tiles; allow generous slack over the ideal span 15)
    assert zx < 32 and zy < 32


def test_zorder_preserves_rows_and_handles_nulls(spark):
    from dw_etl_spark.operators.scale import zorder_by

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 0.5), (4, None), (5, 99.0)], ["k", "v"]
    )
    out = zorder_by(df, ["k", "v"], num_partitions=2)
    assert sorted((r["k"], r["v"]) for r in out.collect()) == sorted(
        (r["k"], r["v"]) for r in df.collect()
    )


def test_zorder_key_rejects_overflow(spark):
    import pytest as _pytest

    from dw_etl_spark.operators.scale import zorder_by

    df = spark.range(4).select(*[(F.col("id") + i).alias(f"c{i}") for i in range(6)])
    with _pytest.raises(ValueError, match="63"):
        zorder_by(df, [f"c{i}" for i in range(6)], bits=12).collect()


def test_rebalance_for_write_plans_rebalance_and_preserves_rows(spark, tmp_path):
    from dw_etl_spark.operators.scale import rebalance_for_write

    df = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    )
    out = rebalance_for_write(df, ["k"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Rebalance" in plan.replace("RebalancePartitions", "Rebalance")
    path = str(tmp_path / "rb")
    out.write.mode("overwrite").partitionBy("k").parquet(path)
    assert spark.read.parquet(path).count() == 10000


def test_zorder_key_is_injective_on_bucket_pairs(spark):
    from dw_etl_spark.operators.scale import zorder_key

    # every (a, b) bucket pair in an 8-bit space maps to a distinct key
    df = spark.range(0, 1 << 10).select(
        (F.col("id") % 32).alias("a"), (F.col("id") / 32).cast("long").alias("b")
    )
    keys = df.select(
        zorder_key([F.col("a"), F.col("b")], bits=5).alias("z")
    )
    assert keys.distinct().count() == 1 << 10


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from dw_etl_spark.operators.scale import compact_parquet

    path = str(tmp_path / "tbl")
    # simulate 20 tiny incremental appends
    for i in range(20):
        spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(path)
    before, after = compact_parquet(spark, path)
    assert before >= 20 and after < before
    assert spark.read.parquet(path).count() == 2000
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == list(range(2000))


def test_file_zone_map_matches_duckdb_per_file_stats(spark, tmp_path):
    """Zone-map rows equal DuckDB's per-file min/max/null/row stats
    over the very same multi-file dataset."""
    import duckdb

    from dw_etl_spark.operators.scale import file_zone_map
    from tests.conftest import assert_matches_oracle

    out = str(tmp_path / "orders_files")
    read_table(spark, SF_SMOKE, "orders").repartition(4).write.parquet(out)

    zm = file_zone_map(spark.read.parquet(out), ["o_totalprice", "o_orderdate"]).select(
        "file", "n_rows",
        "o_totalprice_min", "o_totalprice_max", "o_totalprice_nulls",
        "o_orderdate_min", "o_orderdate_max", "o_orderdate_nulls",
    )
    con = duckdb.connect()
    assert_matches_oracle(zm, con, f"""
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(o_totalprice) AS o_totalprice_min,
               max(o_totalprice) AS o_totalprice_max,
               CAST(count(*) FILTER (o_totalprice IS NULL) AS BIGINT)
                 AS o_totalprice_nulls,
               min(o_orderdate) AS o_orderdate_min,
               max(o_orderdate) AS o_orderdate_max,
               CAST(count(*) FILTER (o_orderdate IS NULL) AS BIGINT)
                 AS o_orderdate_nulls
        FROM read_parquet('{out}/*.parquet', filename=true)
        GROUP BY 1
    """)
    con.close()


def test_read_pruned_equals_naive_filter_and_skips_files(spark, tmp_path):
    """File-skipping read returns exactly the naive filter's rows while
    opening only the files whose range overlaps the predicate (the
    dataset is range-partitioned on the column, so most files miss)."""
    from dw_etl_spark.operators.scale import read_pruned

    out = str(tmp_path / "orders_ranged")
    (
        read_table(spark, SF_SMOKE, "orders")
        .repartitionByRange(8, "o_totalprice")
        .write.parquet(out)
    )
    lo, hi = 1000.0, 2000.0
    pruned = read_pruned(spark, out, "o_totalprice", lo, hi)
    naive = spark.read.parquet(out).filter(F.col("o_totalprice").between(lo, hi))

    assert sorted(pruned.inputFiles()) != sorted(
        spark.read.parquet(out).inputFiles()
    ), "expected at least one file skipped on a range-clustered layout"
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(map(key, pruned.collect())) == sorted(map(key, naive.collect()))

    # disjoint predicate: zero files open, schema preserved, zero rows
    empty = read_pruned(spark, out, "o_totalprice", -2.0, -1.0)
    assert empty.count() == 0
    assert empty.schema == naive.schema


def test_read_pruned_via_table_matches_read_pruned(spark, tmp_path):
    """The persisted-zone-map semi-join path must return exactly the
    rows of read_pruned (and of the naive filter) — including the
    zero-survivor predicate — without collecting any path list."""
    from dw_etl_spark.operators.scale import (
        read_pruned,
        read_pruned_via_table,
        save_zone_map,
    )

    out = str(tmp_path / "orders_ranged")
    (
        read_table(spark, SF_SMOKE, "orders")
        .repartitionByRange(8, "o_totalprice")
        .write.parquet(out)
    )
    spark.sql("DROP TABLE IF EXISTS zm_orders_test")
    save_zone_map(spark.read.parquet(out), ["o_totalprice"], "zm_orders_test")
    try:
        lo, hi = 1000.0, 2000.0
        via = read_pruned_via_table(
            spark, out, "o_totalprice", lo, hi, "zm_orders_test"
        )
        direct = read_pruned(spark, out, "o_totalprice", lo, hi)
        key = lambda r: tuple(str(v) for v in r)
        assert sorted(map(key, via.collect())) == sorted(
            map(key, direct.collect())
        )
        assert via.schema == spark.read.parquet(out).schema

        empty = read_pruned_via_table(
            spark, out, "o_totalprice", -2.0, -1.0, "zm_orders_test"
        )
        assert empty.count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS zm_orders_test")


def test_plan_summary_counts_known_shapes(spark):
    """plan_summary's counters agree with the invariants the suite
    already pins by string-grep: the star fact build is broadcast-only
    with pushed filters, and a filtered parquet scan pushes down."""
    from dw_etl_spark.plans.audit import plan_summary
    from dw_etl_spark.plans.star_schema import build_fact

    s = plan_summary(build_fact(spark, SF_SMOKE), finalize=True)
    assert s["joins"].get("BroadcastHashJoin", 0) >= 3
    assert "SortMergeJoin" not in s["joins"]
    assert "CartesianProduct" not in s["joins"]
    assert s["broadcasts"] >= 3
    assert s["scans"] >= 4
    assert s["wholestage_spans"] >= 1

    filt = read_table(spark, SF_SMOKE, "part").filter(
        F.col("p_retailprice") > 1500
    ).select("p_partkey")
    sf = plan_summary(filt)
    assert sf["pushed_filters"] == 1
    assert sf["wholestage_spans"] == 1
    assert sf["exchanges"] == 0 and sf["joins"] == {}


def test_plan_summary_sees_bucketed_scans(spark, tmp_path):
    from dw_etl_spark.operators.scale import write_bucketed
    from dw_etl_spark.plans.audit import plan_summary

    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "ps_li", ["l_orderkey"], n_buckets=4)
    write_bucketed(orders, "ps_o", ["o_orderkey"], n_buckets=4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("ps_li").join(
            spark.table("ps_o"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        s = plan_summary(j)
        assert s["bucketed_scans"] == 2
        assert s["exchanges"] == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS ps_li")
        spark.sql("DROP TABLE IF EXISTS ps_o")


def test_no_gate_query_plans_a_cartesian_product(spark, tmp_path):
    """Global guard: none of the 50 declared gate queries may plan a
    CartesianProduct, and any BroadcastNestedLoopJoin must be one of
    the documented tiny-build-side cases (PLANS.md invariant table).
    Plan-only — no query is executed."""
    import __spark_entry__ as e
    from dw_etl_spark.plans.audit import plan_summary

    allowed_bnlj = {
        # documented: build side tiny by construction
        "range_join", "fuzzy_top1_join", "profile_metrics",
        "cosine_topk", "ivf_topk", "lsh_topk", "dedup_clusters",
        "embedding_dup_pairs", "text_features", "approx_profile",
        "corpus_pipeline", "contamination", "media_stats",
        "quality_filters", "repetition_stats", "shard_packing",
        "describe_stats", "token_freq",
        # r7: dedup_eval rode-along crossJoins three 1-row count aggs
        "minhash_lsh_pairs",
    }
    for name, fn in e.queries().items():
        if name in {"warehouse_roundtrip", "jdbc_roundtrip", "csv_roundtrip",
                    "rest_indicators", "dbf_scan", "scd2_apply",
                    "media_decode"}:
            continue  # side-effecting builders (write/DDL/tempdirs)
        s = plan_summary(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in s["joins"], (name, s)
        if "BroadcastNestedLoopJoin" in s["joins"]:
            assert name in allowed_bnlj, (name, s["joins"])


def test_r9_operator_plan_shapes(spark):
    """Plan audits for the round-9 families, pinned via plan_summary:
    (a) cross_doc_repeats never goes cartesian — the pair stage is an
    equi-join on the seed fingerprint; (b) chunk_dup_stats is
    join-free (window over the chunk hash) and never cartesian;
    (c) bin_pack_sequences joins the assignment back broadcast- or
    hash-keyed, never nested-loop; (d) the fused ParquetWarehouse FK
    validation rides BroadcastHashJoins."""
    from pyspark.sql import functions as F

    from dw_etl_spark.operators.cdc import chunk_dup_stats
    from dw_etl_spark.operators.exact_substr import cross_doc_repeats
    from dw_etl_spark.operators.packing import bin_pack_sequences
    from dw_etl_spark.functions.text import token_count
    from dw_etl_spark.plans.audit import plan_summary
    from dw_etl_spark.sources.files import read_table

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")

    bad = ("CartesianProduct", "BroadcastNestedLoopJoin")
    xd = plan_summary(
        cross_doc_repeats(docs.limit(40), "text", "doc_id", min_len=30),
        finalize=True,
    )
    assert not any(j in xd["joins"] for j in bad), xd["joins"]

    cd = plan_summary(
        chunk_dup_stats(docs.limit(40), "text"), finalize=True
    )
    assert not any(j in cd["joins"] for j in bad), cd["joins"]

    packed = bin_pack_sequences(
        docs.withColumn("n_tok", token_count("text")),
        "n_tok",
        "doc_id",
        2048,
        num_groups=4,
    )
    bp = plan_summary(packed, finalize=True)
    assert not any(j in bp["joins"] for j in bad), bp["joins"]
