"""Unit tests for the operator library (SURVEY.md §2 semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dw_etl_spark.functions.scalar import (
    clean_whitespace,
    decade,
    domain_whitelist,
    map_lookup,
    strict_cast,
)
from dw_etl_spark.operators.bins import bin_numeric
from dw_etl_spark.operators.dedup import dedup_keep_first
from dw_etl_spark.operators.interpolate import interpolate_by_group, seed_group_head
from dw_etl_spark.operators.joins import fuzzy_top1_join, resolve_surrogate_key
from dw_etl_spark.operators.keys import add_sequential_id, add_unique_id
from dw_etl_spark.operators.pivot import pivot_wide
from dw_etl_spark.operators.qcut import _exact_ntile, ntile_buckets, qcut_by_group
from dw_etl_spark.sources.files import SchemaValidationError, validate_required_columns


# ------------------------------------------------------------- scan spreading

def test_spread_small_scan_parallelism_floor(spark):
    """r14 optimization pin (guide §2.2/§2.5): a bench-scale table is a
    single sub-4MB parquet file = ONE scan split, so every narrow map
    stage on it runs single-task. read_table must spread such scans to
    the session's default parallelism; sub-100KB broadcast-tier tables
    and at-scale tables (splits >= cores) must pass through untouched."""
    from tests.conftest import SF_SMOKE
    from dw_etl_spark.sources.files import (
        _estimated_scan_splits,
        read_table,
    )

    par = spark.sparkContext.defaultParallelism
    # 117 KB lineitem: above the floor, one split -> spread to par
    li = read_table(spark, SF_SMOKE, "lineitem")
    assert li.rdd.getNumPartitions() == par
    # 2.7 KB nation: broadcast-tier, left alone (single scan split)
    nation = read_table(spark, SF_SMOKE, "nation")
    assert nation.rdd.getNumPartitions() == 1
    # at-scale shapes never trigger: many big files split past cores
    assert _estimated_scan_splits([256 * 1024**2] * 64, par) >= par
    # one huge splittable file splits by itself too
    assert _estimated_scan_splits([64 * 1024**3], par) >= par


# ------------------------------------------------------ events timestamp reads

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_read_of_micros_file_leaves_session_conf(spark):
    """The µs fixture needs no ``nanosAsLong``: neither the batch nor
    the stream reader of ``events`` may change the session-wide conf."""
    from tests.conftest import SF_SMOKE
    from dw_etl_spark.sources.files import read_table
    from dw_etl_spark.streaming import read_events_stream

    prior = spark.conf.get(_NANOS_AS_LONG)
    spark.conf.set(_NANOS_AS_LONG, "false")
    try:
        ev = read_table(spark, SF_SMOKE, "events")
        read_events_stream(spark, SF_SMOKE)
        assert spark.conf.get(_NANOS_AS_LONG) == "false"
        assert ev.schema["ts"].dataType == T.TimestampType()
        assert ev.count() > 0
    finally:
        spark.conf.set(_NANOS_AS_LONG, prior)


def test_events_read_of_nanos_file(spark, tmp_path):
    """An events file whose footer stores INT64 nanosecond timestamps
    reads through ``read_table`` (and the stream reader's schema) as
    session TIMESTAMP, truncated to the microsecond."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dw_etl_spark.sources.files import read_table
    from dw_etl_spark.streaming import read_events_stream

    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 86_400_000_000_001]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
    )
    prior = spark.conf.get(_NANOS_AS_LONG)
    spark.conf.set(_NANOS_AS_LONG, "false")
    try:
        ev = read_table(spark, str(tmp_path), "events")
        assert spark.conf.get(_NANOS_AS_LONG) == "true"
        assert ev.schema["ts"].dataType == T.TimestampType()
        got = ev.select("event_id", F.unix_micros("ts")).collect()
        assert sorted(tuple(r) for r in got) == [
            (i + 1, n // 1000) for i, n in enumerate(nanos)
        ]
        stream = read_events_stream(spark, str(tmp_path))
        assert stream.schema["ts"].dataType == T.TimestampType()
    finally:
        spark.conf.set(_NANOS_AS_LONG, prior)


# ---------------------------------------------------------------- scalar fns

def test_decade(spark):
    df = spark.createDataFrame([(1995,), (2000,), (1909,)], ["y"])
    got = [r[0] for r in df.select(decade("y")).collect()]
    assert got == [1990, 2000, 1900]


def test_map_lookup_null_on_miss(spark):
    df = spark.createDataFrame([(1,), (4,), (9,)], ["s"])
    got = [r[0] for r in df.select(map_lookup("s", {1: "Winter", 4: "Autumn"})).collect()]
    assert got == ["Winter", "Autumn", None]


def test_domain_whitelist(spark):
    df = spark.createDataFrame([("M",), ("F",), ("X",), (None,)], ["g"])
    got = [r[0] for r in df.select(domain_whitelist("g", ["M", "F"], "UNKNOWN")).collect()]
    assert got == ["M", "F", "UNKNOWN", "UNKNOWN"]


def test_clean_whitespace(spark):
    df = spark.createDataFrame([("a\r\nb   c\n",)], ["s"])
    assert df.select(clean_whitespace("s")).first()[0] == "a b c"


def test_strict_cast_ok_and_raises(spark):
    ok = spark.createDataFrame([("1",), ("2",), (None,)], ["x"])
    got = [r[0] for r in strict_cast(ok, "x", "long").select("x").collect()]
    assert got == [1, 2, None]

    bad = spark.createDataFrame([("1",), ("oops",)], ["x"])
    with pytest.raises(Exception, match="strict_cast"):
        strict_cast(bad, "x", "long").collect()


# ---------------------------------------------------------------- bins

def test_bin_numeric_right_open_and_out_of_range(spark):
    df = spark.createDataFrame(
        [(0,), (17,), (18,), (29,), (100,), (None,)], ["age"]
    )
    col = bin_numeric("age", [0, 18, 30, 101], ["0-17", "18-29", "30-100"])
    got = [r[0] for r in df.select(col).collect()]
    assert got == ["0-17", "0-17", "18-29", "18-29", "30-100", None]
    # out of range -> null
    df2 = spark.createDataFrame([(-1,), (101,)], ["age"])
    assert [r[0] for r in df2.select(col).collect()] == [None, None]


# ---------------------------------------------------------------- dedup

def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 2, "second"), ("a", 1, "first"), ("b", 1, "only")],
        ["k", "ord", "v"],
    )
    got = {
        (r["k"], r["v"])
        for r in dedup_keep_first(df, ["k"], order_by=["ord"]).collect()
    }
    assert got == {("a", "first"), ("b", "only")}


# ---------------------------------------------------------------- keys

def test_add_sequential_id_contiguous(spark):
    df = spark.createDataFrame([(c,) for c in "dcba"], ["v"])
    got = add_sequential_id(df, order_by=["v"]).collect()
    assert [(r["Id"], r["v"]) for r in sorted(got, key=lambda r: r["Id"])] == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]


def test_add_sequential_id_grouped_equals_global(spark):
    """The per-group form (row numbers within ``g`` plus a broadcast
    per-group offset) gives the same Ids as one global window over
    ``(g, t)``: NULL groups and NULL order keys included (both sort
    first), more groups than partitions, AQE on. Ids are exactly 1..n
    and two evaluations agree."""
    rows = [(g, t) for g in range(40) for t in range(g % 5 + 1)]
    rows += [(g, None) for g in range(0, 40, 7)]
    rows += [(None, t) for t in (3, 1, 2)] + [(None, None)]
    df = spark.createDataFrame(rows, "g int, t int").repartition(3)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        grouped = add_sequential_id(df, ["t"], group_by=["g"])
        first = sorted(map(tuple, grouped.collect()))
        second = sorted(map(tuple, grouped.collect()))
        want = sorted(map(tuple, add_sequential_id(df, ["g", "t"]).collect()))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert [r[0] for r in first] == list(range(1, len(rows) + 1))
    assert first == second == want


def test_add_unique_id_single_data_exchange(spark):
    """r14 optimization pin: the id assignment must move the data
    through exactly ONE exchange (the range partitioner). The previous
    form re-shuffled the full snapshot a second time for a
    ``row_number`` window partitioned by __pid; the mid-bit form is a
    narrow projection on the pinned blocks. Broadcast exchanges (the
    per-partition offsets, ≤ num_partitions rows) are exempt."""
    df = spark.range(0, 5000).withColumn("v", F.col("id") * 13 % 4999).drop("id")
    plan = (
        add_unique_id(df, ["v"], num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the data still flows through the range partitioner...
    assert "rangepartitioning" in plan, plan
    # ...but never through the old second full-data shuffle (an
    # Exchange hash-partitioned on __pid feeding a row_number window).
    # The offsets side may aggregate/broadcast tiny per-partition rows;
    # the snapshot side must go straight from the cached blocks into
    # the broadcast join.
    assert "hashpartitioning(__pid" not in plan, plan
    assert "row_number" not in plan, plan


def test_add_unique_id_matches_sequential(spark):
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 7 % 1000).drop("id")
    seq = {(r["Id"], r["v"]) for r in add_sequential_id(df, ["v"]).collect()}
    uniq = {(r["Id"], r["v"]) for r in add_unique_id(df, ["v"]).collect()}
    assert seq == uniq


def test_add_unique_id_contiguous_and_monotone_with_ties(spark):
    """Regression for AQE-induced offset corruption: many partitions,
    heavily tied sort key. Ids must be exactly 1..n and the ordered key
    sequence non-decreasing — the broken variant produced gaps,
    duplicate ids, and inversions under AQE partition coalescing."""
    n = 20_000
    df = (
        spark.range(0, n)
        .withColumn("v", (F.col("id") * 37 % 50).cast("double"))  # 50 distinct → ties
        .drop("id")
        .repartition(16)
    )
    ids = add_unique_id(df, ["v"], num_partitions=16)
    agg = ids.agg(
        F.min("Id"), F.max("Id"), F.countDistinct("Id"), F.count(F.lit(1))
    ).first()
    assert tuple(agg) == (1, n, n, n)
    rows = ids.orderBy("Id").select("v").collect()
    seq = [r["v"] for r in rows]
    assert all(a <= b for a, b in zip(seq, seq[1:]))


# ---------------------------------------------------------------- joins

def test_resolve_surrogate_key_left_and_null(spark):
    fact = spark.createDataFrame([(1995, 1), (1995, 2), (1800, 1)], ["y", "q"])
    dim = spark.createDataFrame([(10, 1995, 1), (11, 1995, 2)], ["Id", "Year", "Quarter"])
    got = resolve_surrogate_key(
        fact, dim, on={"y": "Year", "q": "Quarter"}, as_name="DateId"
    )
    rows = {(r["y"], r["q"], r["DateId"]) for r in got.collect()}
    assert rows == {(1995, 1, 10), (1995, 2, 11), (1800, 1, None)}


def test_fuzzy_top1_exact_short_circuit_and_closest(spark):
    left = spark.createDataFrame([("INDIA",), ("INDA",), ("ZZZZZZ",)], ["name"])
    domain = spark.createDataFrame([("INDIA",), ("CHINA",), ("CANADA",)], ["country"])
    got = {
        (r["name"], r["matched"])
        for r in fuzzy_top1_join(left, "name", domain, "country").collect()
    }
    assert got == {("INDIA", "INDIA"), ("INDA", "INDIA"), ("ZZZZZZ", "CANADA")}


def test_fuzzy_top1_max_distance_null(spark):
    left = spark.createDataFrame([("QQQQQQQQ",)], ["name"])
    domain = spark.createDataFrame([("INDIA",)], ["country"])
    got = fuzzy_top1_join(
        left, "name", domain, "country", max_distance=2
    ).first()
    assert got["matched"] is None


# ---------------------------------------------------------------- pivot

def test_pivot_wide_mean(spark):
    df = spark.createDataFrame(
        [("u1", "a", 1.0), ("u1", "a", 3.0), ("u1", "b", 5.0), ("u2", "b", 7.0)],
        ["k", "ind", "v"],
    )
    got = pivot_wide(df, ["k"], "ind", "v", ["a", "b"]).collect()
    as_map = {r["k"]: (r["a"], r["b"]) for r in got}
    assert as_map == {"u1": (2.0, 5.0), "u2": (None, 7.0)}


def test_token_sort_levenshtein_order_insensitive(spark):
    from dw_etl_spark.operators.joins import token_sort_levenshtein

    df = spark.createDataFrame(
        [("South Korea", "Korea South"), ("South Korea", "North Korea")],
        ["a", "b"],
    )
    got = [r[0] for r in df.select(token_sort_levenshtein(F.col("a"), F.col("b"))).collect()]
    assert got[0] == 0       # pure word-order difference
    assert got[1] > 0        # genuinely different


def test_fuzzy_join_with_token_sort_score(spark):
    from dw_etl_spark.operators.joins import token_sort_levenshtein

    left = spark.createDataFrame([("Korea South",), ("Grmany",)], ["name"])
    domain = spark.createDataFrame([("South Korea",), ("Germany",), ("France",)], ["country"])
    got = {
        r["name"]: r["matched"]
        for r in fuzzy_top1_join(
            left, "name", domain, "country",
            score_expr=token_sort_levenshtein,
        ).collect()
    }
    assert got == {"Korea South": "South Korea", "Grmany": "Germany"}


def test_partial_levenshtein_substring_containment(spark):
    from dw_etl_spark.operators.joins import partial_levenshtein

    df = spark.createDataFrame(
        [
            ("Korea", "Republic of Korea"),       # exact containment → 0
            ("Korea", "Republic of Korfa"),       # 1 edit in best window
            ("abc", "xyz"),                       # disjoint → 100
        ],
        ["a", "b"],
    )
    got = [r[0] for r in df.select(partial_levenshtein(F.col("a"), F.col("b"))).collect()]
    assert got[0] == 0.0
    assert got[1] == pytest.approx(100.0 / 5)     # 1 edit over len 5
    assert got[2] == 100.0


def test_wratio_distance_ranks_dirty_countries(spark):
    from dw_etl_spark.operators.joins import wratio_distance

    # Substring noise ('Germany (Federal Rep.)'), word-order noise
    # ('Korea, South'), and typos — the mix WRatio exists for.
    left = spark.createDataFrame(
        [
            ("Germany (Federal Rep.)",),
            ("Korea South",),
            ("Untied States",),
            ("Republic of India",),
        ],
        ["name"],
    )
    domain = spark.createDataFrame(
        [("Germany",), ("South Korea",), ("United States",), ("India",),
         ("France",)],
        ["country"],
    )
    got = {
        r["name"]: r["matched"]
        for r in fuzzy_top1_join(
            left, "name", domain, "country", score_expr=wratio_distance
        ).collect()
    }
    assert got == {
        "Germany (Federal Rep.)": "Germany",
        "Korea South": "South Korea",
        "Untied States": "United States",
        "Republic of India": "India",
    }


def test_wratio_distance_bounds(spark):
    from dw_etl_spark.operators.joins import wratio_distance

    df = spark.createDataFrame(
        [("same", "same"), ("aaaa", "zzzz"), ("Korea", "Republic of Korea")],
        ["a", "b"],
    )
    got = [r[0] for r in df.select(wratio_distance(F.col("a"), F.col("b"))).collect()]
    assert got[0] == 0.0                      # identical → distance 0
    assert 0.0 <= got[1] <= 100.0
    # containment is heavily discounted, not free: 100 - 100*0.9 = 10
    assert got[2] == pytest.approx(10.0)


def test_describe_numeric_percentiles(spark):
    from dw_etl_spark.operators.profile import describe_numeric

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["x"])
    got = {
        (r["col_name"], r["metric"]): r["value"]
        for r in describe_numeric(df, ["x"], percentiles=(0.25, 0.5, 0.99)).collect()
    }
    assert got[("x", "count")] == 100.0
    assert got[("x", "mean")] == 50.5
    assert got[("x", "min")] == 1.0 and got[("x", "max")] == 100.0
    assert got[("x", "p50")] == 50.5       # interpolated median
    assert got[("x", "p25")] == 25.75
    assert abs(got[("x", "p99")] - 99.01) < 1e-9


# ---------------------------------------------------------------- interpolate

def test_seed_and_interpolate_matches_pandas(spark):
    import pandas as pd

    data = [
        ("g1", 1, None), ("g1", 2, 10.0), ("g1", 3, None), ("g1", 4, None),
        ("g1", 5, 40.0), ("g1", 6, None),
        ("g2", 1, None), ("g2", 2, None), ("g2", 3, 6.0),
    ]
    df = spark.createDataFrame(data, ["g", "t", "v"])
    seeded = seed_group_head(df, ["g"], ["t"], ["v"])
    got = interpolate_by_group(seeded, ["g"], "t", ["v"])
    got_map = {(r["g"], r["t"]): r["v"] for r in got.collect()}

    pdf = pd.DataFrame(data, columns=["g", "t", "v"]).sort_values(["g", "t"])
    head = pdf.groupby("g").head(1).index
    pdf.loc[head, "v"] = pdf.loc[head, "v"].fillna(0.0)
    pdf["v"] = pdf.groupby("g")["v"].transform(lambda s: s.interpolate())
    want_map = {
        (r.g, r.t): (None if pd.isna(r.v) else r.v) for r in pdf.itertuples()
    }
    assert got_map == want_map


# ---------------------------------------------------------------- qcut

def test_exact_ntile_formula_matches_spark_ntile(spark):
    for cnt in [1, 2, 3, 4, 5, 6, 7, 10, 11]:
        df = spark.range(1, cnt + 1).withColumn("g", F.lit(1))
        w = Window.partitionBy("g").orderBy("id")
        native = df.withColumn("t", F.ntile(3).over(w))
        formula = df.withColumn(
            "t2",
            _exact_ntile(
                F.row_number().over(w), F.count("id").over(Window.partitionBy("g")), 3
            ).cast("int"),
        )
        n = {r["id"]: r["t"] for r in native.collect()}
        f_ = {r["id"]: r["t2"] for r in formula.collect()}
        assert n == f_, f"cnt={cnt}: {n} vs {f_}"


def test_ntile_buckets_nulls_stay_null(spark):
    df = spark.createDataFrame(
        [(2024, 1, 1.0), (2024, 2, 2.0), (2024, 3, 3.0), (2024, 4, None)],
        ["year", "id", "v"],
    )
    got = ntile_buckets(df, ["year"], "v", tiebreak=[F.col("id")])
    m = {r["id"]: r["vBucket"] for r in got.collect()}
    assert m == {1: "Low", 2: "Medium", 3: "High", 4: None}

    # the list form buckets every column in one call, the same as one
    # call per column
    two = df.withColumn("w", F.when(F.col("id") != 2, -F.col("id")))
    both = ntile_buckets(
        two, ["year"], ["v", "w"], out_col=["vb", "wb"], tiebreak=[F.col("id")]
    )
    one_by_one = ntile_buckets(
        ntile_buckets(two, ["year"], "v", out_col="vb", tiebreak=[F.col("id")]),
        ["year"], "w", out_col="wb", tiebreak=[F.col("id")],
    )
    assert sorted(map(tuple, both.collect())) == sorted(
        map(tuple, one_by_one.collect())
    )
    assert {r["id"]: r["wb"] for r in both.collect()} == {
        1: "High", 2: None, 3: "Medium", 4: "Low"
    }


def test_qcut_by_group_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "g": np.repeat(["a", "b", "c"], 50),
            "id": np.arange(150),
            "v": rng.normal(size=150).round(3),
        }
    )
    pdf.loc[pdf.index % 10 == 0, "v"] = np.nan
    # group c: constant values -> qcut edge-collapse path
    pdf.loc[pdf.g == "c", "v"] = 1.0

    rows = [
        (str(g), int(i), None if pd.isna(v) else float(v))
        for g, i, v in zip(pdf.g, pdf.id, pdf.v)
    ]
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    got = qcut_by_group(df, ["g"], "v", out_col="b")
    got_m = {(r["g"], r["id"]): r["b"] for r in got.collect()}

    def pandas_bucket(s):
        binned, edges = pd.qcut(s, 3, retbins=True, duplicates="drop", labels=None)
        n_bins = len(edges) - 1
        if n_bins <= 0:
            return pd.Series([None] * len(s), index=s.index, dtype=object)
        lbs = (
            ["Low", "Medium", "High"][:n_bins]
            if n_bins >= 3
            else (["Low", "High"] if n_bins == 2 else ["Low"])
        )
        return binned.cat.rename_categories(lbs).astype(object).where(s.notna(), None)

    want = pdf.groupby("g", group_keys=False)["v"].apply(pandas_bucket)
    want_m = {
        (pdf.loc[i, "g"], pdf.loc[i, "id"]): (None if v is None else str(v))
        for i, v in want.items()
    }
    assert got_m == want_m


# ---------------------------------------------------------------- sources

def test_validate_required_columns(spark):
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    validate_required_columns(df, ["a", "b"])
    with pytest.raises(SchemaValidationError, match="missing"):
        validate_required_columns(df, ["a", "zzz"])


# ---- token-set fuzzy scoring parity (reference transform.py:45-59) ---------

def _ref_token_set_ratio(s1: str, s2: str) -> float:
    """fuzzywuzzy token_set_ratio reference: rapidfuzz when installed,
    else the textbook difflib formulation (what fuzzywuzzy itself wraps)."""
    try:
        from rapidfuzz.fuzz import token_set_ratio

        return float(token_set_ratio(s1, s2))
    except ImportError:
        from difflib import SequenceMatcher

        t1, t2 = set(s1.lower().split()), set(s2.lower().split())
        inter = " ".join(sorted(t1 & t2))
        c1 = (inter + " " + " ".join(sorted(t1 - t2))).strip()
        c2 = (inter + " " + " ".join(sorted(t2 - t1))).strip()
        r = lambda a, b: SequenceMatcher(None, a, b).ratio() * 100
        return max(r(inter, c1), r(inter, c2), r(c1, c2))


_FUZZY_DOMAIN = [
    "South Korea", "North Korea", "United States", "Germany", "France",
    "Poland", "Czech Republic", "Dominican Republic", "United Kingdom",
    "Ireland",
]
_FUZZY_DIRTY = [
    "korea, south",                      # word order + punctuation-ish
    "the united states",                 # extra token (subset match)
    "germny",                            # typo
    "republic czech",                    # word order
    "united kingdom of great britain",   # long superset
    "poland",                            # exact (case)
    "dominican rep.",                    # truncated token
    "FRANCE",                            # case only
]


def test_token_set_distance_top1_matches_fuzzywuzzy_reference(spark):
    from dw_etl_spark.operators.joins import fuzzy_top1_join, token_set_distance

    left = spark.createDataFrame([(d,) for d in _FUZZY_DIRTY], ["dirty"])
    domain = spark.createDataFrame([(d,) for d in _FUZZY_DOMAIN], ["name"])
    got = {
        r["dirty"]: r["matched"]
        for r in fuzzy_top1_join(
            left, "dirty", domain, "name",
            score_expr=token_set_distance,
        ).collect()
    }
    want = {}
    for d in _FUZZY_DIRTY:
        # best ratio, ties broken by domain value ascending (the same
        # tiebreak fuzzy_top1_join applies)
        best = max(
            sorted(_FUZZY_DOMAIN),
            key=lambda c: (_ref_token_set_ratio(d, c),),
        )
        # max() keeps the FIRST maximum of the sorted domain = lexical tiebreak
        want[d] = best
    assert got == want


def test_bracketed_exact_percentiles_match_percentile_agg(spark):
    from pyspark.sql import functions as F

    from dw_etl_spark.operators.profile import bracketed_exact_percentiles
    from dw_etl_spark.sources.files import read_table
    from tests.conftest import SF_SMOKE

    li = read_table(spark, SF_SMOKE, "lineitem")
    ps = [0.01, 0.25, 0.5, 0.75, 0.99]
    got = bracketed_exact_percentiles(li, ["l_extendedprice", "l_quantity"], ps)
    want = li.agg(
        F.expr(f"percentile(l_extendedprice, array({','.join(map(str, ps))}))").alias("a"),
        F.expr(f"percentile(l_quantity, array({','.join(map(str, ps))}))").alias("b"),
    ).first()
    assert got["l_extendedprice"] == list(want["a"])
    assert got["l_quantity"] == list(want["b"])


def test_bracketed_exact_percentiles_edge_cases(spark):
    from dw_etl_spark.operators.profile import bracketed_exact_percentiles

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (None, None)], "x double, y double"
    )
    got = bracketed_exact_percentiles(df, ["x", "y"], [0.5])
    assert got["x"] == [1.5]
    assert got["y"] == [None]


def test_qcut_expr_equals_pandas_variant(spark):
    """The JVM-expression qcut must agree with the applyInPandas (and
    hence pandas) variant row-for-row, including the duplicate-edge
    label collapse (qty_clamped ties at the 1/3 edge) and NaN rows."""
    from pyspark.sql import functions as F

    from dw_etl_spark.operators.qcut import qcut_by_group, qcut_by_group_expr
    from dw_etl_spark.sources.files import read_table
    from tests.conftest import SF_SMOKE

    li = read_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_quantity").cast("double").alias("qty"),
        F.greatest(F.col("l_quantity").cast("double"), F.lit(20.0)).alias("qc"),
        F.when(F.col("l_linenumber") == 1, None)
         .otherwise(F.col("l_extendedprice")).alias("px"),
    )
    cols = dict(value_col=["qty", "qc", "px"], out_col=["b1", "b2", "b3"])
    key = ["l_orderkey", "l_linenumber", "qty"]
    a = qcut_by_group(li, ["l_returnflag"], n=3, **cols)
    b = qcut_by_group_expr(li, ["l_returnflag"], n=3, **cols)
    rows_a = sorted(map(tuple, a.select(*key, "b1", "b2", "b3").collect()))
    rows_b = sorted(map(tuple, b.select(*key, "b1", "b2", "b3").collect()))
    assert rows_a == rows_b


def test_qcut_tie_rank_ulp_divergence_documented(spark):
    """On [1,1,2,2] the 2/3-quantile rank is exactly integral: exact
    arithmetic (DuckDB quantile_cont, the correctness gate, and the JVM
    qcut variant) yields edge 2.0 and collapses to ONE bin, while
    pandas' np.percentile(q*100) path computes the edge 1-2 ulp below
    2.0 and keeps TWO bins. Both behaviors are intentional: the expr
    variant matches the gate, the applyInPandas variant matches the
    reference's pandas. This test pins the divergence so a change to
    either side is caught."""
    from dw_etl_spark.operators.qcut import qcut_by_group, qcut_by_group_expr

    df = spark.createDataFrame(
        [("g", 1.0, 0), ("g", 1.0, 1), ("g", 2.0, 2), ("g", 2.0, 3)],
        "g string, v double, rid int",
    )
    expr = {r["rid"]: r["b"] for r in qcut_by_group_expr(df, ["g"], "v", n=3, out_col="b").collect()}
    pnd = {r["rid"]: r["b"] for r in qcut_by_group(df, ["g"], "v", n=3, out_col="b").collect()}
    assert expr == {0: "Low", 1: "Low", 2: "Low", 3: "Low"}
    assert pnd == {0: "Low", 1: "Low", 2: "High", 3: "High"}


def test_qcut_expr_group_keys_exact_past_double_precision(spark):
    """Nullable 64-bit group keys above 2^53 must stay exact through
    the driver-side histogram (toPandas renders nullable bigint as
    float64, which collides adjacent keys; the Int64 round-trip keeps
    them distinct)."""
    from dw_etl_spark.operators.qcut import qcut_by_group_expr

    k1, k2 = (1 << 53) + 1, (1 << 53) + 2  # indistinguishable as float64
    rows = (
        [(k1, i, float(i)) for i in range(6)]
        + [(k2, i, float(100 + 10 * i)) for i in range(6)]
        + [(None, i, float(i)) for i in range(3)]  # null group key
    )
    df = spark.createDataFrame(rows, "g bigint, rid int, v double")
    out = qcut_by_group_expr(df, ["g"], "v", n=3, out_col="b").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["g"], set()).add((r["rid"], r["b"]))
    # both >2^53 groups present and independently bucketed Low/Med/High
    assert set(by_group) == {k1, k2, None}
    for g in (k1, k2):
        labels = {b for _, b in by_group[g]}
        assert labels == {"Low", "Medium", "High"}, (g, labels)


def test_qcut_expr_sql_literals_respect_legacy_parser_mode(spark):
    """r11 (ADVICE): with ``spark.sql.parser.escapedStringLiterals=true``
    a backslash in a SQL string literal is a LITERAL character and
    ``''`` is not a quote escape — the assembled-CASE fast path must
    render group keys/labels mode-correctly (raw string in the unused
    quote style) instead of silently producing different values. Keys
    exercising quotes and backslashes must bucket identically in both
    parser modes."""
    from dw_etl_spark.operators.qcut import (
        _SqlLiteralUnsupported,
        _sql_literal,
        qcut_by_group_expr,
    )

    rows = []
    for g in ("it's", 'dq"x', "a\\b", "plain"):
        rows += [(g, i, float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "g string, rid int, v double")
    want = {
        (r["g"], r["rid"]): r["b"]
        for r in qcut_by_group_expr(df, ["g"], "v", n=3, out_col="b").collect()
    }
    assert {want[(g, 0)] for g, _ in want.keys()} == {"Low"}
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        got = {
            (r["g"], r["rid"]): r["b"]
            for r in qcut_by_group_expr(
                df, ["g"], "v", n=3, out_col="b"
            ).collect()
        }
        # a string holding BOTH quote chars is unrenderable in legacy
        # mode — must raise (the operator then takes the Column chain)
        import pytest

        with pytest.raises(_SqlLiteralUnsupported):
            _sql_literal("a'b\"c", legacy_escapes=True)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    assert got == want


def test_qcut_expr_plan_stays_bounded_at_high_group_count(spark):
    """The literal-CASE fast path inlines one when() branch per group —
    a plan-size bomb at high group cardinality (same failure class as
    plan-literal IVF centroids). Above ``max_literal_groups`` the
    operator must route to the broadcast-join fallback, so the
    optimized-plan string stays bounded as groups go 10→5,000."""
    from dw_etl_spark.operators.qcut import qcut_by_group_expr
    from dw_etl_spark.plans.audit import logical_plan_size

    plans = {}
    for n_groups in (10, 5000):
        df = spark.range(n_groups * 4).select(
            (F.col("id") % n_groups).alias("g"),
            (F.col("id") * 7 % 101).cast("double").alias("v"),
        )
        out = qcut_by_group_expr(df, ["g"], "v", n=3, out_col="b")
        plans[n_groups] = logical_plan_size(out)
    # 500x the groups must NOT mean ~500x the plan: the fallback's plan
    # is O(1) in group count (one percentile agg + one broadcast join)
    assert plans[5000] < plans[10] * 5, plans
    assert plans[5000] < 100_000, plans


def test_qcut_fit_gate_bails_before_collecting_histogram(spark):
    """r15 (guide §5): the group-cardinality gate rides the fit's cap
    job, so an over-``max_groups`` input returns None from the edge fit
    — the histogram is never drained to the driver — while an
    in-bounds input still yields the edge map. The gate is a routing
    threshold only: both routes are result-identical (see the
    fast/fallback agreement test below)."""
    from dw_etl_spark.operators.qcut import _group_quantile_edges

    df = spark.range(400).select(
        (F.col("id") % 50).alias("g"),
        (F.col("id") * 13 % 97).cast("double").alias("v"),
    )
    assert _group_quantile_edges(df, ["g"], ["v"], 3, max_groups=8) is None
    edges = _group_quantile_edges(df, ["g"], ["v"], 3, max_groups=1024)
    assert edges is not None and len(edges) == 50


def test_qcut_expr_fast_and_fallback_paths_agree(spark):
    """Both edge paths use exact-rank arithmetic, so forcing the
    fallback (max_literal_groups=0) must reproduce the fast path
    row-for-row on a many-group input — routing is invisible."""
    from dw_etl_spark.operators.qcut import qcut_by_group_expr

    df = spark.range(600).select(
        (F.col("id") % 37).alias("g"),
        F.col("id").alias("rid"),
        # vary distribution per group; leave some NULLs in
        F.when(F.col("id") % 11 != 0, (F.col("id") * 13 % 97).cast("double"))
        .alias("v"),
    )
    fast = {
        (r["g"], r["rid"]): r["b"]
        for r in qcut_by_group_expr(df, ["g"], "v", n=3, out_col="b").collect()
    }
    slow = {
        (r["g"], r["rid"]): r["b"]
        for r in qcut_by_group_expr(
            df, ["g"], "v", n=3, out_col="b", max_literal_groups=0
        ).collect()
    }
    assert fast == slow


def test_fuzzy_top1_join_guards_high_cardinality_left(spark):
    """SURVEY §4.4 guardrail: a free-text left column over the distinct
    cap refuses to build the crossJoin grid; raising the cap (or
    passing None) opts in deliberately."""
    import pytest

    from dw_etl_spark.operators.joins import fuzzy_top1_join

    left = spark.range(50).select(
        F.concat(F.lit("free text "), F.col("id").cast("string")).alias("t")
    )
    domain = spark.createDataFrame([("alpha",), ("beta",)], ["name"])
    with pytest.raises(ValueError, match="max_left_distinct"):
        fuzzy_top1_join(left, "t", domain, "name", max_left_distinct=10)
    # explicit opt-in still works
    out = fuzzy_top1_join(left, "t", domain, "name", max_left_distinct=None)
    assert out.count() == 50


# ---------------------------------------------------------------------------
# SCD1 upsert, expectations, winsorize/standardize (round 5)
# ---------------------------------------------------------------------------


def test_scd1_apply_upserts_and_is_idempotent(spark):
    from dw_etl_spark.operators.scd import scd1_apply

    dim = spark.createDataFrame(
        [("PL", 100.0, 1), ("DE", 200.0, 2), ("FR", 300.0, 3)],
        ["country", "gdp", "dim_id"],
    )
    updates = spark.createDataFrame(
        [("PL", 150.0), ("ES", 50.0), ("ES", 51.0)], ["country", "gdp"]
    )
    out = scd1_apply(dim, updates, key=["country"], attrs=["gdp"])
    got = {r["country"]: (r["gdp"], r["dim_id"]) for r in out.collect()}
    assert got["PL"] == (150.0, 1)      # updated, id preserved
    assert got["DE"] == (200.0, 2)      # untouched
    assert got["FR"] == (300.0, 3)
    assert got["ES"][0] in (50.0, 51.0) and got["ES"][1] is None  # insert
    assert len(got) == 4

    # replay idempotence: applying the same batch again changes nothing
    again = scd1_apply(out, updates, key=["country"], attrs=["gdp"])
    key = lambda r: (r["country"], r["gdp"], r["dim_id"])
    first = sorted(map(key, out.collect()))
    second = sorted(map(key, again.collect()))
    # ES id stays NULL both times; the deterministic dedup keeps the
    # same ES row, so the state is stable
    assert first == second


def test_expect_counts_match_duckdb(spark):
    from dw_etl_spark.sources.files import read_table
    from tests.conftest import SF_SMOKE

    from dw_etl_spark.operators.expectations import expect
    from tests.conftest import assert_matches_oracle, duckdb_conn

    orders = read_table(spark, SF_SMOKE, "orders")
    rep = expect(orders, {
        "price_positive": F.col("o_totalprice") > 0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_not_null": F.col("o_orderpriority").isNotNull(),
    })
    con = duckdb_conn(SF_SMOKE)
    assert_matches_oracle(rep, con, """
        WITH n AS (SELECT count(*) AS n_rows FROM orders),
        f AS (
          SELECT
            count(*) FILTER (NOT coalesce(o_totalprice > 0, FALSE)) AS price_positive,
            count(*) FILTER (NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE)) AS status_known,
            count(*) FILTER (o_orderpriority IS NULL) AS priority_not_null
          FROM orders
        )
        SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_failed AS BIGINT) AS n_failed,
               round(CAST(n_failed AS DOUBLE) / greatest(n_rows, 1), 6) AS fail_frac
        FROM (
          SELECT 'price_positive' AS rule, n_rows, price_positive AS n_failed FROM n, f
          UNION ALL SELECT 'status_known', n_rows, status_known FROM n, f
          UNION ALL SELECT 'priority_not_null', n_rows, priority_not_null FROM n, f
        )
    """)
    con.close()


def test_check_expectations_raises_on_breach(spark):
    from dw_etl_spark.sources.files import read_table
    from tests.conftest import SF_SMOKE

    import pytest as _pytest

    from dw_etl_spark.operators.expectations import check_expectations

    orders = read_table(spark, SF_SMOKE, "orders")
    # passes: keys are never null
    rep = check_expectations(orders, {"key": F.col("o_orderkey").isNotNull()})
    assert rep.collect()[0]["n_failed"] == 0
    # breaches: not every order has totalprice > 100000
    with _pytest.raises(ValueError, match="expectations breached"):
        check_expectations(
            orders, {"rich": F.col("o_totalprice") > 100_000}
        )
    # NULL predicate counts as failure
    withnull = spark.createDataFrame([(1,), (None,)], "x int")
    bad = check_expectations(
        withnull, {"pos": F.col("x") > 0}, max_fail_frac=0.6
    )
    assert {r["rule"]: r["n_failed"] for r in bad.collect()} == {"pos": 1}


def test_winsorize_matches_duckdb_quantiles(spark):
    from dw_etl_spark.sources.files import read_table
    from tests.conftest import SF_SMOKE

    from dw_etl_spark.operators.profile import winsorize
    from tests.conftest import assert_matches_oracle, duckdb_conn

    orders = read_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    got = winsorize(orders, ["o_totalprice"], 0.05, 0.95)
    con = duckdb_conn(SF_SMOKE)
    assert_matches_oracle(got, con, """
        WITH b AS (
          SELECT quantile_cont(o_totalprice, 0.05) AS lo,
                 quantile_cont(o_totalprice, 0.95) AS hi
          FROM orders
        )
        SELECT o_orderkey, least(greatest(o_totalprice, lo), hi) AS o_totalprice
        FROM orders, b
    """)
    con.close()


def test_standardize_zscores(spark):
    import math

    from dw_etl_spark.operators.profile import standardize

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, None)], ["id", "v"]
    )
    out = {r["id"]: r["v_z"] for r in standardize(df, ["v"]).collect()}
    vals = [10.0, 20.0, 30.0]
    m = sum(vals) / 3
    s = math.sqrt(sum((x - m) ** 2 for x in vals) / 2)
    assert math.isclose(out[1], round((10 - m) / s, 6), abs_tol=1e-9)
    assert math.isclose(out[3], round((30 - m) / s, 6), abs_tol=1e-9)
    assert out[4] is None
    # constant column → NULL z-scores, no crash
    const = spark.createDataFrame([(1, 5.0), (2, 5.0)], ["id", "v"])
    z = {r["id"]: r["v_z"] for r in standardize(const, ["v"]).collect()}
    assert z == {1: None, 2: None}


def test_observe_expectations_equals_expect_with_zero_extra_jobs(spark, tmp_path):
    """The observation-attached counters collected by a sink write
    match the standalone expect() pass exactly."""
    from dw_etl_spark.operators.expectations import (
        expect,
        expectation_report,
        observe_expectations,
    )
    from dw_etl_spark.sources.files import read_table
    from tests.conftest import SF_SMOKE

    orders = read_table(spark, SF_SMOKE, "orders")
    rules = {
        "price_positive": F.col("o_totalprice") > 0,
        "rich": F.col("o_totalprice") > 100_000,
    }
    out, obs = observe_expectations(orders, rules)
    out.write.mode("overwrite").parquet(str(tmp_path / "orders_checked"))
    got = sorted(expectation_report(obs.get), key=lambda r: r["rule"])
    want = sorted(
        (r.asDict() for r in expect(orders, rules).collect()),
        key=lambda r: r["rule"],
    )
    assert got == want
    by_rule = {r["rule"]: r for r in got}
    assert by_rule["rich"]["n_failed"] > 0  # the breached rule has signal
    assert by_rule["price_positive"]["n_failed"] == 0


def test_key_skew_profile_matches_duckdb_and_flags_monster_key(spark):
    """Top-k heavy keys + summary vs a DuckDB replay on a deliberately
    skewed frame; NULL keys count under the sentinel; the summary's
    top-1 share flags the monster key."""
    from tests.conftest import SF_SMOKE, assert_matches_oracle, duckdb_conn

    from dw_etl_spark.operators.profile import key_skew_profile

    rows = (
        [(0, "hot") for _ in range(500)]
        + [(i, f"k{i % 37}") for i in range(300)]
        + [(900 + i, None) for i in range(25)]
    )
    df = spark.createDataFrame(rows, ["rid", "dom"])
    got = key_skew_profile(df, ["dom"], k=5)

    import pandas as pd

    con = duckdb_conn(SF_SMOKE)
    con.register("tpdf", pd.DataFrame(rows, columns=["rid", "dom"]))
    sql = """
WITH c AS (SELECT coalesce(CAST(dom AS VARCHAR), '<null>') AS key,
                  CAST(count(*) AS BIGINT) AS n
           FROM tpdf GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS rows,
             CAST(max(n) AS BIGINT) AS mx,
             CAST(count(*) AS BIGINT) AS dk FROM c)
SELECT * FROM (
  SELECT 'key' AS kind, key, n, round(n / CAST(t.rows AS DOUBLE), 6) AS frac,
         t.rows AS rows, t.dk AS distinct_keys
  FROM c, t ORDER BY n DESC, key ASC LIMIT 5)
UNION ALL
SELECT 'total', '', mx, round(mx / CAST(rows AS DOUBLE), 6), rows, dk FROM t
"""
    assert_matches_oracle(got, con, sql)
    con.close()

    summary = got.filter(F.col("kind") == "total").collect()[0]
    assert summary["n"] == 500 and summary["rows"] == 825
    assert summary["frac"] > 0.5  # the monster key is unmissable
    tops = got.filter(F.col("kind") == "key").collect()
    assert tops[0]["key"] == "hot" and tops[0]["n"] == 500
    assert any(r["key"] == "<null>" for r in tops)
