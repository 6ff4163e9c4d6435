"""Warehouse sink tests: parquet backend end-to-end (write, constraint
validation, exists/drop/introspect) and JDBC DDL generation."""

from __future__ import annotations

import pytest

from dw_etl_spark.plans.star_schema import build_star_schema
from dw_etl_spark.sinks.warehouse import (
    ConstraintViolation,
    ForeignKey,
    ParquetWarehouse,
    TableSpec,
    check_foreign_key,
    check_primary_key,
    ddl_add_foreign_key,
    ddl_drop_foreign_key,
    ddl_drop_table,
    ddl_set_primary_key,
    load_star_schema,
    sql_type_for,
)
from tests.conftest import SF_SMOKE


def test_check_primary_key_passes_and_fails(spark):
    ok = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    check_primary_key(ok, ["id"])

    dup = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"])
    with pytest.raises(ConstraintViolation, match="not unique"):
        check_primary_key(dup, ["id"])

    nul = spark.createDataFrame([(None, "a"), (2, "b")], ["id", "v"])
    with pytest.raises(ConstraintViolation, match="nulls"):
        check_primary_key(nul, ["id"])


def test_check_foreign_key_orphans(spark):
    parent = spark.createDataFrame([(1,), (2,)], ["Id"])
    ok_child = spark.createDataFrame([(1, 1), (2, 2), (3, None)], ["row", "DimId"])
    check_foreign_key(ok_child, ForeignKey(["DimId"], "dim", ["Id"]), parent)

    bad_child = spark.createDataFrame([(1, 99)], ["row", "DimId"])
    with pytest.raises(ConstraintViolation, match="no parent"):
        check_foreign_key(bad_child, ForeignKey(["DimId"], "dim", ["Id"]), parent)


def test_parquet_warehouse_roundtrip(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["Id", "Name"])
    spec = TableSpec("DIM_Test", primary_key=["Id"], column_types={"Id": "bigint"})
    assert not wh.table_exists("DIM_Test")
    wh.write_table(df, spec)
    assert wh.table_exists("DIM_Test")
    back = wh.read_table("DIM_Test")
    assert sorted((r["Id"], r["Name"]) for r in back.collect()) == [(1, "x"), (2, "y")]
    meta = {r["column_name"]: r["data_type"] for r in wh.introspect("DIM_Test").collect()}
    assert meta == {"Id": "bigint", "Name": "string"}
    wh.drop_table("DIM_Test")
    assert not wh.table_exists("DIM_Test")


def test_load_star_schema_end_to_end(spark, tmp_path):
    """The full reference load stage against the parquet backend: dims
    then fact, FK validated against the loaded dims."""
    star = build_star_schema(spark, SF_SMOKE)
    specs = {
        "DIM_Date": TableSpec("DIM_Date", primary_key=["Id"]),
        "DIM_Order": TableSpec("DIM_Order", primary_key=["Id"]),
        "DIM_Part": TableSpec("DIM_Part", primary_key=["Id"]),
        "DIM_Indicator": TableSpec("DIM_Indicator", primary_key=["Id"]),
        "FACT_LineItem": TableSpec(
            "FACT_LineItem",
            primary_key=["Id"],
            foreign_keys=[ForeignKey(["DateId"], "DIM_Date", ["Id"])],
        ),
    }
    wh = ParquetWarehouse(spark, str(tmp_path))
    load_star_schema(wh, star, specs, fact_name="FACT_LineItem")
    for name in specs:
        assert wh.table_exists(name)
    assert wh.read_table("FACT_LineItem").count() == star["FACT_LineItem"].count()


def test_parquet_warehouse_validation_failure_preserves_previous_table(
    spark, tmp_path
):
    """r10: every load stages + swaps, so a FAILED load — PK or FK —
    leaves the previously committed table intact and no staging orphan
    behind (VERDICT r9 #4 family)."""
    from pathlib import Path

    wh = ParquetWarehouse(spark, str(tmp_path))
    good = spark.createDataFrame([(1, "x"), (2, "y")], ["Id", "V"])
    spec = TableSpec("T", primary_key=["Id"])
    wh.write_table(good, spec)

    dup = spark.createDataFrame([(1, "a"), (1, "b")], ["Id", "V"])
    with pytest.raises(ConstraintViolation, match="not unique"):
        wh.write_table(dup, spec)
    assert not Path(str(tmp_path / "T__staging")).exists()
    assert sorted(r["V"] for r in wh.read_table("T").collect()) == ["x", "y"]

    parent = spark.createDataFrame([(1,)], ["Id"])
    orphaned = spark.createDataFrame([(1, 1), (2, 99)], ["Id", "DimId"])
    fk_spec = TableSpec(
        "T",
        primary_key=["Id"],
        foreign_keys=[ForeignKey(["DimId"], "DIM_P", ["Id"])],
    )
    with pytest.raises(ConstraintViolation, match="no parent"):
        wh.write_table(orphaned, fk_spec, parents={"DIM_P": parent})
    assert not Path(str(tmp_path / "T__staging")).exists()
    assert sorted(r["V"] for r in wh.read_table("T").collect()) == ["x", "y"]


def test_parquet_warehouse_recovers_orphaned_staging(spark, tmp_path):
    """r10 (VERDICT r9 #4): a crash between the staged write and the
    swap leaves ``__staging`` (and possibly ``__old``) beside the live
    table; the next access sweeps them via the streaming sinks'
    ``_recover_swap`` invariants — previous table intact, orphans gone,
    and a crash BETWEEN the two swap renames (live gone, ``__old``
    present) restores the committed state."""
    from pathlib import Path

    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "x")], ["Id", "V"])
    wh.write_table(df, TableSpec("T", primary_key=["Id"]))

    # crash after staged write, before swap
    staging = Path(str(tmp_path / "T__staging"))
    staging.mkdir()
    (staging / "part-junk.parquet").write_bytes(b"partial")
    assert wh.table_exists("T")
    assert not staging.exists()
    assert [r["V"] for r in wh.read_table("T").collect()] == ["x"]

    # crash between the swap's two renames: live moved aside, staging
    # not yet promoted — recovery must restore the aside copy
    live = Path(str(tmp_path / "T"))
    old = Path(str(tmp_path / "T__old"))
    live.rename(old)
    staging.mkdir()
    assert wh.table_exists("T")
    assert not old.exists() and not staging.exists()
    assert [r["V"] for r in wh.read_table("T").collect()] == ["x"]

    # a fresh write over the recovered table still works end-to-end
    wh.write_table(
        spark.createDataFrame([(2, "y")], ["Id", "V"]),
        TableSpec("T", primary_key=["Id"]),
    )
    assert [r["V"] for r in wh.read_table("T").collect()] == ["y"]


def test_parquet_warehouse_partitioned_write_with_pk_on_partition_column(
    spark, tmp_path
):
    """r10: the PK check reads the WRITTEN parquet back with the
    original schema, so a PK that overlaps ``partition_by`` keeps its
    written types (directory-name inference must not merge distinct
    keys like '1'/'01') and uniqueness still validates; a duplicate
    across partitions is still caught."""
    from pathlib import Path

    wh = ParquetWarehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [("1", 10, "a"), ("01", 11, "b"), ("2", 12, "c")],
        ["Bucket", "Id", "V"],
    )
    spec = TableSpec("T", primary_key=["Bucket", "Id"])
    wh.write_table(df, spec, partition_by=["Bucket"])
    back = wh.read_table("T")
    assert back.count() == 3
    assert sorted(
        p.name for p in Path(str(tmp_path / "T")).iterdir() if p.is_dir()
    ) == ["Bucket=01", "Bucket=1", "Bucket=2"]

    dup = spark.createDataFrame(
        [("1", 10, "a"), ("1", 10, "b")], ["Bucket", "Id", "V"]
    )
    with pytest.raises(ConstraintViolation, match="not unique"):
        wh.write_table(dup, spec, partition_by=["Bucket"])
    assert back.count() == 3  # previous table preserved


def test_parquet_warehouse_rejects_empty_string_partition_values(
    spark, tmp_path
):
    """r11 (ADVICE): hive-style layout writes the empty string and NULL
    to the same ``__HIVE_DEFAULT_PARTITION__`` directory, so an
    empty-string partition value would read back as NULL — silent
    corruption (and a spurious PK-null rejection when the column is in
    the PK). The write must refuse it loudly, BEFORE the staged swap,
    leaving any previous table intact. NULL partition values round-trip
    and stay allowed."""
    from pathlib import Path

    wh = ParquetWarehouse(spark, str(tmp_path))
    spec = TableSpec("T")
    wh.write_table(
        spark.createDataFrame([("a", 1)], ["Bucket", "Id"]),
        spec,
        partition_by=["Bucket"],
    )
    bad = spark.createDataFrame([("a", 1), ("", 2)], ["Bucket", "Id"])
    with pytest.raises(ConstraintViolation, match="empty string"):
        wh.write_table(bad, spec, partition_by=["Bucket"])
    assert not Path(str(tmp_path / "T__staging")).exists()
    assert [r["Id"] for r in wh.read_table("T").collect()] == [1]

    # NULL partition values are representable and round-trip as NULL
    with_null = spark.createDataFrame(
        [("a", 1), (None, 2)], "Bucket string, Id int"
    )
    wh.write_table(with_null, spec, partition_by=["Bucket"])
    got = {r["Id"]: r["Bucket"] for r in wh.read_table("T").collect()}
    assert got == {1: "a", 2: None}


def test_parquet_warehouse_serializes_same_table_writes_and_reads(
    spark, tmp_path
):
    """r11 (ADVICE): a second concurrent write of the SAME table raises
    (drop-and-recreate loads have no meaningful interleaving), and a
    reader's recovery sweep must not delete a write-active table's live
    ``__staging`` directory while still resolving the committed
    ``__old``/live side."""
    from pathlib import Path

    from dw_etl_spark.sinks import warehouse as wh_mod

    wh = ParquetWarehouse(spark, str(tmp_path))
    spec = TableSpec("T")
    wh.write_table(spark.createDataFrame([(1,)], ["Id"]), spec)

    live = str(tmp_path / "T")
    staging = Path(f"{live}__staging")
    staging.mkdir()
    (staging / "part-inflight.parquet").write_bytes(b"live write")
    with wh_mod._REGISTRY_GUARD:
        wh_mod._ACTIVE_WRITES.add(live)
    try:
        # reader sweep: staging belongs to the in-flight write — kept
        assert wh.table_exists("T")
        assert staging.exists()
        # a second write of the same table refuses to start
        with pytest.raises(RuntimeError, match="concurrent write_table"):
            wh.write_table(spark.createDataFrame([(2,)], ["Id"]), spec)
    finally:
        with wh_mod._REGISTRY_GUARD:
            wh_mod._ACTIVE_WRITES.discard(live)
    # once the write slot frees, the orphan sweeps again on access
    assert wh.table_exists("T")
    assert not staging.exists()


def test_load_star_schema_concurrent_dim_failure_surfaces_cleanly(
    spark, tmp_path
):
    """r10: dim loads run as concurrent Spark jobs — a PK violation in
    ONE dim must surface as ConstraintViolation from load_star_schema,
    leave NO __staging orphan for any table, and keep the good dims'
    committed tables readable."""
    from pathlib import Path

    wh = ParquetWarehouse(spark, str(tmp_path))
    good1 = spark.createDataFrame([(1, "a"), (2, "b")], ["Id", "V"])
    good2 = spark.createDataFrame([(7, "x")], ["Id", "V"])
    dup = spark.createDataFrame([(1, "p"), (1, "q")], ["Id", "V"])
    fact = spark.createDataFrame([(1, 1)], ["Id", "D1"])
    tables = {"DIM_A": good1, "DIM_B": dup, "DIM_C": good2, "FACT": fact}
    specs = {n: TableSpec(n, primary_key=["Id"]) for n in tables}
    with pytest.raises(ConstraintViolation, match="not unique"):
        load_star_schema(wh, tables, specs, fact_name="FACT")
    for n in tables:
        assert not Path(str(tmp_path / f"{n}__staging")).exists(), n
    # the failing dim never committed; the good dims did (their jobs
    # are independent — partial progress is fine, replay is idempotent)
    assert not wh.table_exists("DIM_B")
    assert sorted(r["V"] for r in wh.read_table("DIM_A").collect()) == ["a", "b"]
    assert [r["V"] for r in wh.read_table("DIM_C").collect()] == ["x"]
    # a corrected rerun completes end-to-end
    tables["DIM_B"] = spark.createDataFrame([(1, "p"), (2, "q")], ["Id", "V"])
    load_star_schema(wh, tables, specs, fact_name="FACT")
    assert wh.table_exists("FACT") and wh.table_exists("DIM_B")


def _spark_jobs(spark, fn):
    """``fn()`` and the ids of the Spark jobs it started, counted with
    the status tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"read-table-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_table cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_read_table_repeat_read_starts_no_spark_job(spark, tmp_path):
    """A second read of an unchanged table returns the cached frame —
    shared across warehouse instances on one session — and starts no
    Spark job (no listing, no schema inference)."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.write_table(
        spark.createDataFrame([(1, "x"), (2, "y")], ["Id", "V"]),
        TableSpec("T", primary_key=["Id"]),
    )
    first, jobs = _spark_jobs(spark, lambda: wh.read_table("T"))
    assert jobs, "a first read resolves the table with a Spark job"
    again, jobs = _spark_jobs(spark, lambda: wh.read_table("T"))
    assert again is first and jobs == []
    other, jobs = _spark_jobs(
        spark, lambda: ParquetWarehouse(spark, str(tmp_path)).read_table("T")
    )
    assert other is first and jobs == []
    assert _rows(again) == [(1, "x"), (2, "y")]


def test_read_table_after_rewrite_serves_new_rows(spark, tmp_path):
    """A rewrite commits a new directory with a different file set; the
    next read lists it afresh — no stale file list, no FileNotFound."""
    wh = ParquetWarehouse(spark, str(tmp_path))
    spec = TableSpec("T", primary_key=["Id"])
    wh.write_table(spark.createDataFrame([(1, "x")], ["Id", "V"]), spec)
    assert _rows(wh.read_table("T")) == [(1, "x")]
    wh.write_table(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10, 40)], ["Id", "V"]
        ).repartition(3),
        spec,
    )
    assert _rows(wh.read_table("T")) == [(i, f"v{i}") for i in range(10, 40)]


def test_read_table_picks_up_swap_made_outside_the_warehouse(spark, tmp_path):
    """A commit by another process (a staging write plus the swap) is
    seen by the next read of a table this process already resolved."""
    from dw_etl_spark.streaming.sinks import _commit_swap

    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.write_table(
        spark.createDataFrame([(1, "x")], ["Id", "V"]), TableSpec("T")
    )
    assert _rows(wh.read_table("T")) == [(1, "x")]
    live = str(tmp_path / "T")
    spark.createDataFrame([(2, "y"), (3, "z")], ["Id", "V"]).write.parquet(
        f"{live}__staging"
    )
    _commit_swap(live)
    assert _rows(wh.read_table("T")) == [(2, "y"), (3, "z")]


def test_read_table_after_drop_fails_as_uncached(spark, tmp_path):
    from pyspark.errors import AnalysisException

    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.write_table(
        spark.createDataFrame([(1, "x")], ["Id", "V"]), TableSpec("T")
    )
    assert _rows(wh.read_table("T")) == [(1, "x")]
    wh.drop_table("T")
    assert not wh.table_exists("T")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        wh.read_table("T")


def test_read_table_cache_holds_one_entry_per_path(spark, tmp_path):
    from dw_etl_spark.sinks import warehouse as wh_mod

    wh = ParquetWarehouse(spark, str(tmp_path))
    live = str(tmp_path / "T")

    def entries() -> int:
        with wh_mod._RELATIONS_GUARD:
            return sum(1 for k in wh_mod._RELATIONS if k[1] == live)

    for i in range(4):
        wh.write_table(
            spark.createDataFrame([(i, "v")], ["Id", "V"]), TableSpec("T")
        )
        assert entries() == 0  # the commit evicted the old snapshot
        assert _rows(wh.read_table("T")) == [(i, "v")]
        assert entries() == 1


def test_read_table_concurrent_readers_agree(spark, tmp_path):
    import threading
    from concurrent.futures import ThreadPoolExecutor

    wh = ParquetWarehouse(spark, str(tmp_path))
    wh.write_table(
        spark.createDataFrame([(i, i * 2) for i in range(50)], ["Id", "V"]),
        TableSpec("T", primary_key=["Id"]),
    )
    start = threading.Barrier(2)

    def read() -> list[tuple]:
        start.wait()
        return _rows(wh.read_table("T"))

    with ThreadPoolExecutor(2) as ex:
        a, b = [f.result() for f in [ex.submit(read) for _ in range(2)]]
    assert a == b == [(i, i * 2) for i in range(50)]


def test_jdbc_ddl_generation(spark):
    assert ddl_drop_table("T") == "DROP TABLE IF EXISTS T"
    stmts = ddl_set_primary_key("T", ["Id"], {"Id": "BIGINT"})
    assert stmts == [
        "ALTER TABLE T ALTER COLUMN Id BIGINT NOT NULL",
        "ALTER TABLE T ADD CONSTRAINT PK_T PRIMARY KEY (Id)",
    ]
    fk = ForeignKey(["DateId"], "DIM_Date", ["Id"])
    assert ddl_add_foreign_key("F", fk) == (
        "ALTER TABLE F ADD CONSTRAINT FK_DateId__DIM_Date FOREIGN KEY "
        "(DateId) REFERENCES DIM_Date (Id)"
    )
    assert "DROP CONSTRAINT FK_DateId__DIM_Date" in ddl_drop_foreign_key(
        "F", fk.name
    )


def test_sql_type_mapping(spark):
    from pyspark.sql import types as T

    assert sql_type_for(T.LongType()) == "BIGINT"
    assert sql_type_for(T.StringType()) == "NVARCHAR(255)"
    assert sql_type_for(T.DecimalType(8, 2)) == "DECIMAL(8,2)"


# ------------------------------------------------------- embedded Derby e2e

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_wh(spark, db: str) -> "JdbcWarehouse":
    from dw_etl_spark.sinks.warehouse import JdbcWarehouse

    return JdbcWarehouse(
        spark,
        f"jdbc:derby:memory:{db};create=true",
        DERBY_PROPS,
        dialect="derby",
    )


def test_jdbc_warehouse_derby_roundtrip(spark):
    """The full S6-S13 surface against a real database in-process:
    Derby ships with Spark, so jdbc:derby:memory: exercises
    df.write.jdbc, exists-probe, drop, introspect, and the PK retrofit
    with zero external services (reference resources.py:31-180)."""
    wh = _derby_wh(spark, "wh_rt")
    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.5)], ["Id", "Name", "Score"]
    )
    spec = TableSpec("DIM_T", primary_key=["Id"])

    assert not wh.table_exists("DIM_T")
    wh.write_table(df, spec)
    assert wh.table_exists("DIM_T")

    back = spark.read.jdbc(wh.url, "DIM_T", properties=DERBY_PROPS)
    assert sorted((r["Id"], r["Name"], r["Score"]) for r in back.collect()) == [
        (1, "x", 1.5), (2, "y", 2.5)
    ]

    meta = {
        r["COLUMN_NAME"]: (r["DATA_TYPE"], r["IS_NULLABLE"])
        for r in wh.introspect("DIM_T").collect()
    }
    assert meta["Id"] == ("BIGINT", "NO")       # PK retrofit: NOT NULL
    assert meta["Score"][0] == "DOUBLE"

    # drop-then-write is idempotent: a second load replaces, not appends
    wh.write_table(df, spec)
    assert spark.read.jdbc(wh.url, "DIM_T", properties=DERBY_PROPS).count() == 2

    wh.drop_table("DIM_T")
    assert not wh.table_exists("DIM_T")


def test_jdbc_warehouse_derby_pk_violation_rejected(spark):
    """The retrofitted PRIMARY KEY is a real enforced constraint:
    inserting a duplicate key through JDBC fails."""
    wh = _derby_wh(spark, "wh_pk")
    df = spark.createDataFrame([(1, "x")], ["Id", "Name"])
    wh.write_table(df, TableSpec("DIM_PK", primary_key=["Id"]))
    with pytest.raises(Exception, match="(?i)duplicate|constraint"):
        wh.execute('INSERT INTO DIM_PK ("Id", "Name") VALUES (1, \'dup\')')


def test_jdbc_warehouse_derby_fk_end_to_end(spark):
    """FK retrofit + enforcement + the guarded drop path: load a dim
    and a fact with a declared FK, verify orphan inserts fail, then
    drop the constraint (catalog-probed — Derby has no IF EXISTS) and
    verify orphans pass."""
    wh = _derby_wh(spark, "wh_fk")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], ["Id", "V"])
    fact = spark.createDataFrame([(10, 1), (11, 2), (12, 1)], ["Id", "DimId"])
    fk = ForeignKey(["DimId"], "DIM_D", ["Id"])
    wh.write_table(dim, TableSpec("DIM_D", primary_key=["Id"]))
    wh.write_table(fact, TableSpec("FACT_F", primary_key=["Id"], foreign_keys=[fk]))

    with pytest.raises(Exception, match="(?i)foreign key|constraint"):
        wh.execute('INSERT INTO FACT_F ("Id", "DimId") VALUES (13, 99)')

    wh.drop_foreign_key("FACT_F", fk.name)
    wh.execute('INSERT INTO FACT_F ("Id", "DimId") VALUES (13, 99)')
    n = spark.read.jdbc(wh.url, "FACT_F", properties=DERBY_PROPS).count()
    assert n == 4
    # guarded drop of a now-absent constraint is a no-op, not an error
    wh.drop_foreign_key("FACT_F", fk.name)


def test_load_star_schema_into_derby(spark):
    """The reference's load stage (jobs.py:41-47) against a real RDBMS:
    dims then fact through load_star_schema with the JDBC backend."""
    from dw_etl_spark.sinks.warehouse import load_star_schema as load

    wh = _derby_wh(spark, "wh_star")
    star = build_star_schema(spark, SF_SMOKE)
    dims = {"DIM_Date": star["DIM_Date"], "FACT_LineItem": star["FACT_LineItem"]}
    specs = {
        "DIM_Date": TableSpec("DIM_Date", primary_key=["Id"]),
        "FACT_LineItem": TableSpec(
            "FACT_LineItem",
            primary_key=["Id"],
            foreign_keys=[ForeignKey(["DateId"], "DIM_Date", ["Id"])],
        ),
    }
    load(wh, dims, specs, fact_name="FACT_LineItem")
    assert wh.table_exists("DIM_Date") and wh.table_exists("FACT_LineItem")
    n_fact = spark.read.jdbc(wh.url, "FACT_LineItem", properties=DERBY_PROPS).count()
    assert n_fact == star["FACT_LineItem"].count()
    # re-run: FK dropped up front, tables replaced — idempotent
    load(wh, dims, specs, fact_name="FACT_LineItem")
    assert (
        spark.read.jdbc(wh.url, "FACT_LineItem", properties=DERBY_PROPS).count()
        == n_fact
    )


def test_jsonl_roundtrip_preserves_rows_and_types(spark, tmp_path):
    from dw_etl_spark.sources.files import read_jsonl, write_jsonl
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(1, "a\nb", 1.5, ["x", "y"]), (2, None, -0.25, [])],
        ["id", "txt", "score", "tags"],
    )
    path = str(tmp_path / "jl")
    write_jsonl(df, path)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("txt", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    back = read_jsonl(spark, path, schema=schema)
    assert sorted(
        (r["id"], r["txt"], r["score"], tuple(r["tags"])) for r in back.collect()
    ) == [(1, "a\nb", 1.5, ("x", "y")), (2, None, -0.25, ())]


def test_csv_quarantine_splits_malformed_rows(spark, tmp_path):
    """PERMISSIVE quarantine scan: clean rows carry exactly the
    declared schema; wrong-field-count and failed-cast rows land in
    quarantine with the verbatim line + partial parses; the split is
    exhaustive (clean + quarantine = input lines); a clean file yields
    an empty quarantine; a schema already declaring the corrupt column
    is rejected."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from dw_etl_spark.sources.files import (
        SchemaValidationError,
        read_csv_with_quarantine,
    )

    p = tmp_path / "in.csv"
    p.write_text(
        "a,b,c\n"
        "1,x,2.5\n"
        "bad,y,notanum\n"     # cast failure in two fields
        "2,z,3.5\n"
        ",,,too,many,fields\n"  # wrong arity
        "3,w,oops\n"            # cast failure in one field
    )
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    clean, quarantine = read_csv_with_quarantine(spark, str(p), schema)
    assert clean.columns == ["a", "b", "c"]
    assert sorted((r["a"], r["b"], r["c"]) for r in clean.collect()) == [
        (1, "x", 2.5),
        (2, "z", 3.5),
    ]
    q = quarantine.collect()
    assert quarantine.columns == ["raw_record", "a", "b", "c"]
    assert sorted(r["raw_record"] for r in q) == [
        ",,,too,many,fields",
        "3,w,oops",
        "bad,y,notanum",
    ]
    # partial parses survive for triage: the row whose only bad field
    # was c still has a and b parsed
    by_raw = {r["raw_record"]: r for r in q}
    assert by_raw["3,w,oops"]["a"] == 3 and by_raw["3,w,oops"]["b"] == "w"
    assert by_raw["3,w,oops"]["c"] is None

    # bare aggregates over the quarantine must WORK (the expression-
    # parse design exists exactly because the datasource corrupt
    # column hard-errors on corrupt-only queries)
    assert quarantine.count() == 3
    assert clean.count() + quarantine.count() == 5  # exhaustive split

    ok = tmp_path / "ok.csv"
    ok.write_text("a,b,c\n7,q,1.0\n")
    clean2, quarantine2 = read_csv_with_quarantine(spark, str(ok), schema)
    assert clean2.count() == 1 and quarantine2.count() == 0

    with _pytest.raises(SchemaValidationError):
        read_csv_with_quarantine(
            spark,
            str(ok),
            T.StructType(
                [T.StructField("_corrupt_record", T.StringType())]
            ),
        )


def test_jsonl_quarantine_splits_malformed_rows(spark, tmp_path):
    """JSONL twin: syntax errors and schema-type mismatches quarantine;
    valid lines parse; the clean frame drops the corrupt column."""
    from pyspark.sql import types as T

    from dw_etl_spark.sources.files import read_jsonl_with_quarantine

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "txt": "ok"}\n'
        "{not json at all\n"
        '{"id": "seven", "txt": "bad id type"}\n'
        '{"id": 2, "txt": null}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("txt", T.StringType()),
        ]
    )
    clean, quarantine = read_jsonl_with_quarantine(spark, str(p), schema)
    assert sorted((r["id"], r["txt"]) for r in clean.collect()) == [
        (1, "ok"),
        (2, None),
    ]
    raws = sorted(r["raw_record"] for r in quarantine.collect())
    assert raws == [
        '{"id": "seven", "txt": "bad id type"}',
        "{not json at all",
    ]


def test_split_malformed_works_on_streaming_lines(spark, tmp_path):
    """The split is a stateless per-line expression, so it runs
    unchanged on a STREAMING text source: clean and quarantine route
    to two sinks and every input line lands in exactly one of them."""
    from pyspark.sql import types as T

    from dw_etl_spark.sources.files import split_malformed

    src = tmp_path / "in"
    src.mkdir()
    (src / "batch0.jsonl").write_text(
        '{"id": 1, "txt": "ok"}\n'
        "{broken\n"
        '{"id": 2, "txt": "also ok"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("txt", T.StringType()),
        ]
    )
    lines = spark.readStream.text(str(src))
    clean, quarantine = split_malformed(lines, schema, fmt="json")
    assert clean.isStreaming and quarantine.isStreaming
    out_c, out_q = str(tmp_path / "clean"), str(tmp_path / "quar")
    q1 = (
        clean.writeStream.format("parquet")
        .option("path", out_c)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q2 = (
        quarantine.writeStream.format("parquet")
        .option("path", out_q)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()
    q2.awaitTermination()
    got_clean = sorted(
        (r["id"], r["txt"]) for r in spark.read.parquet(out_c).collect()
    )
    assert got_clean == [(1, "ok"), (2, "also ok")]
    got_q = spark.read.parquet(out_q).collect()
    assert [r["raw_record"] for r in got_q] == ["{broken"]


def test_orc_roundtrip_and_required_columns(spark, tmp_path):
    from dw_etl_spark.sources.files import read_orc, write_orc, SchemaValidationError
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    path = str(tmp_path / "orc")
    write_orc(df, path)
    back = read_orc(spark, path, required_columns=["id", "name"])
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [(1, "a"), (2, "b")]
    with _pytest.raises(SchemaValidationError):
        read_orc(spark, path, required_columns=["missing_col"])


def test_warc_source_roundtrip_and_crawl_to_text(spark):
    """WARC source (sources/warc.py): record framing roundtrip in
    plain AND multi-member-gzip (CommonCrawl layout) forms, HTTP
    response splitting (status / content-type / body), record-type
    filtering, one-task-per-file distributed scan over several files,
    and the composed crawl-to-corpus path (read_warc → html_to_text)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from dw_etl_spark.functions.text import html_to_text
    from dw_etl_spark.sources.warc import parse_warc, read_warc, write_warc

    recs = [
        {
            "warc_type": "warcinfo",
            "block": b"robots: classic\r\n",
            "content_type": "application/warc-fields",
        },
        {
            "warc_type": "response",
            "url": "http://example.com/a",
            "http": (
                200,
                "text/html",
                b"<html><body><p>Hello &amp; welcome</p>"
                b"<script>var x=1;</script></body></html>",
            ),
        },
        {
            "warc_type": "request",
            "url": "http://example.com/a",
            "block": b"GET /a HTTP/1.1\r\n",
        },
        {
            "warc_type": "response",
            "url": "http://example.com/b",
            "http": (404, "text/html", b"<p>not found</p>"),
        },
    ]
    for gz in (False, True):
        payload = write_warc(recs, gz=gz)
        parsed = list(parse_warc(payload))
        assert [r["warc_type"] for r in parsed] == [
            "warcinfo", "response", "request", "response",
        ]
        assert parsed[1]["http_status"] == 200
        assert parsed[1]["http_content_type"] == "text/html"
        assert parsed[1]["body"].startswith(b"<html>")
        assert parsed[3]["http_status"] == 404

        d = tempfile.mkdtemp(prefix="dwetl_warc_")
        ext = "warc.gz" if gz else "warc"
        # several files → several tasks (file = unit of parallelism)
        open(os.path.join(d, f"f1.{ext}"), "wb").write(payload)
        open(os.path.join(d, f"f2.{ext}"), "wb").write(
            write_warc(recs[:2], gz=gz)
        )
        df = read_warc(spark, d)  # responses only by default
        assert df.count() == 3
        assert df.select("warc_file").distinct().count() == 2
        all_types = read_warc(
            spark, d, record_types=("response", "request", "warcinfo")
        )
        assert all_types.count() == 6

        texts = (
            df.filter(F.col("http_status") == 200)
            .select(html_to_text(F.col("body").cast("string")).alias("t"))
            .distinct()
            .collect()
        )
        assert [r["t"] for r in texts] == ["Hello & welcome"]


def test_warc_parse_streams_bounded_chunks():
    """Round-7 verdict #2: the WARC parse must be incremental — gzip
    members inflated one at a time into the record framer, and
    ``iter_warc_frames`` emitting BOUNDED pandas chunks, never one
    frame per file. Pins: (a) a multi-record file with a small
    ``chunk_records`` yields multiple frames whose concat equals the
    unchunked parse; (b) byte-budget chunking trips on ``chunk_bytes``
    too; (c) a record split across gzip members still parses (the
    framer buffers across feeds); (d) truncated input raises instead
    of silently dropping the tail record."""
    import gzip

    import pandas as pd
    import pytest

    from dw_etl_spark.sources.warc import (
        iter_warc_frames,
        parse_warc,
        write_warc,
    )

    recs = [
        {
            "warc_type": "response",
            "url": f"http://ex.com/{i}",
            "http": (200, "text/html", f"<p>page {i}</p>".encode() * 20),
        }
        for i in range(7)
    ]
    payload = write_warc(recs, gz=True)

    frames = list(
        iter_warc_frames(iter([("f.warc.gz", payload)]), chunk_records=2)
    )
    assert len(frames) == 4 and [len(f) for f in frames] == [2, 2, 2, 1]
    merged = pd.concat(frames, ignore_index=True)
    flat = pd.DataFrame(list(parse_warc(payload)))
    assert list(merged["url"]) == list(flat["url"])
    assert [bytes(b) for b in merged["body"]] == [
        bytes(b) for b in flat["body"]
    ]

    by_bytes = list(
        iter_warc_frames(
            iter([("f.warc.gz", payload)]),
            chunk_records=10_000,
            chunk_bytes=700,  # ~2.4 bodies of 300 B
        )
    )
    assert len(by_bytes) > 1 and sum(len(f) for f in by_bytes) == 7
    assert all(len(f) <= 3 for f in by_bytes)

    # one logical record split across MANY gzip members: the framer
    # must buffer partial headers/blocks across feed() calls
    plain = write_warc(recs[:2], gz=False)
    shredded = b"".join(
        gzip.compress(plain[i:i + 37]) for i in range(0, len(plain), 37)
    )
    assert [r["url"] for r in parse_warc(shredded)] == [
        "http://ex.com/0", "http://ex.com/1"
    ]

    with pytest.raises(ValueError, match="truncated"):
        list(parse_warc(plain[:-40]))


def test_warc_lf_headers_with_crlf_http_body():
    """Round-9 advice fix: an LF-delimited WARC header whose record
    block holds CRLF HTTP headers must frame on the EARLIER ``\\n\\n``
    terminator — preferring a ``\\r\\n\\r\\n`` found anywhere in the
    buffer would swallow the header+body boundary into the "header"
    and mis-read Content-Length (corrupting this and every later
    record)."""
    from dw_etl_spark.sources.warc import parse_warc

    def lf_record(url: str, html: bytes) -> bytes:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        )
        head = (
            f"WARC/1.0\nWARC-Type: response\n"
            f"WARC-Target-URI: {url}\n"
            f"Content-Length: {len(http)}\n\n"
        ).encode()
        return head + http + b"\n\n"

    payload = lf_record("http://ex.com/a", b"<p>alpha</p>") + lf_record(
        "http://ex.com/b", b"<p>beta</p>"
    )
    recs = list(parse_warc(payload))
    assert [r["url"] for r in recs] == ["http://ex.com/a", "http://ex.com/b"]
    assert [r["http_status"] for r in recs] == [200, 200]
    assert [r["body"] for r in recs] == [b"<p>alpha</p>", b"<p>beta</p>"]


def test_write_token_shards_deterministic_and_memmap_ready(spark):
    """``write_token_shards`` (operators/packing.py): per-shard .bin
    (little-endian token ids in key order) + .idx.json (doc → offset/
    length) are BYTE-deterministic under any input partitioning, the
    index offsets decode back to the source arrays, empty docs index
    with length 0, and out-of-dtype token ids raise instead of
    wrapping."""
    import glob
    import hashlib
    import json
    import os
    import struct
    import tempfile

    import pytest

    from dw_etl_spark.operators.packing import write_token_shards

    rows = [(i % 3, f"doc{i:03d}", list(range(i, i + 5))) for i in range(30)]
    rows.append((0, "empty", None))
    df = spark.createDataFrame(rows, "shard int, key string, toks array<int>")

    def export(d, dd):
        write_token_shards(d, dd, "shard", "key", "toks")
        return {
            os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in sorted(glob.glob(os.path.join(dd, "*")))
        }

    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    assert export(df, d1) == export(df.repartition(13), d2)
    assert len(glob.glob(os.path.join(d1, "*.bin"))) == 3

    meta = json.load(open(os.path.join(d1, "tokens-000000.idx.json")))
    data = open(os.path.join(d1, "tokens-000000.bin"), "rb").read()
    assert meta["dtype"] == "uint16"
    assert len(data) == 2 * meta["total_tokens"]
    docs = {k: (off, n) for k, off, n in meta["documents"]}
    off, n = docs["doc000"]
    assert list(struct.unpack_from(f"<{n}H", data, off * 2)) == [0, 1, 2, 3, 4]
    off, n = docs["doc021"]
    assert list(struct.unpack_from(f"<{n}H", data, off * 2)) == [21, 22, 23, 24, 25]
    assert docs["empty"][1] == 0
    # offsets tile the bin exactly (no gaps, key order)
    ordered = sorted(docs.values())
    total = 0
    for o, n in ordered:
        assert o == total
        total += n
    assert total == meta["total_tokens"]

    big = spark.createDataFrame(
        [(0, "a", [70000])], "shard int, key string, toks array<int>"
    )
    with pytest.raises(Exception, match="uint16"):
        write_token_shards(big, tempfile.mkdtemp(), "shard", "key", "toks")
    # uint32 takes the same ids fine
    d3 = tempfile.mkdtemp()
    write_token_shards(big, d3, "shard", "key", "toks", dtype="uint32")
    m3 = json.load(open(os.path.join(d3, "tokens-000000.idx.json")))
    b3 = open(os.path.join(d3, "tokens-000000.bin"), "rb").read()
    assert struct.unpack("<I", b3)[0] == 70000 and m3["dtype"] == "uint32"


def test_crawl_to_training_shards_end_to_end(spark):
    """The composed crawl story, front door to loader: WARC files
    (CommonCrawl gz layout, planted duplicate + junk pages) →
    `read_warc` → `html_to_text` → URL canonicalization + domain
    blocklist → Gopher quality filter → exact dedup (canonical-URL +
    fingerprint) → whitespace tokenize to hashed ids → token-budget
    packing → `write_token_shards`. Asserts the blocked domain, the
    junk page and the URL-duplicate all drop, and the exported .bin
    tokens decode back to the surviving pages' text."""
    import glob
    import json
    import os
    import struct
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dw_etl_spark.functions.text import (
        fingerprint,
        gopher_keep,
        html_to_text,
        tokens,
    )
    from dw_etl_spark.functions.urls import block_domains, canonicalize_url
    from dw_etl_spark.operators.packing import (
        pack_into_shards,
        write_token_shards,
    )
    from dw_etl_spark.sources.warc import read_warc, write_warc

    body = (
        "<html><body><p>"
        + " ".join(f"solid useful sentence number {i} here" for i in range(12))
        + "</p></body></html>"
    ).encode()
    junk = b"<html><body><p>#### ### ## #</p></body></html>"
    pages = [
        ("http://Keep.example.org/a?utm_source=x", body),
        ("http://keep.example.org/a", body),  # canonical dup of the 1st
        ("http://keep.example.org/b", body.replace(b"solid", b"other")),
        ("http://spam.bad-domain.com/x", body),
        ("http://keep.example.org/junk", junk),
    ]
    d = tempfile.mkdtemp(prefix="dwetl_crawl_")
    for i, (url, payload) in enumerate(pages):
        open(os.path.join(d, f"seg{i}.warc.gz"), "wb").write(
            write_warc(
                [{"warc_type": "response", "url": url,
                  "http": (200, "text/html", payload)}],
                gz=True,
            )
        )

    crawled = read_warc(spark, d).select(
        canonicalize_url("url").alias("url"),
        html_to_text(F.col("body").cast("string")).alias("text"),
    )
    allowed = block_domains(crawled, "url", ["bad-domain.com"])
    quality = allowed.filter(
        gopher_keep("text", min_words=10, min_mean_word_len=2.0)
    )
    deduped = (
        quality.withColumn("fp", fingerprint("text"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("url")),
        )
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    survivors = sorted(r["url"] for r in deduped.select("url").collect())
    assert survivors == [
        "http://keep.example.org/a",
        "http://keep.example.org/b",
    ]

    tok = deduped.select(
        F.col("url").alias("doc_id"),
        F.transform(
            tokens("text"),
            lambda t: F.pmod(F.xxhash64(t), F.lit(50000)).cast("int"),
        ).alias("toks"),
    ).withColumn("n_tokens", F.size("toks"))
    packed = pack_into_shards(tok, "n_tokens", ["doc_id"], shard_tokens=500)
    out = tempfile.mkdtemp(prefix="dwetl_crawlbin_")
    write_token_shards(packed, out, "shard_id", "doc_id", "toks")

    total = 0
    for idx in glob.glob(os.path.join(out, "*.idx.json")):
        meta = json.load(open(idx))
        data = open(idx.replace(".idx.json", ".bin"), "rb").read()
        assert len(data) == 2 * meta["total_tokens"]
        total += sum(n for _k, _o, n in meta["documents"])
    expect = sum(r["n_tokens"] for r in tok.select("n_tokens").collect())
    assert total == expect and total > 0
