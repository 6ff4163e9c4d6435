"""Warehouse sinks: star-schema loading with key management.

Capability parity (SURVEY.md §2.1):
  S7   bulk-insert sink             (reference resources.py:58-78, chunked INSERT)
  S8   table-exists probe           (reference resources.py:80-87)
  S9   drop table                   (reference resources.py:89-99)
  S10  set primary key              (reference resources.py:101-119, load.py:21-33)
  S11  add/drop foreign key         (reference resources.py:121-153, load.py:82-95)
  S12  alter column type            (reference resources.py:167-180)
  S13  schema introspection         (reference resources.py:155-165)

Two backends behind one interface:

- ``ParquetWarehouse`` — the lake-native scale path. A data lake has no
  enforced PK/FK DDL, so constraints become *validated invariants*:
  PK = non-null + unique, FK = no orphans. Every load is a staged
  parquet write promoted by rename-aside swap — the moral equivalent
  of the reference's drop-then-recreate load, with the previous table
  preserved on any validation failure or crash. This is the backend
  the tests and bench exercise.

- ``JdbcWarehouse`` — the reference-shaped path for a real RDBMS:
  ``df.write.jdbc`` (executor-parallel batched INSERTs — the scalable
  version of the reference's chunksize=50 driver-side loop) plus
  driver-side DDL for PK/FK/type retrofit. DDL statements are generated
  by pure functions (unit-testable without a server) and executed over
  a JVM DriverManager connection when a URL is configured.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConstraintViolation(ValueError):
    """A declared PK/FK invariant does not hold for the data."""


@dataclass
class ForeignKey:
    columns: list[str]
    ref_table: str
    ref_columns: list[str]

    @property
    def name(self) -> str:
        return f"FK_{'_'.join(self.columns)}__{self.ref_table}"


@dataclass
class TableSpec:
    """Declared warehouse shape of one table (mirror of the reference's
    DDL in sql/create_schema.sql + the ALTER retrofits in load.py)."""

    name: str
    primary_key: list[str] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)
    column_types: dict[str, str] = field(default_factory=dict)  # col -> spark type


# ----------------------------------------------------------------- validation

def check_primary_key(df: DataFrame, pk: list[str]) -> None:
    """PK invariant: all key columns non-null and combination unique.

    One aggregation job (count + distinct-count + null-count together).
    """
    if not pk:
        return
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(*[F.col(c) for c in pk]).alias("n_distinct"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in pk],
    ).first()
    for c in pk:
        if row[f"nulls_{c}"]:
            raise ConstraintViolation(f"PK column {c} has {row[f'nulls_{c}']} nulls")
    if row["n"] != row["n_distinct"]:
        raise ConstraintViolation(
            f"PK {pk} not unique: {row['n']} rows, {row['n_distinct']} distinct"
        )


def check_foreign_key(child: DataFrame, fk: ForeignKey, parent: DataFrame) -> None:
    """FK invariant: every non-null child key exists in the parent.

    A left-anti join — broadcast when the parent is dim-sized, so the
    fact side never shuffles.
    """
    cond = None
    for c, rc in zip(fk.columns, fk.ref_columns):
        clause = child[c] == parent[rc]
        cond = clause if cond is None else cond & clause
    non_null = child
    for c in fk.columns:
        non_null = non_null.filter(F.col(c).isNotNull())
    orphans = non_null.join(F.broadcast(parent), cond, "left_anti").count()
    if orphans:
        raise ConstraintViolation(
            f"FK {fk.name}: {orphans} child rows have no parent in {fk.ref_table}"
        )


# ------------------------------------------------------------------- backends

import threading

# swap-state serialization (r11, ADVICE): _recover mutates swap state on
# EVERY table access, so a reader racing a committer's _commit_swap on
# the same table could observe the 'live missing, __old present' window
# and rename __old back, failing the commit. One process-wide lock per
# table path serializes every recover/swap mutation; _ACTIVE_WRITES
# marks tables with an in-flight staged write so a concurrent reader's
# recovery never sweeps a LIVE staging directory as an orphan.
_TABLE_LOCKS: dict[str, threading.Lock] = {}
_ACTIVE_WRITES: set[str] = set()
_REGISTRY_GUARD = threading.Lock()


def _table_lock(path: str) -> threading.Lock:
    with _REGISTRY_GUARD:
        return _TABLE_LOCKS.setdefault(path, threading.Lock())


# ParquetWarehouse.read_table's relation cache: (session, live path) ->
# (snapshot, frame), one entry per path. Resolving a frame lists the
# directory and runs a schema-inference job, which a hit skips.
_RELATIONS: dict[
    tuple[SparkSession, str], tuple[tuple[int, int, int], DataFrame]
] = {}
_RELATIONS_GUARD = threading.Lock()


def _evict_relations(path: str) -> None:
    with _RELATIONS_GUARD:
        for key in [k for k in _RELATIONS if k[1] == path]:
            del _RELATIONS[key]


class ParquetWarehouse:
    """Lake-native warehouse: parquet tables + validated constraints.

    ``read_table`` serves one cached frame per committed snapshot of a
    table, shared by every instance on the same session. The cache is
    valid only because every commit replaces the live directory through
    the swap protocol (``write_table``, ``drop_table`` or a staging
    write plus ``_commit_swap`` from another process). A file edited,
    added or removed in place inside a live table directory is not
    detected reliably, and the served frame may name stale files.
    """

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = Path(base_path)

    def _path(self, name: str) -> str:
        return str(self.base / name)

    def _recover(self, name: str) -> None:
        """Sweep the leftovers of a load that crashed mid-swap: an
        orphaned ``__staging`` (uncommitted partial write) is dropped,
        an orphaned ``__old`` resolves to whichever side the swap
        committed — same invariants as the streaming state sinks
        (``streaming/sinks.py:_recover_swap``), reused verbatim. Runs
        on every table access; two ``Path.exists`` probes when clean.
        Serialized per table against ``_commit_swap`` (a reader must
        never observe the mid-swap window), and while a concurrent
        write owns this table's ``__staging`` only the committed
        ``__old``/live side is resolved — the staging dir is the
        writer's, not a crash orphan."""
        import shutil

        from dw_etl_spark.streaming.sinks import _recover_swap

        path = self._path(name)
        with _table_lock(path):
            with _REGISTRY_GUARD:
                writing = path in _ACTIVE_WRITES
            if not writing:
                _recover_swap(path)
                return
            live, old = Path(path), Path(f"{path}__old")
            if old.exists():
                if live.exists():
                    shutil.rmtree(old)
                else:
                    old.rename(live)

    def table_exists(self, name: str) -> bool:  # S8
        self._recover(name)
        return Path(self._path(name)).exists()

    def drop_table(self, name: str) -> None:  # S9
        import shutil

        self._recover(name)
        p = Path(self._path(name))
        if p.exists():
            shutil.rmtree(p)
        _evict_relations(str(p))

    def read_table(self, name: str) -> DataFrame:  # S6-ish
        """The committed table as a frame, resolved once per snapshot.

        A repeat read of an unchanged table returns the same frame
        without listing files or starting a Spark job; a read after a
        commit resolves the new directory. Snapshots are told apart by
        the live directory's (inode, mtime_ns, ctime_ns), which changes
        only because every commit swaps a new directory in — a file
        edited in place inside a live table directory is not detected.
        Reader options in the session conf (e.g. schema merging) are
        applied when a snapshot is first resolved. A missing table
        fails as ``spark.read.parquet`` does.
        """
        self._recover(name)
        path = self._path(name)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return self.spark.read.parquet(path)
        snapshot = (st.st_ino, st.st_mtime_ns, st.st_ctime_ns)
        key = (self.spark, path)
        with _RELATIONS_GUARD:
            hit = _RELATIONS.get(key)
        if hit is not None and hit[0] == snapshot:
            return hit[1]
        # two threads missing together both resolve and the last store
        # wins; every later read re-checks the snapshot, so neither can
        # serve a stale frame
        df = self.spark.read.parquet(path)
        with _RELATIONS_GUARD:
            _RELATIONS[key] = (snapshot, df)
        return df

    def introspect(self, name: str) -> DataFrame:  # S13
        fields = self.read_table(name).schema.fields
        return self.spark.createDataFrame(
            [(name, f.name, f.dataType.simpleString(), f.nullable) for f in fields],
            ["table_name", "column_name", "data_type", "is_nullable"],
        )

    def write_table(
        self,
        df: DataFrame,
        spec: TableSpec,
        parents: dict[str, DataFrame] | None = None,
        partition_by: list[str] | None = None,
        pre_commit: "Callable[[], None] | None" = None,
    ) -> None:
        """Drop-and-recreate load (S7+S9 parity): cast declared types,
        validate PK/FK invariants, overwrite parquet.

        ``partition_by`` maps to hive-style directory partitioning —
        the scale lever the reference's flat tables lack (partition
        pruning on the read side).

        Pass structure (r10 — one lineage computation total): every
        write lands in a ``__staging`` directory first. The FK checks
        RIDE THE WRITE PASS — each parent's distinct key set
        broadcast-left-joins a hit marker onto the outgoing rows and an
        ``observe`` node counts orphans while the rows stream to
        parquet. The PK check runs AFTER the write against the WRITTEN
        parquet (``countDistinct`` is not allowed in observed metrics),
        which Catalyst column-prunes to a scan of just the PK columns —
        a few MB of encoded longs, not a second pass over the input
        lineage. Staging is promoted live (rename-aside
        ``_commit_swap``) only after both checks pass, so ANY failed
        validation — PK or FK — leaves the PREVIOUS table intact, which
        plain mode('overwrite') (delete target, then write) could not
        guarantee. An orphaned ``__staging``/``__old`` from a crashed
        earlier load is swept before writing (``_recover``).

        The input lineage is computed exactly once (by the staged
        write), so nothing is persisted here.

        Concurrency (r11): the recover sweep and the commit swap hold a
        per-table lock (see ``_table_lock``) and the table is marked
        write-active for the duration, so concurrent READERS of the
        same table neither observe the mid-swap window nor sweep this
        load's live ``__staging`` as a crash orphan. A second
        concurrent WRITE of the same table raises — two drop-and-
        recreate loads of one table have no meaningful interleaving.

        Partitioned writes (r11): empty-string values in a string
        ``partition_by`` column are rejected (a free ``observe`` metric
        riding the write) — hive-style layout writes them as the same
        ``__HIVE_DEFAULT_PARTITION__`` directory as NULL, so they would
        read back as NULL: silent data corruption, and a spurious
        'PK column has nulls' rejection when the column is in the PK.
        NULL partition values round-trip as NULL and stay allowed
        (subject to the PK check).
        """
        import shutil

        from pyspark.sql import Observation

        for c, t in spec.column_types.items():  # S12: cast before write
            df = df.withColumn(c, F.col(c).cast(t))
        fks = [
            fk
            for fk in spec.foreign_keys
            if parents and fk.ref_table in parents
        ]
        str_part_cols = [
            c
            for c in (partition_by or [])
            if dict(df.dtypes).get(c) == "string"
        ]
        out, obs = df, None
        metrics = [
            F.sum(
                F.when(F.col(c) == F.lit(""), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"empty_part_{i}")
            for i, c in enumerate(str_part_cols)
        ]
        for i, fk in enumerate(fks):
            pcols = [f"__p{i}_{j}" for j in range(len(fk.columns))]
            pkeys = (
                parents[fk.ref_table]
                .select(
                    *[
                        F.col(rc).alias(pc)
                        for rc, pc in zip(fk.ref_columns, pcols)
                    ]
                )
                .distinct()
                .withColumn(f"__hit{i}", F.lit(1))
            )
            cond = None
            for c, pc in zip(fk.columns, pcols):
                clause = out[c] == F.col(pc)
                cond = clause if cond is None else cond & clause
            out = out.join(F.broadcast(pkeys), cond, "left").drop(*pcols)
            non_null = F.lit(True)
            for c in fk.columns:
                non_null = non_null & F.col(c).isNotNull()
            metrics.append(
                F.sum(
                    F.when(
                        non_null & F.col(f"__hit{i}").isNull(),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ).alias(f"orphans_{i}")
            )
        if metrics:
            obs = Observation()
            out = out.observe(obs, *metrics).drop(
                *[f"__hit{i}" for i in range(len(fks))]
            )
        live = self._path(spec.name)
        lock = _table_lock(live)
        from dw_etl_spark.streaming.sinks import _commit_swap, _recover_swap

        with lock:
            with _REGISTRY_GUARD:
                if live in _ACTIVE_WRITES:
                    raise RuntimeError(
                        f"concurrent write_table on {spec.name!r}: two "
                        "drop-and-recreate loads of one table have no "
                        "meaningful interleaving"
                    )
                _ACTIVE_WRITES.add(live)
            try:
                _recover_swap(live)  # full sweep: this load owns the table
            except BaseException:
                with _REGISTRY_GUARD:
                    _ACTIVE_WRITES.discard(live)
                raise
        target = f"{live}__staging"
        try:
            try:
                writer = out.write.mode("overwrite")
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(target)
                got = obs.get if metrics else {}
                for i, c in enumerate(str_part_cols):
                    empties = got[f"empty_part_{i}"]
                    if empties:
                        raise ConstraintViolation(
                            f"partition column {c}: {empties} rows hold "
                            "the empty string, which hive-style layout "
                            "cannot distinguish from NULL on read-back"
                        )
                for i, fk in enumerate(fks):
                    orphans = got[f"orphans_{i}"]
                    if orphans:
                        raise ConstraintViolation(
                            f"FK {fk.name}: {orphans} child rows have no "
                            f"parent in {fk.ref_table}"
                        )
                if spec.primary_key:
                    # explicit schema: partition columns read back with
                    # their written types, not dir-name inference (a PK
                    # overlapping partition_by must not merge '1'/'01')
                    written = self.spark.read.schema(df.schema).parquet(
                        target
                    )
                    check_primary_key(written, spec.primary_key)
                if pre_commit is not None:
                    # visibility gate (r14): the caller can overlap this
                    # staged write + validation with other loads and
                    # still order COMMITS — e.g. load_star_schema keeps
                    # "fact visible ⇒ all dims visible" while the fact's
                    # heavy write runs concurrently with slow dims. A
                    # raise here cleans the staging like any failed
                    # validation.
                    pre_commit()
            except BaseException:
                shutil.rmtree(target, ignore_errors=True)
                raise
            with lock:
                _commit_swap(live)
                _evict_relations(live)
        finally:
            with _REGISTRY_GUARD:
                _ACTIVE_WRITES.discard(live)


# Spark dtype → SQL DDL type (reference load.py:21-33 get_id_datatype).
_SQL_TYPES: dict[str, str] = {
    "bigint": "BIGINT",
    "int": "INT",
    "smallint": "SMALLINT",
    "double": "FLOAT",
    "float": "REAL",
    "string": "NVARCHAR(255)",
    "boolean": "BIT",
    "date": "DATE",
    "timestamp": "DATETIME2",
}


def sql_type_for(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    return _SQL_TYPES.get(dt.simpleString(), "NVARCHAR(MAX)")


# DDL generators — pure functions, unit-testable without a server.

def ddl_drop_table(name: str) -> str:  # S9
    return f"DROP TABLE IF EXISTS {name}"

def ddl_set_primary_key(name: str, pk: list[str], pk_types: dict[str, str]) -> list[str]:  # S10
    stmts = [
        f"ALTER TABLE {name} ALTER COLUMN {c} {pk_types[c]} NOT NULL" for c in pk
    ]
    cols = ", ".join(pk)
    stmts.append(f"ALTER TABLE {name} ADD CONSTRAINT PK_{name} PRIMARY KEY ({cols})")
    return stmts

def ddl_add_foreign_key(name: str, fk: ForeignKey) -> str:  # S11
    return (
        f"ALTER TABLE {name} ADD CONSTRAINT {fk.name} FOREIGN KEY "
        f"({', '.join(fk.columns)}) REFERENCES {fk.ref_table} "
        f"({', '.join(fk.ref_columns)})"
    )

def ddl_drop_foreign_key(name: str, fk_name: str) -> str:  # S11 (guarded drop)
    # scoped to the parent table like the reference (resources.py:137-141)
    # — constraint names are only unique per table in SQL Server, and an
    # unscoped guard could fire the DROP against the wrong match
    return (
        f"IF EXISTS (SELECT 1 FROM sys.foreign_keys WHERE name = '{fk_name}' "
        f"AND parent_object_id = OBJECT_ID('{name}')) "
        f"ALTER TABLE {name} DROP CONSTRAINT {fk_name}"
    )

def ddl_alter_column_type(name: str, column: str, sql_type: str) -> str:  # S12
    return f"ALTER TABLE {name} ALTER COLUMN {column} {sql_type}"


class JdbcWarehouse:
    """RDBMS warehouse: parallel batched-INSERT writes + driver DDL.

    ``df.write.jdbc`` with ``batchsize`` is the distributed version of
    the reference's chunked multi-row INSERT (resources.py:66-73) —
    every executor writes its partitions concurrently.

    ``dialect`` selects the DDL/catalog flavor: ``"sqlserver"``
    (reference parity — T-SQL ``IF EXISTS`` guards, INFORMATION_SCHEMA,
    NVARCHAR types) or ``"derby"`` (embedded Apache Derby, which ships
    with Spark — the dialect the e2e tests run against in-process).
    Derby deltas: no ``IF EXISTS`` anywhere (existence is probed via
    ``SYS`` catalogs first), ANSI type names, and ``ALTER COLUMN SET
    DATA TYPE`` is VARCHAR-widening-only, so the FK type retrofit is a
    no-op — Spark's JDBC writer already created identical types on both
    sides of the key.
    """

    def __init__(self, spark: SparkSession, url: str, properties: dict[str, str],
                 batchsize: int = 10_000, dialect: str = "sqlserver"):
        if dialect not in ("sqlserver", "derby"):
            raise ValueError(f"unsupported dialect: {dialect!r}")
        self.spark = spark
        self.url = url
        self.properties = properties
        self.batchsize = batchsize
        self.dialect = dialect

    def execute(self, statement: str) -> None:
        """Run one DDL statement over a JVM DriverManager connection."""
        jvm = self.spark.sparkContext._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            conn.createStatement().execute(statement)
        finally:
            conn.close()

    def table_exists(self, name: str) -> bool:  # S8
        if self.dialect == "derby":
            # Spark's JDBC writer emits the table name unquoted (Derby
            # uppercases it) but quotes COLUMN names (exact case kept) —
            # catalog probes and DDL must follow the same split
            probe = (
                "(SELECT COUNT(*) AS n FROM SYS.SYSTABLES "
                f"WHERE TABLENAME = '{name.upper()}') q"
            )
        else:
            probe = (
                "(SELECT COUNT(*) AS n FROM INFORMATION_SCHEMA.TABLES "
                f"WHERE TABLE_NAME = '{name}') q"
            )
        row = self.spark.read.jdbc(self.url, probe, properties=self.properties).first()
        return bool(row and row[0])  # positional: Derby uppercases aliases

    def introspect(self, name: str) -> DataFrame:  # S13
        if self.dialect == "derby":
            # Derby's catalog: SYSCOLUMNS type descriptors stringify as
            # e.g. 'BIGINT NOT NULL' — split into the standard 4-col shape
            q = (
                "(SELECT t.TABLENAME AS TABLE_NAME, "
                "c.COLUMNNAME AS COLUMN_NAME, "
                "CAST(c.COLUMNDATATYPE AS VARCHAR(128)) AS DATA_TYPE "
                "FROM SYS.SYSCOLUMNS c JOIN SYS.SYSTABLES t "
                "ON c.REFERENCEID = t.TABLEID "
                f"WHERE t.TABLENAME = '{name.upper()}') q"
            )
            raw = self.spark.read.jdbc(self.url, q, properties=self.properties)
            return raw.select(
                "TABLE_NAME",
                "COLUMN_NAME",
                F.trim(F.regexp_replace("DATA_TYPE", "NOT NULL", "")).alias(
                    "DATA_TYPE"
                ),
                F.when(
                    F.col("DATA_TYPE").contains("NOT NULL"), F.lit("NO")
                ).otherwise(F.lit("YES")).alias("IS_NULLABLE"),
            )
        q = (
            "(SELECT TABLE_NAME, COLUMN_NAME, DATA_TYPE, IS_NULLABLE "
            f"FROM INFORMATION_SCHEMA.COLUMNS WHERE TABLE_NAME = '{name}') q"
        )
        return self.spark.read.jdbc(self.url, q, properties=self.properties)

    def drop_table(self, name: str) -> None:  # S9
        if self.dialect == "derby":
            if self.table_exists(name):  # Derby has no IF EXISTS
                self.execute(f"DROP TABLE {name}")
        else:
            self.execute(ddl_drop_table(name))

    def drop_foreign_key(self, table: str, fk_name: str) -> None:  # S11 (guarded)
        if self.dialect == "derby":
            probe = (
                "(SELECT COUNT(*) AS n FROM SYS.SYSCONSTRAINTS "
                f"WHERE CONSTRAINTNAME = '{fk_name.upper()}') q"
            )
            row = self.spark.read.jdbc(
                self.url, probe, properties=self.properties
            ).first()
            if row and row[0]:
                self.execute(f"ALTER TABLE {table} DROP CONSTRAINT {fk_name}")
        else:
            self.execute(ddl_drop_foreign_key(table, fk_name))

    def write_table(self, df: DataFrame, spec: TableSpec, **_ignored) -> None:
        for c, t in spec.column_types.items():
            df = df.withColumn(c, F.col(c).cast(t))
        self.drop_table(spec.name)  # S9: drop-then-write
        props = dict(self.properties, batchsize=str(self.batchsize))
        df.write.jdbc(self.url, spec.name, mode="append", properties=props)  # S7
        if spec.primary_key:  # S10 retrofit
            if self.dialect == "derby":
                for c in spec.primary_key:
                    self.execute(
                        f'ALTER TABLE {spec.name} ALTER COLUMN "{c}" NOT NULL'
                    )
                cols = ", ".join(f'"{c}"' for c in spec.primary_key)
                self.execute(
                    f"ALTER TABLE {spec.name} ADD CONSTRAINT "
                    f"PK_{spec.name} PRIMARY KEY ({cols})"
                )
            else:
                pk_types = {
                    c: sql_type_for(df.schema[c].dataType)
                    for c in spec.primary_key
                }
                for stmt in ddl_set_primary_key(
                    spec.name, spec.primary_key, pk_types
                ):
                    self.execute(stmt)
        for fk in spec.foreign_keys:  # S11/S12 retrofit
            if self.dialect == "derby":
                # writer-created types already match both sides; ALTER
                # ... SET DATA TYPE is VARCHAR-widening-only in Derby
                cols = ", ".join(f'"{c}"' for c in fk.columns)
                refs = ", ".join(f'"{c}"' for c in fk.ref_columns)
                self.execute(
                    f"ALTER TABLE {spec.name} ADD CONSTRAINT {fk.name} "
                    f"FOREIGN KEY ({cols}) REFERENCES {fk.ref_table} ({refs})"
                )
            else:
                fk_type = sql_type_for(df.schema[fk.columns[0]].dataType)
                self.execute(
                    ddl_alter_column_type(spec.name, fk.columns[0], fk_type)
                )
                self.execute(ddl_add_foreign_key(spec.name, fk))


# ---------------------------------------------------------------- orchestration

def load_star_schema(
    warehouse,
    tables: dict[str, DataFrame],
    specs: dict[str, TableSpec],
    fact_name: str,
) -> None:
    """Reference load stage (jobs.py:41-47, load.py:82-168): dims first,
    fact last so FK targets exist; with JDBC, FKs dropped up front.

    With the parquet backend the fact's FK parents are the JUST-WRITTEN
    dim parquet tables, not pinned dim lineages: the parent side of
    each FK check is a column-pruned distinct over key columns of a
    file that already exists, so nothing is persisted and every
    table's lineage is computed exactly once — by its own staged
    write. (With JDBC the database enforces the FKs itself.)

    Dim loads are independent of each other (only the fact depends on
    them), so the parquet backend submits them as CONCURRENT Spark
    jobs — the same parallelism the reference's Dagster DAG gets from
    independent load nodes (jobs.py:41-47). The JDBC path stays
    sequential: embedded-driver DDL is not safely concurrent and the
    reference's RDBMS load was serial anyway.

    Fact overlap (r14, guide §2.6): the fact's staged write +
    validation needs only its FK PARENT dims to be committed (their
    written key sets ride the write as broadcast markers), so it
    starts as soon as those parents land instead of after the slowest
    dim — at sf0.1 the fact (~3.3 s) previously queued behind
    DIM_Indicator (~4 s) despite only referencing DIM_Date (~1 s).
    The COMMIT swap still waits for every dim (``pre_commit``), so the
    crash-visibility invariant "fact visible ⇒ all dims visible" is
    unchanged, and a dim failure surfaces from load_star_schema with
    the fact staging cleaned, exactly as before.
    """
    if isinstance(warehouse, JdbcWarehouse):
        for spec in specs.values():
            for fk in spec.foreign_keys:
                warehouse.drop_foreign_key(spec.name, fk.name)
    dim_names = [n for n in tables if n != fact_name]
    parents: dict[str, DataFrame] = {}
    # Fact-pin prewarm (r15, guide §2.6): the fact's STAGED WRITE must
    # queue behind its FK-parent dims (the parent key sets ride the
    # write as broadcast markers built from the WRITTEN dim parquet),
    # but the fact lineage's expensive prefix — add_unique_id's range
    # exchange + sort + cache write, exposed as ``_dw_id_pin`` — depends
    # on nothing the dims produce. Materialize it from a side thread
    # while the dims load, so the fact write that follows reads the
    # cached snapshot instead of paying the full-data exchange serially
    # after the slowest parent. Best-effort: any error here is swallowed
    # (the write recomputes and surfaces it properly); parquet backend
    # only (JDBC stays serial by design). No extra pass at any scale —
    # the pin is computed exactly once either way.
    warm_thread = None
    if isinstance(warehouse, ParquetWarehouse):
        pin = getattr(tables[fact_name], "_dw_id_pin", None)
        if pin is not None:
            import threading

            def _warm(p=pin) -> None:
                try:
                    p.sparkSession.sparkContext.setJobDescription(
                        f"prewarm {fact_name} id pin"
                    )
                    p.count()
                except Exception:
                    pass

            warm_thread = threading.Thread(target=_warm, daemon=True)
            warm_thread.start()
    if isinstance(warehouse, ParquetWarehouse) and len(dim_names) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(dim_names))) as ex:
            futures = {
                n: ex.submit(warehouse.write_table, tables[n], specs[n])
                for n in dim_names
            }
            fk_parents = [
                fk.ref_table
                for fk in specs[fact_name].foreign_keys
                if fk.ref_table in futures
            ]
            for n in fk_parents:  # the fact's write needs only these
                futures[n].result()
            parents = {
                n: warehouse.read_table(n) for n in fk_parents
            }
            # surface an ALREADY-FAILED non-parent dim before paying for
            # the fact's staged write (r15, ADVICE r14): the pre_commit
            # gate below still catches late failures, but a dim that
            # died while the parents loaded should not be masked by a
            # subsequent fact-side validation error, nor cost a full
            # staged fact write to discover.
            for n in dim_names:
                if futures[n].done():
                    futures[n].result()

            def _all_dims_committed() -> None:
                for n in dim_names:  # surface the first failure, in order
                    futures[n].result()

            warehouse.write_table(
                tables[fact_name],
                specs[fact_name],
                parents=parents or None,
                pre_commit=_all_dims_committed,
            )
        if warm_thread is not None:
            warm_thread.join()  # no stray job outlives the load
        return
    try:
        for name in dim_names:
            warehouse.write_table(tables[name], specs[name])
        if isinstance(warehouse, ParquetWarehouse):
            parents = {n: warehouse.read_table(n) for n in dim_names}
        warehouse.write_table(
            tables[fact_name], specs[fact_name], parents=parents or None
        )
    finally:
        if warm_thread is not None:
            warm_thread.join()
