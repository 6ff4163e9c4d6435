"""File sources: CSV / Parquet scans with schema validation.

Capability parity (SURVEY.md §2.1):
  S1  CSV scan with fail-on-absent/empty      (reference resources.py:192-201)
  S2  required-column schema validation        (reference extract.py:28-29,112-114)
  S5  CSV sink                                 (reference raw_analysis/main.py:27-38)

Spark-first notes:
- Scans are lazy; Catalyst pushes filters/column pruning into the reader.
  Parquet is the scale path (columnar, predicate pushdown, partition
  pruning); CSV kept for parity with the reference's inputs.
- ``mode=FAILFAST`` gives the reference's fail-on-malformed semantics at
  read time rather than silently nulling.
- The empty-input guard is an action (``isEmpty``) — cheap (reads one
  partition) but still a job; it is opt-in via ``require_nonempty``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaValidationError(ValueError):
    """Raised when a source is missing required columns or is empty."""


def validate_required_columns(df: DataFrame, required: list[str]) -> DataFrame:
    """Fail fast if any required column is missing (reference extract.py:112-114).

    Driver-side check on the analyzed schema — no job is triggered.
    """
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise SchemaValidationError(f"missing required columns: {missing}")
    return df


def _require_nonempty(df: DataFrame, source: str) -> DataFrame:
    if df.isEmpty():
        raise SchemaValidationError(f"source {source!r} is empty")
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    required_columns: list[str] | None = None,
    require_nonempty: bool = False,
    **options: str,
) -> DataFrame:
    """CSV scan (S1+S2). FAILFAST when a schema is declared (strict parse)."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema).option("mode", "FAILFAST")
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.csv(path)
    if required_columns:
        validate_required_columns(df, required_columns)
    if require_nonempty:
        _require_nonempty(df, path)
    return df


def read_parquet(
    spark: SparkSession,
    path: str,
    required_columns: list[str] | None = None,
    require_nonempty: bool = False,
) -> DataFrame:
    """Parquet scan — the scale path (columnar + pushdown + pruning)."""
    df = spark.read.parquet(path)
    if required_columns:
        validate_required_columns(df, required_columns)
    if require_nonempty:
        _require_nonempty(df, path)
    return df


#: below this the table is broadcast-dimension-sized (nation/region/
#: supplier tier) and spreading it would only add scheduling overhead
_SPREAD_MIN_BYTES = 100 * 1024


def _estimated_scan_splits(sizes: list[int], parallelism: int) -> int:
    """Replicate Spark's file-split arithmetic (FilePartition):
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes/defaultParallelism)) with the 4 MB open cost charged per
    file — the planned scan-partition count without building a plan."""
    open_cost = 4 * 1024 * 1024
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(128 * 1024 * 1024, max(open_cost, total // max(parallelism, 1)))
    return max(1, sum(-(-s // max_split) for s in sizes if s > 0))


def spread_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive parallelism floor for small scans (r14, guide
    §2.2/§2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    A bench-scale table is ONE parquet file under the 4 MB open-cost
    floor, so the scan — and every narrow map stage fused onto it
    (tokenization, regex chains, per-row feature extraction, the
    expensive part of most corpus queries) — runs as a SINGLE task
    while the other 31 cores idle; profiling showed 4-8 s single-task
    CPU-bound stages inside token_freq at sf0.1. Round-robin
    ``repartition(defaultParallelism)`` immediately after the read
    spreads that work; filter pushdown and column pruning still reach
    the scan THROUGH the exchange (verified in the r14 plan dumps:
    PushedFilters/ReadSchema unchanged).

    Scale-adaptive by construction: the decision replays Spark's own
    split arithmetic from the file sizes — at warehouse scale the scan
    splits to >= cores by itself, the condition is false, and no
    exchange is added (a blanket repartition would be a full shuffle of
    the table — exactly wrong at 100 TB). Sub-100 KB dimension tables
    (nation/region tier: broadcast sides, often <1 row/task after a
    spread) are left alone."""
    try:
        sizes = _parquet_file_sizes(path)
    except OSError:
        return df
    total = sum(sizes)
    par = spark.sparkContext.defaultParallelism
    if total < _SPREAD_MIN_BYTES:
        return df
    if _estimated_scan_splits(sizes, par) >= par:
        return df
    return df.repartition(par)


def _parquet_file_sizes(path: str) -> list[int]:
    import os

    if os.path.isdir(path):
        return [
            e.stat().st_size
            for e in os.scandir(path)
            if e.is_file() and not e.name.startswith(("_", "."))
        ]
    return [os.stat(path).st_size]


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Read one driver testdata table: ``{sf_dir}/{name}.parquet``.

    ``spread=False`` skips the small-scan parallelism floor (r14): an
    eager FIT that only runs narrow aggregates (count/sketch/sum) gains
    nothing from 32-way fan-out but pays the round-robin exchange per
    pass — measured 1.47 s vs 0.53 s for the bracketed percentile fit
    at sf0.1. At warehouse scale the floor is a no-op either way (the
    scan splits past core count by itself), so the flag only affects
    bench-scale latency, never results or the 100 TB plan shape.

    The ``events`` table's timestamp encoding has varied across driver
    generations; both are normalized to session-zoned TIMESTAMP (the
    session zone is UTC, so values are preserved):

    - nanosecond timestamps — rejected by Spark's vectorized reader
      ([PARQUET_TYPE_ILLEGAL]); read as longs (``nanosAsLong``, set by
      ``allow_nanos_timestamps`` only for such a file) and rebuilt via
      integer division (``div`` — a double round-trip would lose
      precision at 1e18 nanos);
    - microsecond no-tz timestamps — surface as TIMESTAMP_NTZ, which
      streaming watermarks reject ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE])
      → cast.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        allow_nanos_timestamps(spark, path, "ts")
        df = read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return spread_small_scan(spark, df, path) if spread else df
    df = read_parquet(spark, path)
    return spread_small_scan(spark, df, path) if spread else df


def allow_nanos_timestamps(spark: SparkSession, path: str, column: str) -> None:
    """Set ``spark.sql.legacy.parquet.nanosAsLong=true`` only when the
    parquet file at ``path`` stores ``column`` as INT64 nanosecond
    timestamps, so reads of any other file leave the session conf as it
    was. It is left set, not restored, because the caller's frame is
    lazy: its scans run later, under the session conf of that time.

    The probe is one pyarrow footer read (no Spark job) of a local file.
    A URI or a path it cannot read as one file (e.g. a directory of
    parts) sets the conf, which reads either encoding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = True
    if "://" not in path:  # pyarrow would resolve a URI as a remote store
        try:
            ts = pq.read_schema(path).field(column).type
            nanos = pa.types.is_timestamp(ts) and ts.unit == "ns"
        except (OSError, KeyError, pa.ArrowException):
            pass
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _corrupt_schema(
    schema: T.StructType, corrupt_col: str
) -> T.StructType:
    if corrupt_col in schema.fieldNames():
        raise SchemaValidationError(
            f"schema already declares {corrupt_col!r}"
        )
    return T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )


def split_malformed(
    lines: DataFrame,
    schema: T.StructType,
    fmt: str = "csv",
    value_col: str = "value",
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """Split a frame of raw text lines into ``(clean, quarantine)``
    under a declared schema — the format-agnostic core behind
    ``read_csv_with_quarantine`` / ``read_jsonl_with_quarantine``.

    Works on ANY frame with a string ``value_col`` — including a
    STREAMING one (``spark.readStream.text(...)``): the parse is a
    per-line ``from_csv``/``from_json`` expression, fully stateless,
    so both outputs are valid streaming frames (route them to two
    sinks, or split inside one ``foreachBatch`` for a single pass).
    A NULL parse struct (input the parser could not even begin on)
    is corrupt too; clean rows carry exactly the declared schema,
    quarantine rows carry ``raw_record`` + the partial parses.
    """
    if fmt not in ("csv", "json"):
        raise ValueError(f"fmt must be 'csv' or 'json', got {fmt!r}")
    full = _corrupt_schema(schema, corrupt_col)
    opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": corrupt_col,
        **options,
    }
    if fmt == "csv":
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in full.fields
        )
        parse = F.from_csv(F.col(value_col), ddl, opts)
    else:
        parse = F.from_json(F.col(value_col), full, opts)
    parsed = lines.select(F.col(value_col), parse.alias("__parsed"))
    data_cols = schema.fieldNames()
    ok = (
        F.col("__parsed").isNotNull()
        & F.col("__parsed")[corrupt_col].isNull()
    )
    clean = parsed.filter(ok).select(
        *[F.col("__parsed")[c].alias(c) for c in data_cols]
    )
    quarantine = parsed.filter(~ok).select(
        F.col(value_col).alias("raw_record"),
        *[F.col("__parsed")[c].alias(c) for c in data_cols],
    )
    return clean, quarantine


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """CSV scan that SPLITS instead of failing: returns
    ``(clean, quarantine)``.

    The FAILFAST scans (``read_csv``) are the right contract for
    curated warehouse inputs; a web-scale ingest cannot die on row
    3,000,000,001 of a 100 TB drop. ``clean`` carries exactly the
    declared schema; ``quarantine`` carries ``raw_record`` (the
    verbatim line) plus the partially-parsed columns — the triage
    signal for WHICH field broke.

    Shape: a ``text`` scan + per-line ``from_csv`` in PERMISSIVE mode
    with a corrupt-record field — deliberately NOT the CSV
    datasource's own corrupt column. The datasource form determines
    corruptness from only the COLUMNS THE QUERY REFERENCES (that is
    why Spark hard-errors corrupt-column-only queries like a bare
    quarantine ``count()`` — [QUERY_ONLY_CORRUPT_RECORD_COLUMN]);
    the expression form parses the full declared schema per line, so
    the corrupt verdict is consistent under any downstream pruning
    and every aggregate works. Both frames stay lazy scans of the
    same files — nothing cached, any input size; pipelines wanting
    one physical pass should write clean+quarantine in one job
    (union with a validity column, partitioned by it).

    ``header=True`` drops lines equal to the schema's rendered header
    (quoted or bare). Limitation: line-oriented, so multiLine records
    (quoted embedded newlines) are out of scope — the datasource
    FAILFAST path handles those.
    """
    raw = spark.read.text(path)
    if header:
        names = [f.name for f in schema.fields]
        sep = options.get("sep", options.get("delimiter", ","))
        bare = sep.join(names)
        quoted = sep.join(f'"{n}"' for n in names)
        raw = raw.filter(~F.col("value").isin(bare, quoted))
    return split_malformed(
        raw, schema, fmt="csv", corrupt_col=corrupt_col, **options
    )


def read_jsonl_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines twin of ``read_csv_with_quarantine`` — malformed
    JSON (syntax errors, type mismatches under the declared schema)
    lands in ``quarantine.raw_record`` instead of failing the scan.
    Same shape: ``text`` scan + per-line ``from_json`` with a corrupt
    field, so the corrupt verdict is pruning-independent and bare
    aggregates over the quarantine work."""
    return split_malformed(
        spark.read.text(path),
        schema,
        fmt="json",
        corrupt_col=corrupt_col,
        **options,
    )


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S5): quoted, UTF-8 (reference raw_analysis/main.py:27-38).

    ``single_file`` coalesces to 1 partition — only for small outputs;
    at scale leave sharded (the reference's single-file write is a
    single-process artifact, not a semantic requirement).
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").option(
        "quoteAll", "true"
    ).csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    required_columns: list[str] | None = None,
    require_nonempty: bool = False,
) -> DataFrame:
    """JSON-lines scan — the interchange format most raw LLM corpus
    dumps arrive in. With a declared schema the read is FAILFAST
    (strict parse, like the CSV path) and single-pass; without one
    Spark runs a schema-inference pass first — fine for exploration,
    declare the schema in pipelines.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema).option("mode", "FAILFAST")
    df = reader.json(path)
    if required_columns:
        validate_required_columns(df, required_columns)
    if require_nonempty:
        _require_nonempty(df, path)
    return df


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-lines sink, sharded (one file per partition; compressed by
    default — JSONL is the text-heavy format where codec choice
    matters most)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    required_columns: list[str] | None = None,
    require_nonempty: bool = False,
) -> DataFrame:
    """ORC scan — same columnar/pushdown properties as parquet, for
    interop with Hive-era warehouses."""
    df = spark.read.orc(path)
    if required_columns:
        validate_required_columns(df, required_columns)
    if require_nonempty:
        _require_nonempty(df, path)
    return df


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink, sharded."""
    df.write.mode("overwrite").orc(path)
