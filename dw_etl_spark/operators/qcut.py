"""Per-group quantile bucketing (SURVEY.md §2.4 A8, §2.5 W3).

Reference: ``groupby('Year')[ind].transform(qcut(q=3, duplicates='drop'))``
labeled Low/Medium/High, collapsing to fewer labels when quantile edges
tie (transform.py:322-353).

Two engine variants, different tie semantics, both distributed:

- ``ntile_buckets`` — count-based n-tiles. Deterministic given a total
  order (pass a tiebreak column). NULL values keep a NULL bucket
  (pandas qcut propagates NaN). Implemented as *exact ntile arithmetic*
  over ``row_number``/``count`` windows rather than ``F.ntile`` so that
  (a) NULLs can be excluded without a filter→union plan split (a union
  per bucketed column would double the plan subtree each time — 2^k
  copies for k indicator columns), and (b) the integer formula is
  bit-identical across engines (DuckDB oracle parity). One shuffle on
  the group key; bucketing k columns = k in-partition sorts, zero extra
  exchanges.
- ``qcut_by_group`` — exact pandas ``qcut`` semantics (value-bin by
  interpolated quantile edges, ``duplicates='drop'`` label collapse,
  NaN propagation) via ``applyInPandas`` per group — Arrow-batched,
  used as the pandas-parity variant and tested against pandas itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_LABELS = ["Low", "Medium", "High"]


def _exact_ntile(rn: Column, cnt: Column, n: int) -> Column:
    """SQL-standard ntile(n) of row ``rn`` (1-based) among ``cnt`` rows.

    Bucket sizes: first ``cnt % n`` buckets get ``ceil(cnt/n)`` rows,
    the rest get ``floor(cnt/n)``. Pure integer arithmetic — identical
    in any engine, unit-tested against Spark's native ``ntile``.
    """
    base = F.floor(cnt / n)
    rem = cnt % n
    big = base + 1  # size of the first `rem` buckets
    boundary = rem * big  # rows living in big buckets
    return F.when(
        rn <= boundary, F.floor((rn - 1) / big) + 1
    ).otherwise(rem + F.floor((rn - boundary - 1) / F.greatest(base, F.lit(1))) + 1)


def _value_and_out_cols(
    value_col: str | list[str], out_col: str | list[str] | None
) -> tuple[list[str], list[str]]:
    """Normalize the one-or-many column arguments of the bucketers to
    parallel lists; the default output name is ``{value}Bucket``."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    if out_col is None:
        return value_cols, [f"{c}Bucket" for c in value_cols]
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(out_cols) != len(value_cols):
        raise ValueError("value_col and out_col must have the same length")
    return value_cols, out_cols


def ntile_buckets(
    df: DataFrame,
    group_by: list[str],
    value_col: str | list[str],
    n: int = 3,
    labels: list[str] | None = None,
    out_col: str | list[str] | None = None,
    tiebreak: list[str | Column] | None = None,
) -> DataFrame:
    """Equal-count buckets per group; NULL values → NULL bucket.

    Ties at bucket boundaries split by (value, tiebreak) order — pass
    ``tiebreak`` for cross-engine determinism. ``value_col`` and
    ``out_col`` may be parallel lists: every column is bucketed in one
    projection, the same as one call per column.
    """
    labels = labels or DEFAULT_LABELS[:n]
    value_cols, out_cols = _value_and_out_cols(value_col, out_col)
    label_map = F.create_map(
        *[F.lit(x) for i, lb in enumerate(labels, 1) for x in (i, lb)]
    )
    w_part = Window.partitionBy(*group_by)

    def bucket(c: str) -> Column:
        val = F.col(c)
        # nulls sort last so non-null rows get rn ∈ 1..count(value)
        w_order = w_part.orderBy(val.asc_nulls_last(), *(tiebreak or []))
        rn = F.row_number().over(w_order)
        tile = _exact_ntile(rn, F.count(val).over(w_part), n)
        return F.when(val.isNotNull(), F.element_at(label_map, tile.cast("int")))

    return df.withColumns({o: bucket(c) for c, o in zip(value_cols, out_cols)})


def _qcut_labels(n_bins: int, labels: list[str]) -> list[str]:
    """Label shrink rule when quantile edges collapse (reference
    transform.py:324-332): 3→Low/Medium/High, 2→Low/High, 1→Low."""
    if n_bins >= 3:
        return labels[:n_bins]
    if n_bins == 2:
        return [labels[0], labels[-1]]
    return [labels[0]]


_HIST_EDGE_CAP = 2_000_000  # max collected (group, col, value) hist rows


class _SqlLiteralUnsupported(TypeError):
    """A group-key type the SQL-string fast assembly can't render."""


def _sql_literal(v, legacy_escapes: bool = False) -> str:
    """Render a Python value as a Spark SQL literal with the SAME
    runtime semantics as ``F.lit(v)``: NULL, BOOLEAN, integral,
    ``D``-suffixed double (``repr`` round-trips float64 exactly and
    Spark parses the ``D`` suffix as DoubleType — an unsuffixed
    decimal literal would parse as DECIMAL), quote-escaped string.
    Strings are parser-mode aware (r11 review fix): the default
    parser unescapes ``\\'``/``\\\\`` inside single quotes, but with
    ``spark.sql.parser.escapedStringLiterals=true`` every backslash
    is a literal character (verified empirically: ``'it\\'s'`` parses
    with the backslash KEPT and ``''`` is not a quote escape), so the
    caller must pass ``legacy_escapes=True`` — strings then render
    raw inside whichever quote style does not occur in the value, and
    a string containing BOTH quote chars raises. Raises
    ``_SqlLiteralUnsupported`` for any unrenderable value — the
    caller keeps a Column-based fallback."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        import math

        if not math.isfinite(v):  # inf/nan have no SQL literal form
            raise _SqlLiteralUnsupported("non-finite float")
        return f"{v!r}D"
    if isinstance(v, str):
        if not legacy_escapes:
            escaped = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{escaped}'"
        if "'" not in v:
            return f"'{v}'"
        if '"' not in v:
            return f'"{v}"'
        raise _SqlLiteralUnsupported(
            "string with both quote chars under escapedStringLiterals"
        )
    raise _SqlLiteralUnsupported(type(v).__name__)


def _group_quantile_edges(
    df: DataFrame,
    group_by: list[str],
    value_cols: list[str],
    n: int,
    max_groups: int | None = None,
) -> dict[tuple, dict[str, list[float]]] | None:
    """Per-group linear-interpolation quantile edges [q0..qn], computed
    driver-side from a value histogram: {group_key: {col: edges}}.

    One map-combinable pass builds per-(group, col, value) counts (the
    melt is an explode of a len(value_cols)-struct array — still one
    scan); the bounded histogram (groups × distinct values, capped)
    comes back as ONE Arrow batch (``toPandas`` — a ``collect()`` of
    the same rows paid ~10× in py4j Row deserialization at 500k
    histogram rows) and the weighted quantiles are interpolated with
    the numpy lerp ``v_lo + (v_hi - v_lo)·frac`` — bit-identical to
    pandas and DuckDB ``quantile_cont`` (searchsorted-right ==
    bisect_right, IEEE-identical float64 arithmetic). Returns None when
    the histogram exceeds the cap (high-cardinality doubles) — caller
    falls back to the ``percentile`` agg.
    """
    import math

    import numpy as np

    melt = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("__col"),
                    F.col(c).cast("double").alias("__val"),
                )
                for c in value_cols
            ]
        )
    )
    import pandas as pd

    # toPandas renders a nullable integral group column as float64,
    # silently lossy above 2^53 (collect() preserved exact ints).
    # Route integral group keys through a lossless string cast
    # Spark-side and parse them back to Python ints driver-side.
    integral = {
        c
        for c, t in df.select(*group_by).dtypes
        if t in ("tinyint", "smallint", "int", "bigint")
    }
    sel_groups = [
        F.col(c).cast("string").alias(c) if c in integral else F.col(c)
        for c in group_by
    ]
    hist_df = (
        df.select(*sel_groups, melt.alias("m"))
        .select(*group_by, "m.__col", "m.__val")
        .filter(F.col("__val").isNotNull())
        .groupBy(*group_by, "__col", "__val")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # cap check via count-over-cache, NOT ``.limit(cap+1).toPandas()``
    # (r14, guide §1.1): a large-limit collect executes as Spark's
    # incremental CollectLimit — partition batches of 1, 4, 16, … with
    # the final aggregate stage re-run per batch. Profiled on
    # text_features (ccnet edge fit): ~20 toPandas jobs per fit, ~2/3
    # of the query's wall. The lazy pin makes this exactly two jobs —
    # the count materializes the histogram into the block cache (the
    # real aggregation work, paid once), the Arrow collect drains it —
    # and the over-cap bail-out still never collects an unbounded
    # histogram to the driver (it unpersists and falls back instead).
    # r15 (guide §5 — bounded driver collect, VERDICT r14 #4): the
    # GROUP-count gate rides the same cap job (count + an approximate
    # group-cardinality probe over the histogram, one job either way),
    # so a
    # high-group-cardinality table — the 100 TB shape where the
    # driver-literal CASE would be a plan bomb — bails to the in-plan
    # edges-via-join fallback WITHOUT ever draining the histogram to
    # the driver. Previously the whole histogram was collected first
    # and the group count checked only afterwards, discarding the
    # collect.
    hist_df = hist_df.persist()
    try:
        caps = hist_df.agg(
            F.count(F.lit(1)).alias("__n"),
            *(
                # approx (HLL), not count_distinct: exact multi-distinct
                # plans an Expand that doubles the histogram rows through
                # a second shuffle (measured +1 s on dim_indicator's
                # high-cardinality fit); the gate is a plan-size
                # threshold, ~2 % HLL error routes identically in
                # practice and BOTH routes are result-identical anyway
                # (pinned by test_qcut_expr_fast_and_fallback_paths_agree).
                # Struct-wrapped so NULL group keys count as real groups.
                [
                    F.approx_count_distinct(
                        F.struct(*[F.col(c) for c in group_by])
                    ).alias("__g")
                ]
                if max_groups is not None and group_by
                else []
            ),
        ).first()
        if caps["__n"] > _HIST_EDGE_CAP:
            return None
        if max_groups is not None and group_by and caps["__g"] > max_groups:
            return None
        pdf = hist_df.toPandas()
    finally:
        hist_df.unpersist()

    for c in integral:
        pdf[c] = pdf[c].map(lambda s: None if pd.isna(s) else int(s))

    def py_key(vals: tuple) -> tuple:
        # pandas renders null keys as NaN/NaT/NA and ints as numpy
        # scalars; normalize back to the plain-Python values `F.lit`
        # expects
        out = []
        for v in vals:
            if v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)):
                out.append(None)
            elif hasattr(v, "item"):
                out.append(v.item())
            else:
                out.append(v)
        return tuple(out)

    hist: dict[tuple, dict[str, list[float]]] = {}
    for idx_key, grp in pdf.groupby([*group_by, "__col"], dropna=False, sort=False):
        if not isinstance(idx_key, tuple):
            idx_key = (idx_key,)
        *key_vals, colname = idx_key
        key = py_key(tuple(key_vals))
        v = grp["__val"].to_numpy(dtype=float)
        c = grp["__cnt"].to_numpy(dtype="int64")
        order = np.argsort(v, kind="stable")
        v, cums = v[order], np.cumsum(c[order])
        m = int(cums[-1])
        edges = []
        for i in range(n + 1):
            h = (m - 1) * (i / n)
            fl = math.floor(h)
            vlo = float(v[np.searchsorted(cums, fl, side="right")])
            vhi = float(v[np.searchsorted(cums, math.ceil(h), side="right")])
            edges.append(vlo + (vhi - vlo) * (h - fl))
        hist.setdefault(key, {})[str(colname)] = edges
    return hist


def qcut_by_group_expr(
    df: DataFrame,
    group_by: list[str],
    value_col: str | list[str],
    n: int = 3,
    labels: list[str] | None = None,
    out_col: str | list[str] | None = None,
    max_literal_groups: int = 1024,
) -> DataFrame:
    """pandas-``qcut`` semantics as pure JVM expressions — no Python in
    the data path (the ``applyInPandas`` twin ``qcut_by_group`` pays an
    Arrow round-trip and single-threaded pandas per group).

    Fast path: per-group quantile edges come from a one-pass value
    histogram interpolated driver-side (numpy-identical lerp), then the
    assignment is an inlined literal CASE chain — group dispatch and
    right-closed-interval comparisons against constant edges, fully
    codegen'd, zero joins, zero extra scans. duplicates='drop' happens
    driver-side (dedup edges, shrink the label set like _qcut_labels).

    Fallback (histogram over the cap — high-cardinality doubles — OR
    more than ``max_literal_groups`` groups): grouped ``percentile``
    agg broadcast-joined back, bucket index via unrolled comparisons
    (no HOF lambdas — Spark interprets those). The group-count gate
    exists because the fast path inlines one ``when(group-key …)``
    branch per group: at 100k groups that is a 100k-branch expression
    tree — a plan-size bomb (same failure class as broadcasting k-means
    centroids as k column literals, see similarity.py). Both paths use
    EXACT-RANK edge arithmetic (numpy lerp ≡ ``percentile``), so
    routing is invisible in results — pinned by
    ``test_qcut_expr_fast_and_fallback_paths_agree``.

    Semantics note: edges follow EXACT-RANK arithmetic (``percentile``/
    ``quantile_cont``). pandas qcut routes quantiles through
    ``np.percentile(q*100)`` whose /100 round-trip lands 1 ulp low, so
    at an exactly-integral rank (e.g. [1,1,2,2] at q=2/3) pandas keeps
    a bin this variant collapses. Property-tested against DuckDB
    quantile_cont; the divergence corner is pinned in
    ``test_qcut_tie_rank_ulp_divergence_documented``. Use
    ``qcut_by_group`` when bit-exact pandas behavior is required.
    """
    value_cols, out_cols = _value_and_out_cols(value_col, out_col)
    labels = labels or DEFAULT_LABELS

    edge_map = _group_quantile_edges(
        df, group_by, value_cols, n, max_groups=max_literal_groups
    )
    if edge_map is not None and len(edge_map) > max_literal_groups:
        edge_map = None  # belt-and-braces; the fit gate bails first
    if edge_map is not None:
        # assemble each column's group-dispatch CASE as ONE SQL string
        # and parse it once (r10): the Column-by-Column `.when()` chain
        # cost ~2.5 s of driver py4j round-trips at 30 groups × 5
        # columns (measured on dim_indicator — the data exec was 0.4 s).
        # Semantics are identical: `<=>` is eqNullSafe, `D`-suffixed
        # doubles are the same literals, repr round-trips float64
        # exactly. Falls back to the Column chain when a group key has
        # a type the SQL renderer doesn't cover (dates, binary, ...).
        # parser-mode probe for the string-literal renderer (r11): under
        # escapedStringLiterals=true a backslash is literal, so the
        # renderer must not double it (and doubling quotes, which both
        # modes accept, replaces the mode-dependent \' escape)
        legacy_esc = (
            str(
                df.sparkSession.conf.get(
                    "spark.sql.parser.escapedStringLiterals", "false"
                )
            ).lower()
            == "true"
        )
        out = df
        for vc, oc in zip(value_cols, out_cols):
            branches = []
            for key, cols in edge_map.items():
                if vc not in cols:
                    continue
                uniq = sorted(set(cols[vc]))
                k = len(uniq) - 1
                if k < 1:
                    continue
                lbs = _qcut_labels(k, labels)
                inner = uniq[1:-1]
                branches.append((key, inner, lbs))
            if not branches:
                out = out.withColumn(oc, F.lit(None).cast("string"))
                continue
            try:
                sql_branches = []
                for key, inner, lbs in branches:
                    cond = " AND ".join(
                        f"`{g}` <=> {_sql_literal(kv, legacy_esc)}"
                        for g, kv in zip(group_by, key)
                    )
                    whens = "".join(
                        f" WHEN `{vc}` <= {_sql_literal(e)} "
                        f"THEN {_sql_literal(lb, legacy_esc)}"
                        for e, lb in zip(inner, lbs[:-1])
                    )
                    assign = (
                        f"CASE{whens} ELSE {_sql_literal(lbs[-1], legacy_esc)} END"
                        if whens
                        else _sql_literal(lbs[-1], legacy_esc)
                    )
                    sql_branches.append(f"WHEN {cond} THEN ({assign})")
                chain = "CASE " + " ".join(sql_branches) + " END"
                out = out.withColumn(
                    oc,
                    F.expr(
                        f"CASE WHEN `{vc}` IS NOT NULL THEN ({chain}) END"
                    ),
                )
            except _SqlLiteralUnsupported:
                v = F.col(vc)
                expr = None
                for key, inner, lbs in branches:
                    assign = F.lit(lbs[-1])
                    for e, lb in zip(reversed(inner), reversed(lbs[:-1])):
                        assign = F.when(v <= F.lit(e), F.lit(lb)).otherwise(
                            assign
                        )
                    cond = None
                    for g, kv in zip(group_by, key):
                        c = F.col(g).eqNullSafe(F.lit(kv))
                        cond = c if cond is None else cond & c
                    expr = (
                        F.when(cond, assign)
                        if expr is None
                        else expr.when(cond, assign)
                    )
                out = out.withColumn(oc, F.when(v.isNotNull(), expr))
        return out

    # fallback: grouped percentile agg joined back. No broadcast HINT:
    # this path runs exactly when the group count is large or unknown
    # (histogram overflow / over max_literal_groups), so forcing the
    # edges frame driver-side could itself blow the broadcast limit at
    # e.g. 10M groups — AQE converts to broadcast at runtime whenever
    # the aggregated edges frame is actually small, and keys the
    # shuffle on the group otherwise (the co-partitioned-with-the-agg
    # case).
    qs = ", ".join(repr(i / n) for i in range(n + 1))
    edges = df.groupBy(*group_by).agg(
        *[
            F.expr(f"percentile({c}, array({qs}))").alias(f"__edges_{c}")
            for c in value_cols
        ]
    )
    out = df.join(edges, group_by)
    for vc, oc in zip(value_cols, out_cols):
        uniq = F.array_distinct(F.col(f"__edges_{vc}"))
        sz = F.size(uniq)
        k = sz - 1  # bin count after duplicate collapse
        v = F.col(vc)
        # bucket = #{inner edges e : v > e}; inner edges sit at 1-based
        # positions 2..sz-1. Unrolled over the n-1 possible positions —
        # plain codegen'd comparisons, no higher-order functions
        idx = F.lit(0)
        for j in range(2, n + 1):
            idx = idx + F.when(
                (F.lit(j) <= sz - 1) & (v > F.element_at(uniq, j)), F.lit(1)
            ).otherwise(F.lit(0))
        label_arr = None
        for kk in range(1, n + 1):
            arr = F.array(*[F.lit(x) for x in _qcut_labels(kk, labels)])
            label_arr = (
                F.when(k == kk, arr) if label_arr is None
                else label_arr.when(k == kk, arr)
            )
        out = out.withColumn(
            oc,
            F.when(v.isNotNull() & (k >= 1), F.element_at(label_arr, idx + 1)),
        )
    return out.drop(*[f"__edges_{c}" for c in value_cols])


def qcut_by_group(
    df: DataFrame,
    group_by: list[str],
    value_col: str | list[str],
    n: int = 3,
    labels: list[str] | None = None,
    out_col: str | list[str] | None = None,
) -> DataFrame:
    """Exact pandas-``qcut`` bucketing per group via ``applyInPandas``.

    Arrow-batched grouped map; per-group data fits one worker (the
    reference's groups are year-sized). Pandas-parity variant of
    ``ntile_buckets`` for callers needing bin-by-value semantics.

    ``value_col`` may be a list: all columns are bucketed in ONE grouped
    Arrow pass (one shuffle, one Python round-trip) instead of one
    ``applyInPandas`` stage per column.
    """
    import pandas as pd

    labels = labels or DEFAULT_LABELS
    value_cols, out_cols = _value_and_out_cols(value_col, out_col)
    schema_out = T.StructType(
        [
            *df.schema.fields,
            *[T.StructField(o, T.StringType(), True) for o in out_cols],
        ]
    )

    def bucketize(pdf: pd.DataFrame) -> pd.DataFrame:
        for vc, oc in zip(value_cols, out_cols):
            series = pdf[vc]
            try:
                binned, edges = pd.qcut(
                    series, q=n, retbins=True, duplicates="drop", labels=None
                )
                n_bins = len(edges) - 1
                if n_bins <= 0:
                    pdf[oc] = None
                    continue
                lbs = _qcut_labels(n_bins, labels)
                pdf[oc] = binned.cat.rename_categories(lbs).astype(str)
                pdf.loc[series.isna(), oc] = None
            except (ValueError, IndexError):
                pdf[oc] = None
        return pdf

    return df.groupBy(*group_by).applyInPandas(bucketize, schema=schema_out)
