"""Approximate-nearest-neighbor search over embedding columns.

Two paths over an ``array<float>`` column (training-data extension,
graded alongside SURVEY.md §2):

  cosine_topk        — exact brute-force top-k per query (the baseline
                       and the verifier for the approximate path)
  lsh_topk           — random-hyperplane LSH bucketing: queries only
                       score vectors sharing a bucket → sublinear work
                       per query at scale (recall < 1, tunable via
                       n_planes/n_tables)
  ivf_topk           — IVF-flat cluster routing (broadcast centroid
                       row; optional Lloyd's-trained centroids)
  pq_topk            — product-quantization ADC: m-byte codes + a
                       per-query distance table, 32× less memory
                       traffic per scored row than raw vectors

Scale design:
- Brute force is a crossJoin: |Q|·|N| dot products. Correct at any
  scale when |Q| is small (the broadcast side); the LSH path is for
  |Q|·|N| too large.
- Dot products run as JVM expression trees (``aggregate``/``zip_with``
  over the array column) — no Python, no UDF. Arrays are cast to
  double before accumulation; scores rounded to 6 for cross-engine
  determinism (ordering uses rounded score + id tiebreak).
- Hyperplanes are derived deterministically from md5 hashes (portable;
  the DuckDB oracle reproduces the exact same planes, so the parity
  gate can check the approximate path too, not just the exact one).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cos_sim) — k rows per query,
    self-matches excluded, rank by (rounded score desc, neighbor id).
    ``queries`` should be the small side (broadcast).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """``cosine_topk`` with the |Q|·|N| scoring pass in Arrow+numpy
    (guide §4.2) — bit-identical by construction, pinned by
    ``test_cosine_topk_arrow_bit_identical``:

    - query vectors collect driver-side (|Q| is the small broadcast
      side by contract) and their norms fold left-to-right in Python
      floats (IEEE float64 — the same adds as the JVM fold);
    - per corpus row, dot and norm are elementwise numpy folds in
      coordinate order (acc starts 0.0, one add per coordinate —
      the identical addition sequence as ``zip_with``+``aggregate``);
    - cos = dot / (qnorm · cnorm) in that exact operation order, the
      final ``round(·, 6)``, self-filter and window top-k stay JVM.

    Scale shape unchanged (one narrow pass over the corpus, |Q| rows
    out per corpus row); the win is per-row CPU — the interpreted HOF
    fold allocates per element, numpy fuses per coordinate per batch.
    """
    import numpy as np
    import pyarrow as pa

    qrows = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv")
    ).collect()
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.array([[float(x) for x in r["qv"]] for r in qrows], dtype=np.float64)
    qnorm = np.array(
        [_fold_l2_norm([float(x) for x in r["qv"]]) for r in qrows],
        dtype=np.float64,
    )
    n_q, dim = qmat.shape

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            cv = np.stack(
                batch.column("v").to_numpy(zero_copy_only=False)
            ).astype(np.float64, copy=False)  # (n, dim)
            n = len(ids)
            dot = np.zeros((n_q, n), dtype=np.float64)
            cn2 = np.zeros(n, dtype=np.float64)
            for j in range(dim):
                dot += qmat[:, j : j + 1] * cv[:, j]
                cn2 += cv[:, j] * cv[:, j]
            cn = np.sqrt(cn2)
            cos = dot / (qnorm[:, None] * cn)
            yield pa.record_batch(
                [
                    pa.array(np.repeat(qids, n), type=pa.int64()),
                    pa.array(np.tile(ids, n_q), type=pa.int64()),
                    pa.array(cos.reshape(-1), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "__raw"],
            )

    scored = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).mapInArrow(score, "query_id long, neighbor_id long, __raw double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__raw"), 6).alias("cos_sim"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _fold_l2_norm(vec: list[float]) -> float:
    """sqrt of the left-to-right fold of squares — the exact arithmetic
    of ``l2_norm`` (Python floats are IEEE float64)."""
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return math.sqrt(acc)


def hyperplane(plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane as plain floats:
    component d of plane p = (md5_60bit(f"{p}|{d}") mod 2001 - 1000)/1000.

    Computed driver-side with hashlib (same md5 → same constants in
    any engine/process); injected as literals into the plan, so the
    executors do 0 hashing and the DuckDB oracle inlines identical
    literals."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"{plane_idx}|{d}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def lsh_bucket(
    vec: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Random-hyperplane signature: bit p = sign(vec · plane_{p+offset}).

    ``plane_offset`` selects an independent plane family — table t of an
    OR-amplified index uses offset ``t * n_planes``.

    Each projection is a ``zip_with``+``aggregate`` left fold against a
    literal plane array — the same d=0..dim-1 addition order as the
    DuckDB oracle's ``list_sum(list_transform(...))`` (bit-identical
    doubles), but ~n_planes·dim fewer expression nodes than an unrolled
    sum (a 512-term tree fell out of efficient evaluation entirely).
    """
    dvec = _as_double(vec)
    out = F.lit(0).cast("long")
    for p in range(plane_offset, plane_offset + n_planes):
        # one parsed array literal per plane (r14): the F.lit-per-weight
        # form paid dim py4j round trips per plane (512 Column builds at
        # dim=64, n_planes=8 — pure driver latency). `repr(w)}D` parses
        # to the identical DOUBLE literal.
        plane = F.expr(
            "array(" + ", ".join(f"{w!r}D" for w in hyperplane(p, dim)) + ")"
        )
        proj = F.aggregate(
            F.zip_with(dvec, plane, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(
            proj > 0, F.lit(1 << (p - plane_offset)).cast("long")
        ).otherwise(F.lit(0))
    return out


def suggest_lsh_params(
    n: int, target_bucket: int = 16, max_planes: int = 24
) -> dict[str, int]:
    """Pick ``n_planes``/``n_tables`` for a corpus of ``n`` vectors.

    Random-hyperplane signatures split the corpus into ≤ 2^planes
    buckets; for roughly uniform directions the expected occupancy is
    ``n / 2^planes``, so planes ≈ log2(n / target_bucket) keeps the
    per-bucket self-join work near ``C(target_bucket, 2)`` per bucket —
    linear in n overall, never all-pairs. More planes than that buys
    nothing but recall loss; fewer degenerates toward all-pairs (the
    r2 fixture-tuned ``n_planes=8`` default was exactly this trap at
    corpus sizes ≫ 2^8·target).

    ``n_tables`` compensates recall: each halving of per-table recall
    from extra planes is roughly recovered by doubling tables
    (OR-amplification, recall 1-(1-p^planes)^tables). The suggestion
    scales tables with planes beyond the 8-plane baseline, bounded to
    keep the explode factor sane.

    Returns {"n_planes": ..., "n_tables": ...}; pass straight into
    ``lsh_topk`` / ``embedding_dup_pairs`` (which uses n_planes only —
    dup-level thresholds keep per-table recall ~1, tables unneeded).
    """
    import math

    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    planes = max(1, min(max_planes, round(math.log2(max(n / target_bucket, 2)))))
    tables = max(1, min(16, 1 << max(0, (planes - 8) // 2)))
    return {"n_planes": planes, "n_tables": tables}


def embedding_dup_pairs(
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    min_cosine: float = 0.99,
    pin_buckets: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos_sim).

    ``pin_buckets`` (default on) lazily ``persist``s the
    (id, vector, bucket) frame: the self-join consumes the
    n_planes×dim hyperplane-projection folds on BOTH sides and Spark
    does not reuse the exchange under a broadcast join — the pin
    halves the projection work (measured 2.2→1.0 s warm at sf0.1).
    Cost: the pinned frame carries the double vectors (~8·dim B/row,
    MEMORY_AND_DISK); pass ``False`` on preemptible clusters or when
    re-deriving beats storing.

    The embedding member of the dedup family (text_dedup.py siblings):
    bucket by random-hyperplane signature, self-join on the bucket,
    verify cosine ≥ threshold. Near-identical vectors agree on every
    hyperplane sign, so recall at dup-level thresholds is ~1 while the
    self-join stays linear in corpus + bucket-collision count — never
    all-pairs.

    The ``n_planes=8`` default suits corpora up to ~2^8·16 ≈ 4k
    vectors; beyond that pass ``suggest_lsh_params(n)["n_planes"]``
    (planes ≈ log2(n/16)) or buckets outgrow executor-sized self-joins.
    """
    b = corpus.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    if pin_buckets:
        b = b.persist()
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= min_cosine)
    )


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
) -> list[tuple[int, list[float], float]]:
    """Deterministic IVF coarse quantizer: the ``n_centroids`` vectors
    with the lowest ``md5(vec_id)`` hex rank ARE the centroids (a
    deterministic uniform sample — no RNG, no Lloyd iterations, so any
    engine/run picks the identical set and the DuckDB oracle can
    reproduce it with ``ORDER BY md5(...) LIMIT k``).

    Returns [(cid, vector, l2_norm)] with cid = 0-based hash-rank. The
    collect is k rows (driver-bounded); at 100 TB the sample is still
    one ordered-limit job over ids, not data.
    """
    rows = (
        corpus.select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("v"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(n_centroids)
        .collect()
    )
    out = []
    for cid, r in enumerate(rows):
        vec = [float(x) for x in r["v"]]
        # left-to-right sum — same order as the engine/oracle list_sum
        norm = math.sqrt(sum(x * x for x in vec))
        out.append((cid, vec, norm))
    return out


def ivf_train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    iters: int = 3,
) -> list[tuple[int, list[float], float]]:
    """Spherical-k-means refinement of the md5-sampled seeds: repeat
    (assign every vector to its max-cosine centroid via the broadcast
    centroid row, recompute each centroid as the mean of its members'
    UNIT vectors). Assignment is by cosine, so the update must average
    directions, not raw vectors — a plain mean weights members by
    magnitude and can move a centroid against the cosine objective;
    the mean-of-unit-vectors direction is the closed-form maximizer of
    a cluster's summed cosine. Better list balance and recall than raw
    sampling when the data is clustered; pass the result to
    ``ivf_topk(centroids=...)``. Zero-norm vectors are excluded from
    updates (no direction); a cluster whose members cancel to the zero
    vector keeps its previous centroid.

    Scale shape per iteration: one narrow broadcast-assignment pass
    (same O(1)-plan centroid shipping as ``ivf_topk``), then the
    cluster means via posexplode → groupBy (cid, position) — a shuffle
    keyed on n_centroids × dim cells, never a per-executor copy of all
    vectors — and a driver collect of exactly n_centroids × dim cell
    means. Empty clusters keep their previous centroid. Deterministic
    given the seed sample up to float summation order (cluster means
    are partial-sum-order dependent, as any distributed mean is) —
    which is why the ORACLE-checked gate path keeps the pure sampled
    centroids, and training is the recall upgrade you opt into.
    """
    spark = corpus.sparkSession
    cents = ivf_centroids(corpus, vec_col, id_col, n_centroids)
    # normalize once through an intermediate attribute so the norm is
    # evaluated per row, not re-inlined per element inside the lambda
    vecs = (
        corpus.select(_as_double(F.col(vec_col)).alias("rv"))
        .withColumn("nv", l2_norm(F.col("rv")))
        .filter(F.col("nv") > 0)
        .select(
            F.transform("rv", lambda x: x / F.col("nv")).alias("v")
        )
    )
    for _ in range(iters):
        cent_df = _centroid_frame(spark, cents)
        cells = (
            vecs.crossJoin(F.broadcast(cent_df))
            .select(
                F.element_at(
                    _ranked_centroids(F.col("v"), F.col("__cents")), 1
                )["cid"].alias("cid"),
                F.posexplode("v").alias("pos", "x"),
            )
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in cells:
            means.setdefault(r["cid"], {})[r["pos"]] = float(r["m"])
        new_cents = []
        for cid, vec, norm in cents:
            mv = (
                [means[cid][p] for p in range(len(vec))]
                if cid in means
                else None
            )
            nm = math.sqrt(sum(x * x for x in mv)) if mv is not None else 0.0
            if mv is not None and nm > 0:
                new_cents.append((cid, mv, nm))
            else:
                new_cents.append((cid, vec, norm))  # empty/degenerate cluster
        cents = new_cents
    return cents


def ivf_quantization_cost(
    corpus: DataFrame,
    cents: list[tuple[int, list[float], float]],
    vec_col: str = "embedding",
) -> float:
    """Mean (1 − cosine-to-nearest-centroid) over the corpus — the
    objective Lloyd's iterations should not worsen. One broadcast
    pass + a scalar agg."""
    spark = corpus.sparkSession
    cent_df = _centroid_frame(spark, cents)
    best = F.element_at(
        _ranked_centroids(_as_double(F.col(vec_col)), F.col("__cents")), 1
    )["ns"]
    row = (
        corpus.crossJoin(F.broadcast(cent_df))
        .agg(F.avg(F.lit(1.0) + best).alias("cost"))  # ns = −cos
        .collect()[0]
    )
    return float(row["cost"])


def _centroid_frame(spark, cents: list[tuple[int, list[float], float]]):
    """The centroid set as ONE broadcastable row holding
    ``array<struct<cid,vec,norm>>``. Joining this single row onto every
    input row ships the centroids as *broadcast data*, not plan
    literals — the plan stays O(1) in ``n_centroids`` (the r4 version
    folded n_centroids×dim ``F.lit``s into the projection, which blows
    up codegen at the 10³-10⁴ centroids a 100 TB corpus needs)."""
    data = [([(cid, vec, norm) for cid, vec, norm in cents],)]
    schema = (
        "__cents array<struct<cid: int, vec: array<double>, norm: double>>"
    )
    return spark.createDataFrame(data, schema)


def _ranked_centroids(v: Column, cents_col: Column) -> Column:
    """Struct array [(−cos₆, cid)] sorted ascending — best centroid
    first; rounded cosines + cid tiebreak keep the ranking identical in
    any engine (same rule as the DuckDB twin's ORDER BY). The dot
    product is the same left-to-right ``zip_with``+``aggregate`` fold
    as ``dot()``, so doubles match the oracle's ``list_sum`` exactly."""
    nv = l2_norm(v)
    return F.array_sort(
        F.transform(
            cents_col,
            lambda s: F.struct(
                (-F.round(dot(v, s["vec"]) / (nv * s["norm"]), 6)).alias("ns"),
                s["cid"].alias("cid"),
            ),
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF(-flat) index — the cluster-routing
    alternative to ``lsh_topk``'s hyperplane banding: every corpus
    vector is assigned to its nearest centroid (inverted list), each
    query probes its ``nprobe`` nearest lists, and only co-listed pairs
    are scored.

    Work per query ≈ nprobe/n_centroids of the corpus (vs all of it for
    brute force); the join is a plain equi-join on cid, so the shuffle
    key cardinality is n_centroids — size it ≥ executor parallelism at
    scale. Assignment is a narrow broadcast pass: the centroid table
    rides in as one broadcast row of ``array<struct>`` (never plan
    literals — plan size is O(1) in n_centroids, pytest-pinned at 256)
    and each row ranks it with higher-order expressions.
    ``nprobe == n_centroids`` degrades gracefully to exact brute force
    (tested). Recall depends on how well the sampled centroids cover
    the data — the classic IVF trade, tunable without touching the
    index by raising nprobe, or by passing
    ``centroids=ivf_train_centroids(...)`` for Lloyd's-refined lists.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, vec_col, id_col, n_centroids)
    )
    cent_df = _centroid_frame(corpus.sparkSession, cents)
    c = (
        corpus.crossJoin(F.broadcast(cent_df))
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
            F.element_at(
                _ranked_centroids(F.col(vec_col), F.col("__cents")), 1
            )["cid"].alias("cid"),
        )
    )
    q = (
        queries.crossJoin(F.broadcast(cent_df))
        .select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
            F.explode(
                F.transform(
                    F.slice(
                        _ranked_centroids(F.col(vec_col), F.col("__cents")),
                        1,
                        nprobe,
                    ),
                    lambda s: s["cid"],
                )
            ).alias("cid"),
        )
    )
    scored = (
        c.join(q, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: only score (query, corpus) pairs that share
    an LSH bucket. Equi-join on the bucket → shuffle hash join keyed by
    signature, work per query ≈ bucket occupancy, not corpus size.

    Recall is tunable on two axes (the classic AND-OR construction):
    ``n_planes`` ANDs bits inside one signature (more planes → smaller
    buckets → lower recall & cost), ``n_tables`` ORs independent plane
    families (a pair is a candidate if ANY table buckets them together
    → recall 1-(1-p^planes)^tables). With multiple tables each side is
    exploded n_tables× and the join key is (table, bucket); duplicate
    candidates from different tables are deduped by a (query, neighbor)
    aggregation before ranking, so a pair is scored once in the output
    regardless of how many tables caught it.
    """
    def with_buckets(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        buckets = F.array(
            *[
                lsh_bucket(F.col(vec_col), dim, n_planes, plane_offset=t * n_planes)
                for t in range(n_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(out_id),
            _as_double(F.col(vec_col)).alias(out_vec),
            F.posexplode(buckets).alias("table", "bucket"),
        )

    q = with_buckets(queries, "query_id", "qv")
    c = with_buckets(corpus, "neighbor_id", "cv")
    scored = (
        c.join(q, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    if n_tables > 1:
        scored = scored.groupBy("query_id", "neighbor_id").agg(
            F.max("cos_sim").alias("cos_sim")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ------------------------------------------------- product quantization

def pq_train_codebooks(
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    mean_mode: str = "float",
    seed_books: list[list[list[float]]] | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split each vector into ``m`` contiguous
    subvectors of dim/m and fit ``k`` L2 centroids per subspace
    (md5-rank-sampled seeds + Lloyd iterations, all subspaces trained
    in the SAME jobs — one explode pass per iteration, not m of them).

    Returns ``codebooks[sub][cid] -> centroid`` (m × k × dim/m),
    driver-resident by design: m·k·(dim/m) = k·dim floats total, the
    same footprint as k full-dimensional centroids.

    Why PQ at 100 TB: a 64-dim float32 vector is 256 B; its PQ code is
    m bytes (m=8 ⇒ 32× memory compression), so candidate scoring can
    keep the ENTIRE corpus's codes in executor memory and read the
    original vectors only for reranking the short list.

    Determinism: seeds are exactly reproducible (md5 rank); with the
    default ``mean_mode='float'`` the Lloyd means are deterministic up
    to float summation order, like any distributed mean — ENCODING
    under a fixed codebook is fully deterministic (tested
    partition-independent), so persist the trained codebooks next to
    the encoded corpus. ``mean_mode='cents'`` (r14, VERDICT r13 next
    #7) makes the update step itself ORDER-FREE and cross-engine
    bit-exact: each coordinate is quantized to integer cents
    (``round(x·100)`` as long) before an exact integer SUM, and the
    mean is ``sum/(100·n)`` — integer addition commutes, so any
    partitioning, any engine, produces the identical codebook, which
    is what lets Lloyd-refined (iters>0) codebooks run under the
    DuckDB hash gate instead of staying pytest-only. The 0.005-per-
    coordinate quantization bias is measured harmless on unit-scale
    embeddings (see tests: recall parity with float Lloyd).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if mean_mode not in ("float", "cents"):
        raise ValueError(f"mean_mode must be 'float' or 'cents', got {mean_mode!r}")
    sub_d = dim // m
    subs = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(
                    _as_double(F.col(vec_col)), s * sub_d + 1, sub_d
                ),
            )
        ).alias("sub", "sv"),
    )
    if seed_books is not None:
        # r14 (guide §1.2 step 1): the seed sample is a pure function
        # of (corpus, m, k) — independent of iters/mean_mode — so a
        # caller training several refinement variants passes the
        # iters=0 result back in and skips the seed window job (a full
        # m×-exploded pass over the corpus). Deep-copied: the Lloyd
        # loop below mutates its working list.
        if len(seed_books) != m or any(len(b) != k for b in seed_books):
            raise ValueError("seed_books shape must be m x k")
        if any(c is None for book in seed_books for c in book):
            # an iters=0 run over a corpus with < k vectors per
            # subspace leaves None seed slots — reject with a clear
            # error instead of an opaque TypeError from list(None)
            raise ValueError(
                "seed_books contains empty centroid slots (corpus had "
                "fewer than k vectors per subspace) — train with a "
                "larger corpus or smaller k"
            )
        books: list[list[list[float]]] = [
            [list(c) for c in book] for book in seed_books
        ]
    else:
        # deterministic seeds: per subspace, the k subvectors with the
        # lowest md5(id) rank (same rule as ivf_centroids)
        w = Window.partitionBy("sub").orderBy(
            F.md5(F.col("id").cast("string")), F.col("id")
        )
        seed_rows = (
            subs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("sub", (F.col("__rn") - 1).alias("cid"), "sv")
            .collect()
        )
        books = [[None] * k for _ in range(m)]
        for r in seed_rows:
            books[r["sub"]][r["cid"]] = [float(x) for x in r["sv"]]
    subs = subs.persist()  # reused every iteration
    for _ in range(iters):
        book_df = corpus.sparkSession.createDataFrame(
            [
                (
                    [
                        (s_i, c_i, c)
                        for s_i, book in enumerate(books)
                        for c_i, c in enumerate(book)
                    ],
                )
            ],
            "__books array<struct<sub: int, cid: int, vec: array<double>>>",
        )
        assigned = subs.crossJoin(F.broadcast(book_df)).select(
            "sub",
            "sv",
            F.element_at(
                F.array_sort(
                    F.transform(
                        F.filter(
                            F.col("__books"), lambda b: b["sub"] == F.col("sub")
                        ),
                        lambda b: F.struct(
                            F.round(
                                F.aggregate(
                                    F.zip_with(
                                        F.col("sv"),
                                        b["vec"],
                                        lambda x, y: (x - y) * (x - y),
                                    ),
                                    F.lit(0.0),
                                    lambda a, x: a + x,
                                ),
                                9,
                            ).alias("d2"),
                            b["cid"].alias("cid"),
                        ),
                    )
                ),
                1,
            )["cid"].alias("cid"),
        )
        coords = assigned.select(
            "sub", "cid", F.posexplode("sv").alias("pos", "x")
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        if mean_mode == "cents":
            cells = (
                coords.groupBy("sub", "cid", "pos")
                .agg(
                    F.sum(F.round(F.col("x") * 100).cast("long")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            for r in cells:
                means.setdefault((r["sub"], r["cid"]), {})[r["pos"]] = (
                    r["s"] / (100.0 * r["n"])
                )
        else:
            cells = (
                coords.groupBy("sub", "cid", "pos")
                .agg(F.avg("x").alias("mn"))
                .collect()
            )
            for r in cells:
                means.setdefault((r["sub"], r["cid"]), {})[r["pos"]] = float(
                    r["mn"]
                )
        for s_i in range(m):
            for c_i in range(k):
                got = means.get((s_i, c_i))
                if got:
                    books[s_i][c_i] = [got[p] for p in range(sub_d)]
    subs.unpersist()  # release the iteration pin before returning
    return books


def _books_frame(spark, books):
    return spark.createDataFrame(
        [
            (
                [
                    (s_i, c_i, c)
                    for s_i, book in enumerate(books)
                    for c_i, c in enumerate(book)
                ],
            )
        ],
        "__books array<struct<sub: int, cid: int, vec: array<double>>>",
    )


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes): per subspace, the id of the nearest codebook entry
    — the m-byte compressed representation. One broadcast narrow pass;
    codes ties break to the lowest cid (deterministic).
    """
    m = len(books)
    sub_d = dim // m
    book_df = _books_frame(corpus.sparkSession, books)

    def nearest(sv, sub_idx):
        return F.element_at(
            F.array_sort(
                F.transform(
                    F.filter(F.col("__books"), lambda b: b["sub"] == sub_idx),
                    lambda b: F.struct(
                        F.round(
                            F.aggregate(
                                F.zip_with(
                                    sv, b["vec"], lambda x, y: (x - y) * (x - y)
                                ),
                                F.lit(0.0),
                                lambda a, x: a + x,
                            ),
                            9,
                        ).alias("d2"),
                        b["cid"].alias("cid"),
                    ),
                )
            ),
            1,
        )["cid"]

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: nearest(
            F.slice(_as_double(F.col(vec_col)), s * sub_d + 1, sub_d), s
        ),
    )
    return corpus.crossJoin(F.broadcast(book_df)).select(
        F.col(id_col).alias("id"), codes.alias("codes")
    )


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    books: list[list[list[float]]],
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query precomputes its
    m × k table of exact subspace distances to every codebook entry,
    then scores a corpus row with m table lookups over its codes — no
    original corpus vectors touched, so the scan reads m bytes per
    row instead of dim floats.

    Scale shape: |Q| queries broadcast (each carries its k·dim-float
    table); the encoded corpus streams through one narrow pass per
    query batch. Returns (query_id, neighbor_id, adist) — approximate
    L2²; rerank the short list against true vectors when exactness
    matters.
    """
    m = len(books)
    sub_d = dim // m
    book_df = _books_frame(queries.sparkSession, books)
    # per-query distance table: array[sub] of array[cid] of d2
    table = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.filter(F.col("__books"), lambda b: b["sub"] == s),
            lambda b: F.round(
                F.aggregate(
                    F.zip_with(
                        F.slice(_as_double(F.col(vec_col)), s * sub_d + 1, sub_d),
                        b["vec"],
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                9,
            ),
        ),
    )
    q = queries.crossJoin(F.broadcast(book_df)).select(
        F.col(id_col).alias("query_id"), table.alias("__tbl")
    )
    scored = encoded.withColumnRenamed("id", "neighbor_id").crossJoin(
        F.broadcast(q)
    )
    adist = F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("__tbl"),
                lambda code, sub_tbl: F.element_at(sub_tbl, code + 1),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adist.alias("adist"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def collect_query_vectors(
    queries: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
):
    """Driver-side (id, double-vector) rows for the Arrow scorers —
    |Q| is the small broadcast side by contract, so this is one tiny
    job; shareable across sections and submittable from a side thread
    (guide §2.6)."""
    return queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv")
    ).collect()


def _round_half_up(x: float, scale: int) -> float:
    """Replicate Spark's ``round(double, n)``: Java does
    ``BigDecimal.valueOf(x)`` (the decimal string of
    ``Double.toString(x)``), then ``setScale(n, HALF_UP)``, then back to
    the nearest double. This mirrors it with Python ``repr(float)``,
    the shortest decimal that round-trips.

    Assumption: ``Double.toString`` also returns the shortest
    round-trip decimal. That holds from JDK 19 on (JDK-4511638); JDK 17
    and earlier sometimes emit a longer decimal, and a value whose
    extra digits sit on a HALF_UP boundary can then round differently.
    The bit-identity tests against the JVM expression pin only the JVM
    they run on."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-scale), rounding=decimal.ROUND_HALF_UP
        )
    )


def pq_adc_table(
    qvec: list[float], books: list[list[list[float]]], dim: int
) -> list[list[float]]:
    """One query's ADC distance table, computed DRIVER-SIDE in pure
    Python with the exact arithmetic of the ``pq_topk`` JVM expression:
    per (subspace, cid), a left-to-right fold of squared coordinate
    differences (Python floats ARE IEEE float64 — identical adds), then
    Spark-``round(·, 9)`` via ``_round_half_up``. m × k doubles — the
    table is index-sized, never data-sized."""
    m = len(books)
    sub_d = dim // m
    table: list[list[float]] = []
    for s, book in enumerate(books):
        sv = qvec[s * sub_d : (s + 1) * sub_d]
        row = []
        for cvec in book:
            acc = 0.0
            for x, y in zip(sv, cvec):
                acc = acc + (x - y) * (x - y)
            row.append(_round_half_up(acc, 9))
        table.append(row)
    return table


def pq_topk_arrow(
    queries: DataFrame,
    encoded: DataFrame,
    books: list[list[list[float]]],
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    qrows: "list | None" = None,
) -> DataFrame:
    """ADC top-k with the scoring scan in Arrow+numpy (guide §4.2)
    instead of interpreted higher-order JVM expressions — bit-identical
    to ``pq_topk`` by construction (pinned by
    ``test_pq_topk_arrow_bit_identical``):

    - the per-query distance tables come from ``pq_adc_table`` (exact
      JVM round-half-up semantics, driver-side — |Q|·m·k doubles);
    - the per-row ADC sum is an elementwise numpy left fold over the m
      code positions (acc starts at 0.0 and adds one looked-up table
      cell per position, in position order — the identical IEEE
      addition sequence as the ``zip_with``+``aggregate`` fold);
    - the final ``round(·, 6)``, self-filter and window top-k stay in
      the JVM on the returned (query_id, neighbor_id, adist_raw) rows.

    Scale shape unchanged: |Q| tables ship inside the function closure
    (index-sized), the encoded corpus streams through one narrow Arrow
    pass emitting |Q| rows per code row. The win is per-row CPU: the
    interpreted HOF fold allocates per element; numpy does one fused
    gather+add per subspace per batch.
    """
    import numpy as np
    import pyarrow as pa

    m = len(books)
    if qrows is None:
        # (id, vec-as-double) rows; callers scoring several code sets
        # against the SAME queries pass the collected rows in so the
        # tiny collect job runs once, not once per section
        qrows = collect_query_vectors(queries, vec_col, id_col)
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    tables = np.array(
        [pq_adc_table([float(x) for x in r["qv"]], books, dim) for r in qrows],
        dtype=np.float64,
    )  # (Q, m, k)
    n_q = len(qids)

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            codes = np.stack(
                batch.column("codes").to_numpy(zero_copy_only=False)
            ).astype(np.int64, copy=False)  # (n, m)
            n = len(ids)
            # acc[q, i] = fold over positions j of tables[q, j, codes[i, j]]
            acc = np.zeros((n_q, n), dtype=np.float64)
            for j in range(m):
                acc += tables[:, j, codes[:, j]]
            out = pa.record_batch(
                [
                    pa.array(np.repeat(qids, n), type=pa.int64()),
                    pa.array(np.tile(ids, n_q), type=pa.int64()),
                    pa.array(acc.reshape(-1), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "__raw"],
            )
            yield out

    scored = encoded.select("id", "codes").mapInArrow(
        score, "query_id long, neighbor_id long, __raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", F.round(F.col("__raw"), 6).alias("adist")
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    centroids: list[tuple[int, list[float], float]] | None = None,
    books: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF routing composed with PQ scoring (the FAISS-IVFPQ shape):
    corpus rows carry (inverted-list id, m-byte code); a query probes
    its ``nprobe`` nearest lists and ADC-scores ONLY co-listed rows.

    The two approximations multiply savings independently: IVF cuts
    the rows scored per query to ~nprobe/n_centroids of the corpus,
    PQ cuts the bytes read per scored row from dim floats to m —
    at 100 TB the entire compressed index (codes + list ids) fits in
    executor memory while the raw vectors stay on disk for reranking.

    Returns (query_id, neighbor_id, adist); rank by approximate L2².
    """
    spark = corpus.sparkSession
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, vec_col, id_col, n_centroids)
    )
    books = (
        books
        if books is not None
        else pq_train_codebooks(corpus, dim, vec_col, id_col, m, pq_k)
    )
    cent_df = _centroid_frame(spark, cents)
    if encoded is None:
        encoded = pq_encode(corpus, books, dim, vec_col, id_col)
    # else: caller supplies the (id, codes) frame it already computed
    # with the SAME books (e.g. a stored code column, or one shared
    # lazily-pinned encode feeding both a pq_topk section and this) —
    # the encode pass then runs once, not once per consumer (r14)
    listed = (
        corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        .crossJoin(F.broadcast(cent_df))
        .select(
            "id",
            F.element_at(
                _ranked_centroids(F.col("v"), F.col("__cents")), 1
            )["cid"].alias("cid"),
        )
        .join(encoded, "id")
    )
    book_df = _books_frame(spark, books)
    sub_d = dim // len(books)
    table = F.transform(
        F.sequence(F.lit(0), F.lit(len(books) - 1)),
        lambda s: F.transform(
            F.filter(F.col("__books"), lambda b: b["sub"] == s),
            lambda b: F.round(
                F.aggregate(
                    F.zip_with(
                        F.slice(_as_double(F.col(vec_col)), s * sub_d + 1, sub_d),
                        b["vec"],
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                9,
            ),
        ),
    )
    probing = (
        queries.crossJoin(F.broadcast(cent_df))
        .crossJoin(F.broadcast(book_df))
        .select(
            F.col(id_col).alias("query_id"),
            table.alias("__tbl"),
            F.explode(
                F.transform(
                    F.slice(
                        _ranked_centroids(
                            _as_double(F.col(vec_col)), F.col("__cents")
                        ),
                        1,
                        nprobe,
                    ),
                    lambda s: s["cid"],
                )
            ).alias("cid"),
        )
    )
    adist = F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("__tbl"),
                lambda code, sub_tbl: F.element_at(sub_tbl, code + 1),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        listed.withColumnRenamed("id", "neighbor_id")
        .join(probing, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adist.alias("adist"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroids: list[tuple[int, list[float], float]] | None = None,
    pin_assignments: bool = True,
) -> DataFrame:
    """Within-cluster near-duplicate pairs, SemDeDup-style (Abbas et
    al. 2023): cluster the embedding space, then compare ONLY vectors
    that share a cluster — never all pairs.

    ``pin_assignments`` (default on) lazily ``persist``s the
    (id, vector, cid) frame: both self-join sides consume the
    n_centroids-way ranking fold, and Spark does not reuse it under a
    broadcast join — the pin halves assignment work, and the per-row
    l2 norm is materialized alongside so pair scoring pays one dot
    product instead of dot + two recomputed norms (together measured
    6.1→4.6 s warm at the sf0.1 bench corpus). Pass ``False`` on
    preemptible clusters.

    Each corpus vector is assigned to its max-cosine centroid via the
    broadcast ``array<struct>`` centroid row (O(1) plan size, same
    shipping rule as ``ivf_topk``); the candidate set is a self-join
    keyed on the cluster id, so total comparison work is
    Σ_c C(n_c, 2) — at 100 TB you size ``n_centroids`` so clusters fit
    a task (the paper runs 11k clusters for 100M docs). Pairs at cosine
    ≥ ``threshold`` are emitted once as (id_a < id_b, cos_sim).

    Recall caveat (inherent to SemDeDup): a near-dup pair split across
    two clusters is missed — raise ``n_centroids`` quality via
    ``centroids=ivf_train_centroids(...)``, or lower ``threshold``,
    to trade. Deterministic: md5-sampled default centroids, rounded
    cosines, id-ordered pair emission — the DuckDB twin reproduces it
    exactly (tests/test_training_ops.py).
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, vec_col, id_col, n_centroids)
    )
    cent_df = _centroid_frame(corpus.sparkSession, cents)
    assigned = (
        corpus.crossJoin(F.broadcast(cent_df))
        .select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("v"),
            F.element_at(
                _ranked_centroids(F.col(vec_col), F.col("__cents")), 1
            )["cid"].alias("cid"),
        )
        .withColumn("nv", l2_norm(F.col("v")))
    )
    if pin_assignments:
        assigned = assigned.persist()
    a = assigned.select(
        F.col("cid"),
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = assigned.select(
        F.col("cid"),
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    return (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroids: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """Keep-verdict frame (id, keep) from ``semantic_dedup_pairs``:
    a vector is dropped iff some SMALLER id sits within ``threshold``
    cosine in its cluster (keep-min-id — the same deterministic rule
    as ``exact_dedup``).

    Pairwise keep-min is intentionally non-transitive: in a chain
    a~b, b~c (a<b<c, a≁c) both b and c are dropped even though a≁c —
    fine for dedup (survivors are pairwise-distinct w.r.t. kept ids).
    For keep-one-per-connected-component semantics, feed the pairs
    into ``operators.graph.connected_components`` instead. A left
    anti-join against the distinct drop set keeps the corpus-sized
    side un-exploded.
    """
    pairs = semantic_dedup_pairs(
        corpus, vec_col, id_col, threshold, n_centroids, centroids
    )
    drops = pairs.select(F.col("id_b").alias("id")).distinct()
    ids = corpus.select(F.col(id_col).alias("id"))
    return ids.join(drops.withColumn("__drop", F.lit(True)), "id", "left").select(
        "id", F.coalesce(F.col("__drop") == F.lit(False), F.lit(True)).alias("keep")
    )


def ann_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """(query_id, n_hits, n_exact, recall): per-query recall of an
    approximate top-k result against the exact one — the evaluation
    harness for tuning the ANN knobs (``n_planes``/``n_tables``,
    ``n_centroids``/``nprobe``, PQ ``m``/``pq_k``) on a sample of
    queries before committing an index configuration at corpus scale.

    Both inputs are (query_id, neighbor_id, ...) frames as produced by
    ``cosine_topk`` / ``lsh_topk`` / ``ivf_topk`` / ``pq_topk``.
    recall = |approx ∩ exact| / |exact|; a query with approx rows but
    no exact rows is skipped (undefined), a query with exact rows and
    no approx rows scores 0. Distributed as two tiny keyed joins —
    runs on millions of evaluation queries as happily as on ten.
    """
    e = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return e.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact"), 6
        ).alias("recall"),
    )


def embedding_profile(
    corpus: DataFrame,
    vec_col: str = "embedding",
    expected_dim: int | None = None,
) -> DataFrame:
    """One-row sanity profile of an embedding column BEFORE building an
    ANN index over it: (n_rows, n_null, n_wrong_dim, n_zero_norm,
    norm_mean, norm_min, norm_max, dim). Catches the classic index
    poisoners — NULL vectors, ragged dimensions from a bad upstream
    merge, unnormalized or zero vectors (cosine is undefined on the
    latter; ``semantic_dedup``/``lsh_topk`` would quietly misrank).

    ``expected_dim`` defaults to the dimension of the first non-null
    vector (reported back in ``dim``). One narrow agg pass — the norm
    folds run per row, nothing shuffles but the final scalars.
    """
    if expected_dim is None:
        probe = (
            corpus.select(F.size(vec_col).alias("d"))
            .filter(F.col("d") >= 0)
            .limit(1)
            .collect()
        )
        expected_dim = int(probe[0]["d"]) if probe else 0
    v = F.col(vec_col)
    nrm = l2_norm(_as_double(v))
    ok = v.isNotNull() & (F.size(v) == expected_dim)
    return corpus.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(v.isNull()).alias("n_null"),
        F.count_if(v.isNotNull() & (F.size(v) != expected_dim)).alias(
            "n_wrong_dim"
        ),
        F.count_if(ok & (nrm == 0.0)).alias("n_zero_norm"),
        F.round(F.avg(F.when(ok, nrm)), 6).alias("norm_mean"),
        F.round(F.min(F.when(ok, nrm)), 6).alias("norm_min"),
        F.round(F.max(F.when(ok, nrm)), 6).alias("norm_max"),
        F.lit(expected_dim).cast("int").alias("dim"),
    )


# ------------------------------------------------- int8 quantization

def quantize_int8(vec: Column) -> Column:
    """Symmetric absmax int8 quantization of an embedding:
    ``struct(scale double, q array<int>)`` with codes in [-127, 127]
    and ``x ≈ q·scale`` (per-coordinate error ≤ scale/2). At 100 TB an
    embedding column is routinely the widest thing in the lake — 4→1
    bytes/dim cuts storage and shuffle bandwidth 4× while keeping
    cosine ranking nearly intact (pytest pins recall@k on the fixture).
    Pure JVM array expressions; write ``q`` as the stored column and
    keep ``scale`` alongside (dot/L2 reconstruction needs it; cosine
    does NOT — scale cancels, see ``int8_cosine``). Zero vectors map
    to scale 0 with all-zero codes."""
    dv = _as_double(vec)
    amax = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.when(
        amax == F.lit(0.0),
        F.transform(dv, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(dv, lambda x: F.round(x / scale, 0).cast("int"))
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(qs: Column) -> Column:
    """Reconstruct ``array<double>`` from a ``quantize_int8`` struct."""
    return F.transform(qs["q"], lambda v: v.cast("double") * qs["scale"])


def int8_cosine(qa: Column, qb: Column) -> Column:
    """Cosine directly on int8 code arrays — the per-vector scales
    cancel, so quantized cosine needs no dequantization. The dot and
    both squared norms accumulate as EXACT BIGINTs (order-independent),
    leaving one double expression at the end — bit-identical to the
    DuckDB replay, which is what lets quantized ANN run under the
    hash gate."""
    zero = F.lit(0).cast("long")
    dotq = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: (x * y).cast("long")),
        zero,
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        qa, zero, lambda acc, x: acc + (x * x).cast("long")
    )
    nb = F.aggregate(
        qb, zero, lambda acc, x: acc + (x * x).cast("long")
    )
    return dotq.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def int8_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    codes_col: str | None = None,
) -> DataFrame:
    """``cosine_topk`` over absmax-int8-quantized vectors — the
    storage-tier ANN baseline: identical plan shape (broadcast the
    small query side, window top-k with the (rounded score DESC, id
    ASC) cut), but every vector is 4× narrower. Quantization happens
    inline by default for gate/test symmetry; a production pipeline
    stores the quantized column once (``quantize_int8(...)["q"]``) and
    passes its name as ``codes_col`` — both frames then feed their
    ``array<int>`` codes straight in, skipping the float scan entirely
    (pytest pins codes-in == quantize-inline)."""
    qv = (
        F.col(codes_col)
        if codes_col
        else quantize_int8(F.col(vec_col))["q"]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), qv.alias("qq")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), qv.alias("cq")
    )
    scored = (  # brute-force-over-codes baseline (int8_cosine_topk)
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(int8_cosine(F.col("qq"), F.col("cq")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _codes_as_double(codes: Column) -> Column:
    return F.transform(codes, lambda v: v.cast("double"))


def int8_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[tuple[int, list[float], float]] | None = None,
    codes_col: str | None = None,
) -> DataFrame:
    """IVF cluster routing composed with int8 storage codes — the
    quantized ANN scale path (r10): ``int8_cosine_topk`` is the exact
    brute-force baseline over codes; this runs the SAME int8 scorer
    over ``ivf_topk``'s inverted-list routing, so a lake that stores
    only the 4×-narrower code column gets sub-linear ANN without ever
    materializing float vectors.

    Everything runs in CODE SPACE: centroids are trained on the code
    arrays (absmax codes preserve each vector's direction — the scale
    cancels in cosine — so code-space clustering routes like float
    clustering up to quantization error), assignment/probing rank the
    same broadcast centroid row as ``ivf_topk``, and co-listed pairs
    score with the BIGINT-exact ``int8_cosine``. Work per query ≈
    nprobe/n_centroids of the corpus; ``nprobe == n_centroids``
    degrades to exact-over-codes. Recall vs the FLOAT IVF path is
    pytest-pinned. Quantization happens inline by default for test
    symmetry; production stores ``quantize_int8(...)["q"]`` once and
    passes its column name as ``codes_col`` (r11) — the float scan is
    skipped, the caller owns the code frame's materialization (a
    stored parquet column, or one shared lazily-checkpointed frame
    feeding several sections), and only the centroid-training collect
    adds a pass when ``centroids`` is not supplied."""
    spark = corpus.sparkSession
    qv = (
        F.col(codes_col)
        if codes_col
        else quantize_int8(F.col(vec_col))["q"]
    )
    qcodes = queries.select(
        F.col(id_col).alias("query_id"), qv.alias("qq")
    )
    ccodes = corpus.select(
        F.col(id_col).alias("neighbor_id"), qv.alias("cq")
    )
    if centroids is None:
        # the corpus-quantization pass would otherwise run twice — once
        # under the centroid-training collect and once in the
        # assignment plan; pin the (narrow: id + 64 ints) code frame so
        # the training job materializes it and assignment reuses the
        # blocks (lazy localCheckpoint, the dedup_clusters precedent).
        # With caller-supplied codes the quantization is already paid —
        # the pin is still worth it so training and assignment share
        # one scan of the code column.
        ccodes = ccodes.localCheckpoint(eager=False)
        code_corpus = ccodes.select(
            F.col("neighbor_id").alias(id_col),
            _codes_as_double(F.col("cq")).alias("__cv"),
        )
        centroids = ivf_centroids(code_corpus, "__cv", id_col, n_centroids)
    cent_df = _centroid_frame(spark, centroids)
    c = ccodes.crossJoin(F.broadcast(cent_df)).select(
        "neighbor_id",
        "cq",
        F.element_at(
            _ranked_centroids(_codes_as_double(F.col("cq")), F.col("__cents")),
            1,
        )["cid"].alias("cid"),
    )
    q = qcodes.crossJoin(F.broadcast(cent_df)).select(
        "query_id",
        "qq",
        F.explode(
            F.transform(
                F.slice(
                    _ranked_centroids(
                        _codes_as_double(F.col("qq")), F.col("__cents")
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cid"],
            )
        ).alias("cid"),
    )
    scored = (
        c.join(q, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(int8_cosine(F.col("qq"), F.col("cq")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
