"""Similarity search over embedding columns (``array<float>``).

Two paths, same contract:

- **exact**: brute-force cosine top-k. The dot product is a native
  ``zip_with`` + ``aggregate`` fold (JVM lambda, no Python), the top-k a
  ``TakeOrderedAndProject`` — a single scan, no shuffle beyond the final
  k-row gather. This is the *correct* baseline at any scale where a full
  scan is acceptable (and the oracle for the ANN path).
- **ANN via random-hyperplane LSH**: sign-of-projection onto ``p``
  deterministic hyperplanes → p-bit bucket; only the query's bucket
  (plus optional multi-probe neighbors at Hamming 1) is scanned exactly.
  At 100 TB the bucketed parquet layout turns this into partition
  pruning: the scan reads ~|bucket| rows instead of everything.

Hyperplanes are generated from a fixed seed (numpy ``default_rng``)
driver-side and shipped as literal arrays — deterministic across runs,
no randomness inside the plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# -- SQL-string twins of the fold builders -------------------------------
# Each higher-order-function Column call costs ~10 ms of py4j round-trips
# (named-lambda creation JVM-side); an ivf_assign over 8 centroids built
# 18 of them per call (r13 cProfile: 54 HOF invocations = 0.5 s for 3
# calls). Rendering the SAME expression as a SQL string and parsing it
# with ONE F.expr call removes that construction cost; the parsed tree is
# operator-for-operator identical (pinned by
# test_sql_fold_twins_bit_identical), so results cannot differ.


def _dot_sql(a: str, b: str) -> str:
    """SQL form of :func:`_dot` over two column/expression strings."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))), "
        "0.0D, (acc, x) -> (acc + x))"
    )


def _qdot_sql(a: str, b: str, m: float = 1e6) -> str:
    """SQL form of :func:`_qdot` over two column/expression strings."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(FLOOR((CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) * {m!r}D) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> (acc + x))"
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _qdot(a, b, m: float = 1e6):
    """Order-independent dot product: per-element products are floored
    to 1/m granularity and summed as exact integers. Engines may sum a
    plain double fold in different orders (or SIMD-pairwise); integer
    addition is associative, so this form is bit-identical everywhere.
    """
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * m).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cosine_sql(a: str, b: str, quantized: bool) -> str:
    """SQL form of :func:`cosine_similarity` over two column/expression
    strings (see _dot_sql)."""
    if quantized:
        return (
            f"(CAST({_qdot_sql(a, b)} AS DOUBLE) / "
            f"SQRT((CAST({_qdot_sql(a, a)} AS DOUBLE) * "
            f"CAST({_qdot_sql(b, b)} AS DOUBLE))))"
        )
    return f"({_dot_sql(a, b)} / (SQRT({_dot_sql(a, a)}) * SQRT({_dot_sql(b, b)})))"


def cosine_similarity(a, b, *, quantized: bool = False):
    """Cosine similarity of two ``array<float|double>`` columns.

    ``quantized=True`` computes dot/norms via :func:`_qdot` — a
    ~1e-6-accurate score that is deterministic across engines and
    summation orders (use for oracle comparison and stable ranking).
    """
    if isinstance(a, str) and isinstance(b, str):
        # one-parse SQL twin (see _dot_sql) — same tree, ~30x cheaper
        # to construct than six HOF Column calls
        return F.expr(_cosine_sql(f"`{a}`", f"`{b}`", quantized))
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    if quantized:
        return _qdot(a, b).cast("double") / F.sqrt(
            _qdot(a, a).cast("double") * _qdot(b, b).cast("double")
        )
    return _dot(a, b) / (_norm(a) * _norm(b))


def _vec_lit_sql(vec) -> str | None:
    """SQL literal text of a Python vector as ``array<double>`` (``1.5D``
    double-literal syntax), or None when a value is non-finite — those
    have no SQL literal syntax. ``repr`` round-trips doubles exactly and
    Spark's parser correctly rounds back to the identical bits
    (verified bit-equal against the ``F.lit`` form)."""
    vals = [float(x) for x in vec]
    if all(np.isfinite(v) for v in vals):
        return "array(" + ",".join(f"{v!r}D" for v in vals) + ")"
    return None


def _vec_lit(vec) -> "F.Column":
    """Literal ``array<double>`` column for a Python vector.

    Built as ONE ``F.expr`` string (:func:`_vec_lit_sql`) — the
    per-element ``F.array(*[F.lit(x) ...])`` form costs one py4j
    round-trip per element, which at 8 centroids × 64 dims was ~0.45 s
    of pure driver-side plan construction PER ivf_assign call (r13
    cProfile: 1,614 lit calls → 10,872 py4j sends). Non-finite values
    fall back to the slow form.
    """
    lit = _vec_lit_sql(vec)
    if lit is not None:
        return F.expr(lit)
    return F.array(*[F.lit(float(x)) for x in vec])


def similarity_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantized: bool = False,
) -> DataFrame:
    """Exact cosine top-k for one query vector.

    Returns (id, score) ordered by score desc, id asc (deterministic
    tie-break). Plan: scan → per-row fold → TakeOrderedAndProject(k).
    The score is rendered as ONE SQL string (:func:`_cosine_sql` over
    the column and the query's literal text) and parsed by one
    ``F.expr`` — the Column form cost six higher-order-function py4j
    calls per query; the tree is the same (pinned by
    test_sql_fold_twins_bit_identical). A vector with a non-finite value
    has no literal text and takes the Column form.
    """
    lit = _vec_lit_sql(query_vec)
    if lit is not None:
        score = F.expr(_cosine_sql(f"`{vec_col}`", lit, quantized))
    else:
        score = cosine_similarity(F.col(vec_col), _vec_lit(query_vec), quantized=quantized)
    return (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    quantized: bool = False,
) -> DataFrame:
    """k nearest corpus rows for EACH query row (brute force).

    The query side is broadcast (it's the small side by construction);
    per-query top-k via ``row_number`` — Catalyst's WindowGroupLimit
    keeps a bounded heap per query, so memory is O(k·|queries|) per
    task, not O(|corpus|).
    """
    joined = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(q_id),
        F.col(c_id),
        cosine_similarity(F.col(c_vec), F.col(q_vec), quantized=quantized).alias("score"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.col(c_id))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "score", "rank")
    )


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    n_planes: int = 64,
    bands: int = 16,
    seed: int = 42,
    quantized: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Approximate k-NN join via shared banded sign-LSH: both sides get
    band keys, candidates come from an equi-join on ``(band, bits)``,
    and only candidates are exact-scored (per-query top-k via
    WindowGroupLimit).

    This is the MANY-query form :func:`knn_join` cannot scale to: the
    brute-force join scores |queries|×|corpus| pairs, which is the right
    baseline for a handful of queries and death for a query TABLE. Here
    each side shuffles once on the band key, candidate volume is
    ~bands/2^(planes/bands) of the cross product on uncorrelated data
    (4-bit bands at the defaults — raise ``n_planes`` toward
    log₂(|corpus|)·bands at scale, same math as
    :func:`~palo_spark.operators.dedup.embedding_dup_pairs`), and a
    query's own vector (if present in the corpus) is guaranteed to be a
    candidate (identical vectors share all bands).

    Approximate: a true neighbor sharing no band with the query is
    missed; recall is pytest-checked against :func:`knn_join`.
    Returns (q_id, c_id, score, rank) with rank ≤ k per query.
    """
    from palo_spark.operators.cache import _persist

    dim = len(corpus.select(c_vec).head()[0])
    planes = hyperplanes(dim, n_planes, seed)

    # band join carries IDs only (the bands×-exploded shuffle would ship
    # every vector `bands` times); vectors re-attach to the deduped
    # candidate pairs from the persisted signature stages — same design
    # as embedding_dup_pairs. Release with operators.release_persisted().
    qs = _persist(
        queries.select(
            F.col(q_id), F.col(q_vec),
            lsh_band_bits(F.col(q_vec), planes, bands).alias("__bk"),
        ),
        "knn_join_lsh",
    )
    cs = _persist(
        corpus.select(
            F.col(c_id), F.col(c_vec),
            lsh_band_bits(F.col(c_vec), planes, bands).alias("__bk"),
        ),
        "knn_join_lsh",
    )
    qb = qs.select(q_id, F.posexplode("__bk").alias("__band", "__bits"))
    cb = cs.select(c_id, F.posexplode("__bk").alias("__band", "__bits"))
    cand = (
        qb.join(cb, ["__band", "__bits"])
        .select(q_id, c_id)
        .dropDuplicates([q_id, c_id])
    )
    from palo_spark.operators.cache import _fanout

    # the cosine scoring below is an interpreted fold — spread the
    # candidate pairs to a full task wave instead of AQE's byte-based
    # coalesce (0.76 s on 2 tasks at sf0.1; see _fanout)
    scored = (
        _fanout(
            cand.join(qs.select(q_id, q_vec), q_id)
            .join(cs.select(c_id, c_vec), c_id)
        )
        .select(
            F.col(q_id),
            F.col(c_id),
            cosine_similarity(c_vec, q_vec, quantized=quantized).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.col(c_id))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "score", "rank")
    )
    if materialize:
        # ≤ k rows per query: checkpoint the result and release both
        # signature caches before returning (structural lifecycle, r9)
        from palo_spark.operators.cache import _materialize, _release_frames

        try:
            out = _materialize(out)
        finally:
            _release_frames(qs, cs)
    return out


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q_embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard embedding
    compression for large-scale ANN (4× smaller than float32, dot
    products stay rank-faithful): ``q_i = floor(x_i * 127 / max|x| + 0.5)``
    with the per-vector ``scale = max|x| / 127`` kept for dequantization
    (``x ≈ q * scale``).

    Entirely native higher-order functions (aggregate + transform) —
    JVM-side, zero Python, scan-bound at any scale. The explicit
    floor(+0.5) rounding makes the op bit-reproducible across engines
    (banker's-rounding differences can't creep in). All-zero vectors
    quantize to zeros with scale 0.
    """
    c = F.col(vec_col)
    mx = F.aggregate(
        c, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    df = df.withColumn("__mx", mx)
    q = F.when(
        F.col("__mx") > 0.0,
        F.transform(
            c,
            lambda x: F.floor(
                x.cast("double") * F.lit(127.0) / F.col("__mx") + F.lit(0.5)
            ).cast("tinyint"),
        ),
    ).otherwise(F.transform(c, lambda x: F.lit(0).cast("tinyint")))
    scale = F.when(F.col("__mx") > 0.0, F.col("__mx") / F.lit(127.0)).otherwise(
        F.lit(0.0)
    )
    return (
        df.withColumn(out_col, q)
        .withColumn(f"{out_col}_scale", scale)
        .drop("__mx")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec_col, planes: list[list[float]]):
    """p-bit signature: bit i = sign(dot(vec, plane_i)) — one int column.

    Use as a partition/bucket key on write (``df.write.partitionBy``) so
    queries prune to one bucket's files.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bucket = bucket + F.when(_dot(v, _vec_lit(p)) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_band_bits(vec_col, planes: list[list[float]], bands: int):
    """Arrow-vectorized banded sign-LSH signature: ``array<bigint>`` of
    length ``bands``, element ``b`` = the packed sign bits of planes
    ``[b*r, (b+1)*r)`` (``r = len(planes) // bands``).

    Unlike :func:`lsh_bucket` (one packed long, ≤64 planes), band keys
    are computed independently, so wide signatures (128+ planes — what
    keeps per-band keys high-entropy enough to prune at scale) work.
    Implemented as ONE pandas_udf doing a numpy matmul per Arrow batch:
    the native-Column alternative (n_planes × dim literal tree) costs
    ~17s of py4j expression BUILDING at 128×64 and evaluates 128
    interpreted HOF folds per row; the matmul is a single vectorized
    kernel with the planes matrix shipped once per executor."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    r = P.shape[0] // bands
    weights = (1 << np.arange(r, dtype=np.int64))  # bit j of each band

    dim = P.shape[1]

    @F.pandas_udf("array<bigint>")
    def _sig(col: pd.Series) -> pd.Series:
        # NULL / wrong-length vectors get a NULL signature (the row then
        # drops out of band-key joins, matching the native lsh_bucket
        # NULL tolerance) instead of failing the whole batch on np.stack.
        raw = col.to_numpy()
        ok = np.array(
            [hasattr(x, "__len__") and len(x) == dim for x in raw], dtype=bool
        )
        out = np.empty(len(raw), dtype=object)
        if ok.any():
            V = np.stack(raw[ok])  # (n_ok, dim)
            signs = (V @ P.T) > 0  # (n_ok, n_planes)
            bits = signs[:, : bands * r].reshape(-1, bands, r) @ weights
            out[np.flatnonzero(ok)] = list(bits)
        return pd.Series(out)

    return _sig(v)


def ivf_assign(vec_col, centroids: list[list[float]], *, quantized: bool = False):
    """IVF cell id: argmax cosine against the (small, broadcast-as-
    literal) centroid list — one JVM fold per centroid, no shuffle.
    Ties go to the higher cell (``array_max`` struct ordering).

    ``quantized=True`` scores with the integer-quantized cosine
    (:func:`_qdot`) — bit-identical across engines and summation
    orders, so an external oracle can replay the assignment exactly.

    Use as a partition key on write so probes prune to nprobe cells'
    files — the IVF index IS the parquet layout at scale.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if quantized:
        import math

        # Reduced score qdot(v,c)/sqrt(qdot(c,c)): the row-constant
        # 1/sqrt(qdot(v,v)) factor cannot change the per-row argmax, so
        # it is dropped — that removes 2 of the 3 array folds per
        # (row, centroid). sqrt(qdot(c,c)) is a driver-computed literal
        # (same correctly-rounded double the oracle's sqrt yields from
        # the same exact integer), so the oracle replays this formula
        # bit-for-bit.
        #
        # Vectorized Arrow kernel, not an expression tree: Spark
        # higher-order functions evaluate INTERPRETED (~1 µs per lambda
        # call), so a k=8 × d=64 quantized argmax costs ~0.5 k lambda
        # evals per ROW — the numpy kernel does the identical exact
        # arithmetic (float32→float64 exact widening, left-associated
        # (v·c)·10⁶ products, np.floor = FLOOR toward −∞, int64 sums,
        # one correctly-rounded division by the sqrt literal) at
        # ~1 ns/element, and ties break to the HIGHER cell via
        # last-argmax — bit-equal to the array_max form (pinned by
        # test_ivf_assign_quantized_ties_to_higher_cell and the 3-SF
        # oracle parity of all three consumers).
        def _py_qd(u, w):
            return sum(math.floor(float(x) * float(y) * 1e6) for x, y in zip(u, w))

        C = np.array(centroids, dtype=np.float64)  # (k, d)
        d = C.shape[1]
        sqrt_cc = [math.sqrt(_py_qd(c, c)) for c in centroids]
        # a zero-norm centroid would divide every row's score by 0 →
        # inf/NaN silently skewing the argmax (ADVICE r7); the
        # expression path would NULL out — fail loud instead, the
        # centroid list is a training bug
        for j, s in enumerate(sqrt_cc):
            if s == 0.0:
                raise ValueError(
                    f"ivf_assign: centroid {j} has qdot(c,c)==0 "
                    "(zero vector after quantization) — scores would be "
                    "inf/NaN; retrain or drop the empty cell"
                )

        @F.pandas_udf("int")
        def _assign(vs: pd.Series) -> pd.Series:
            # NULL / wrong-dimension rows → NULL cell, matching the
            # expression path (aggregate over a NULL array is NULL →
            # array_max struct NULL); a ragged row must not crash
            # np.stack for the whole batch (ADVICE r7)
            arrs = [
                None
                if x is None
                else np.asarray(x, dtype=np.float64)  # float32 widens exactly
                for x in vs
            ]
            ok = np.array(
                [a is not None and a.shape == (d,) for a in arrs], dtype=bool
            )
            out = np.full(len(arrs), -1, dtype=np.int64)
            if ok.any():
                V = np.stack([a for a, k in zip(arrs, ok) if k])  # (m, d)
                S = np.empty((V.shape[0], len(C)), dtype=np.float64)
                for j in range(len(C)):
                    q = np.floor((V * C[j]) * 1e6).astype(np.int64).sum(axis=1)
                    S[:, j] = q.astype(np.float64) / sqrt_cc[j]
                # last-argmax == ties to the higher cell (array_max order)
                out[ok] = S.shape[1] - 1 - np.argmax(S[:, ::-1], axis=1)
            res = pd.Series(out).astype("Int32")
            res[~ok] = None
            return res

        return _assign(v)
    d = len(centroids[0])
    if isinstance(vec_col, str) and all(
        np.isfinite(x) for c in centroids for x in c
    ):
        # one-parse SQL twin of the Column construction below (see
        # _dot_sql): 8 centroids × (dot + struct) built as Columns cost
        # ~0.3 s of py4j per call; the parsed tree is identical
        qv = f"`{vec_col}`"
        structs = []
        for i, c in enumerate(centroids):
            arr = "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            cn = float(np.linalg.norm(c))
            structs.append(
                f"named_struct('s', ({_dot_sql(qv, arr)} / "
                f"(SQRT({_dot_sql(qv, qv)}) * {cn!r}D)), "
                f"'cell', CAST({i} AS INT))"
            )
        return F.expr(
            f"CASE WHEN size({qv}) = {d} THEN "
            f"array_max(array({','.join(structs)})).cell "
            "ELSE CAST(NULL AS INT) END"
        )
    vn = _norm(v)
    scores = [
        _dot(v, _vec_lit(c)) / (vn * F.lit(float(np.linalg.norm(c))))
        for c in centroids
    ]
    scored = F.array(
        *[
            F.struct(s.alias("s"), F.lit(i).cast("int").alias("cell"))
            for i, s in enumerate(scores)
        ]
    )
    # NULL/wrong-dimension rows → NULL cell, same contract as the
    # quantized kernel above (zip_with would otherwise silently score
    # the truncated common prefix and assign a bogus cell)
    return F.when(F.size(v) == d, F.array_max(scored)["cell"]).otherwise(
        F.lit(None).cast("int")
    )


def train_centroids(
    df: DataFrame,
    n_cells: int = 8,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 2,
) -> list[list[float]]:
    """Deterministic k-means-lite centroids: seed with the ``n_cells``
    lowest-id vectors, then ``iterations`` Lloyd rounds — each round is
    one assignment scan + one groupBy mean (two jobs, no driver loop
    over rows; only the k centroid vectors ever reach the driver)."""
    seeds = [
        r[0]
        for r in df.orderBy(id_col).select(vec_col).limit(n_cells).collect()
    ]
    centroids = [[float(x) for x in s] for s in seeds]
    dim = len(centroids[0])
    for _ in range(iterations):
        assigned = df.select(
            ivf_assign(vec_col, centroids).alias("__cell"), F.col(vec_col).alias("__v")
        )
        means = (
            assigned.groupBy("__cell")
            .agg(
                *[
                    F.avg(F.element_at("__v", i + 1)).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new = {r["__cell"]: [float(r[f"m{i}"]) for i in range(dim)] for r in means}
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def train_centroids_exact(
    df: DataFrame,
    n_cells: int = 8,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 2,
) -> list[list[float]]:
    """Cross-engine-REPLAYABLE k-means-lite: same seeding and Lloyd
    structure as :func:`train_centroids`, but every float operation is
    pinned so an external engine (the DuckDB suite oracle) reproduces
    the trained centroids bit-for-bit:

    - assignment scores with the integer-quantized cosine
      (:func:`_qdot` — exact integer sums, order-independent);
    - the centroid update is ``c_i = S_i / (n · 10⁶)`` where
      ``S_i = Σ FLOOR(x_i · 10⁶)`` is an exact BIGINT sum — one
      correctly-rounded IEEE division of two exact integers, identical
      in Spark, Python, and any SQL engine (vs ``AVG(double)``, whose
      parallel summation order is engine-dependent);
    - empty cells keep their previous centroid.

    Per round: one assignment scan + one groupBy with d integer sums;
    only k×d centroid values reach the driver."""
    seeds = [
        r[0]
        for r in df.orderBy(id_col).select(vec_col).limit(n_cells).collect()
    ]
    centroids = [[float(x) for x in s] for s in seeds]
    dim = len(centroids[0])
    for _ in range(iterations):
        assigned = df.select(
            ivf_assign(vec_col, centroids, quantized=True).alias("__cell"),
            F.col(vec_col).alias("__v"),
        )
        rows = (
            assigned.groupBy("__cell")
            .agg(
                F.count("*").alias("__n"),
                *[
                    F.sum(
                        F.floor(
                            F.element_at("__v", i + 1).cast("double") * 1e6
                        ).cast("long")
                    ).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new = {
            r["__cell"]: [r[f"s{i}"] / (r["__n"] * 1_000_000) for i in range(dim)]
            for r in rows
        }
        centroids = [new.get(i, centroids[i]) for i in range(n_cells)]
    return centroids


def similarity_topk_ivf(
    df: DataFrame,
    query_vec,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    nprobe: int = 3,
    centroids: list[list[float]] | None = None,
    quantized: bool = False,
    assign_quantized: bool = False,
) -> DataFrame:
    """ANN top-k via IVF: score the query against the centroid list
    driver-side, scan only the ``nprobe`` nearest cells, exact-score the
    candidates. Recall is tunable via nprobe (nprobe=n_cells is exact).

    ``assign_quantized=True`` ranks probes and assigns cells with the
    integer-quantized cosine (ties: probes to the lower cell — stable
    sort; assignment to the higher cell — ``array_max``), making the
    whole probe path replayable by an external value oracle."""
    if centroids is None:
        centroids = train_centroids(df, n_cells, vec_col=vec_col, id_col=id_col)
    if assign_quantized:
        import math

        def _pyqdot(u, w):
            return sum(math.floor(float(x) * float(y) * 1e6) for x, y in zip(u, w))

        qv = [float(x) for x in query_vec]
        sims = [
            _pyqdot(qv, c) / math.sqrt(_pyqdot(qv, qv) * _pyqdot(c, c))
            for c in centroids
        ]
    else:
        q = np.asarray(query_vec, dtype=float)
        sims = [
            float(np.dot(q, np.asarray(c)) / (np.linalg.norm(q) * np.linalg.norm(c)))
            for c in centroids
        ]
    probes = sorted(range(len(centroids)), key=lambda i: -sims[i])[:nprobe]
    cands = df.withColumn(
        "__cell", ivf_assign(vec_col, centroids, quantized=assign_quantized)
    ).filter(F.col("__cell").isin(probes))
    return similarity_topk(
        cands, query_vec, k, vec_col=vec_col, id_col=id_col, quantized=quantized
    )


def similarity_topk_lsh(
    df: DataFrame,
    query_vec,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    quantized: bool = False,
) -> DataFrame:
    """ANN top-k: scan only the query's LSH bucket (± Hamming-1 probes).

    Recall is tunable via ``n_planes`` (fewer planes → bigger buckets →
    higher recall, more scan) and ``multiprobe``. The exact scorer runs
    on the candidate set only.
    """
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    q_bucket = 0
    for i, p in enumerate(planes):
        if float(np.dot(np.asarray(query_vec, dtype=float), np.asarray(p))) > 0:
            q_bucket |= 1 << i
    probes = [q_bucket]
    if multiprobe:
        probes += [q_bucket ^ (1 << i) for i in range(n_planes)]

    bucketed = df.withColumn("__bucket", lsh_bucket(vec_col, planes))
    cands = bucketed.filter(F.col("__bucket").isin(probes))
    return similarity_topk(
        cands, query_vec, k, vec_col=vec_col, id_col=id_col, quantized=quantized
    )


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding", *, out_col: str | None = None
) -> DataFrame:
    """L2-normalize an embedding column (unit vectors make cosine = dot
    — the standard pre-step before ANN indexing). Pure native
    ``transform``/``aggregate`` expressions, zero shuffles; zero
    vectors pass through unchanged (norm 0 → divide guarded)."""
    c = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            c, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    unit = F.when(norm > 0.0, F.transform(c, lambda x: x.cast("double") / norm)).otherwise(
        F.transform(c, lambda x: x.cast("double"))
    )
    return df.withColumn(out_col or vec_col, unit)


def pca_fit(
    df: DataFrame, vec_col: str = "embedding", k: int = 8
) -> dict:
    """Distributed PCA fit over an embedding column — the MLlib
    computeCovariance shape, library-free:

    1. one ``mapInPandas`` pass emits per-PARTITION moment partials
       (n, Σx, flattened ΣxxT) — each partial is O(d²) regardless of
       row count, so the driver collect is bounded by partitions × d²,
       never by data;
    2. partials combine on the driver; covariance = ΣxxT/n − μμT
       (population form); ``numpy.linalg.eigh`` on the d×d matrix
       (d is the embedding dim — 64 here — not data-sized);
    3. returns mean, top-k components (rows, deterministic sign: each
       component's largest-|coordinate| entry is made positive),
       eigenvalues, and the explained-variance ratio.

    NULL / wrong-length vectors are skipped (counted in ``n_skipped``).
    """
    first = df.select(F.size(F.col(vec_col)).alias("d")).filter("d > 0").first()
    if first is None:
        raise ValueError("no vectors to fit")
    d = int(first["d"])

    def part(batches):
        n = 0
        skipped = 0
        s = np.zeros(d)
        xx = np.zeros((d, d))
        for pdf in batches:
            for v in pdf[vec_col]:
                if v is None or len(v) != d:
                    skipped += 1
                    continue
                a = np.asarray(v, dtype=np.float64)
                n += 1
                s += a
                xx += np.outer(a, a)
        yield pd.DataFrame(
            {
                "n": [n],
                "skipped": [skipped],
                "s": [s.tolist()],
                "xx": [xx.ravel().tolist()],
            }
        )

    parts = df.select(vec_col).mapInPandas(
        part, f"n long, skipped long, s array<double>, xx array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    if n == 0:
        raise ValueError("no valid vectors to fit")
    skipped = sum(r["skipped"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    xx = np.sum([np.asarray(r["xx"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = xx / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    # deterministic sign: flip so the max-|coord| entry is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    top = evals[order]
    total = float(np.sum(np.clip(evals, 0, None)))
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "eigenvalues": [float(v) for v in top],
        "explained_variance_ratio": [
            float(v) / total if total > 0 else 0.0 for v in top
        ],
        "trace": total,
        "n": int(n),
        "n_skipped": int(skipped),
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project embeddings onto fitted components: one vectorized
    Arrow-batched matmul per batch ((batch × d) @ (d × k)) — the same
    UDF shape as batched model inference; rows with NULL/wrong-length
    vectors project to NULL."""
    mean = np.asarray(model["mean"])
    comps = np.asarray(model["components"])  # (k, d)
    d = mean.shape[0]

    @F.pandas_udf("array<double>")
    def _proj(v: pd.Series) -> pd.Series:
        ok = v.map(lambda x: x is not None and len(x) == d)
        out = pd.Series([None] * len(v), dtype=object, index=v.index)
        if ok.any():
            idx = v.index[ok]
            M = np.stack(v[ok].to_numpy()).astype(np.float64) - mean
            P = M @ comps.T
            out.loc[idx] = pd.Series(list(map(list, P)), index=idx)
        return out

    return df.withColumn(out_col, _proj(F.col(vec_col)))


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the memory-side ANN path.
# A d-dim vector becomes M one-byte codes (argmin centroid per d/M-dim
# subvector); queries score against codes via an M×K lookup table (ADC)
# computed once driver-side — the 100 TB story is that the scan reads
# M bytes per vector instead of 4·d, and the per-row score is M array
# lookups, all whole-stage-codegen.  Distances use the repo's quantized
# integer convention (floor(diff² · 10⁶) summed exactly) so results are
# bit-identical in any engine — the suite replays encode AND scoring in
# DuckDB from the same codebook literals.


def pq_codebooks(
    dim: int, m: int, k: int, seed: int = 7, scale: float = 0.15
) -> list[list[list[float]]]:
    """Deterministic M×K×(dim/M) codebook literals (3-decimal rounded so
    the same numbers embed exactly in oracle SQL). Real deployments
    k-means these per subspace; the *engine* contract — literal arrays
    shipped into the plan — is identical either way."""
    rng = np.random.RandomState(seed)
    dsub = dim // m
    return [
        [[round(float(x), 3) for x in rng.normal(0.0, scale, dsub)] for _ in range(k)]
        for _ in range(m)
    ]


def _pq_subdist(vec, m: int, dsub: int, centroid: list[float]):
    """Quantized squared L2 between subvector m and one centroid:
    Σ_j floor((v[m·dsub+j] − c[j])² · 10⁶) — exact bigint, order-free."""
    terms = []
    for j, c in enumerate(centroid):
        d = F.element_at(vec, m * dsub + j + 1).cast("double") - F.lit(c)
        terms.append(F.floor(d * d * F.lit(1_000_000.0)).cast("long"))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def pq_encode(vec_col, codebooks: list[list[list[float]]], *, kernel: str = "numpy"):
    """``array<int>`` of M codes: per subvector, the argmin-distance
    centroid (ties → lower code).

    Two equivalent kernels producing BIT-IDENTICAL codes (pytest-pinned;
    the floor-quantized integer distances use the same IEEE-double
    operand order either way):

    - ``"native"``: K·M quantized-L2 expression trees under whole-stage
      codegen — zero Python, but the tree is K·M·dsub ``element_at``
      nodes: py4j expression BUILD time and codegen size grow with K·M
      (the same wall ``lsh_band_bits`` documents).
    - ``"numpy"`` (default): ONE pandas_udf per Arrow batch — einsum the
      (n, M, dsub) view against the (M, K, dsub) codebook tensor,
      floor-quantize, argmin (ties already favor the lower code). NULL /
      wrong-length vectors yield NULL codes instead of failing the batch.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dsub = len(codebooks[0][0])
    M = len(codebooks)
    if kernel == "native":
        codes = []
        for m, book in enumerate(codebooks):
            cands = F.array(
                *[
                    F.struct(
                        _pq_subdist(v, m, dsub, c).alias("d"),
                        F.lit(k).cast("int").alias("k"),
                    )
                    for k, c in enumerate(book)
                ]
            )
            codes.append(F.array_min(cands)["k"])
        return F.array(*codes)

    C = np.asarray(codebooks, dtype=np.float64)  # (M, K, dsub)
    dim = M * dsub

    @F.pandas_udf("array<int>")
    def _enc(col: pd.Series) -> pd.Series:
        raw = col.to_numpy()
        ok = np.array(
            [x is not None and hasattr(x, "__len__") and len(x) == dim for x in raw],
            dtype=bool,
        )
        out = np.empty(len(raw), dtype=object)
        if ok.any():
            V = np.stack([np.asarray(x, dtype=np.float64) for x in raw[ok]])
            S = V.reshape(-1, M, 1, dsub)  # (n, M, 1, dsub)
            diff = S - C[None, :, :, :]  # (n, M, K, dsub)
            # same scalar order as the native expr: (d*d*1e6) floored
            # per element, summed exactly as integers
            d = np.floor(diff * diff * 1_000_000.0).astype(np.int64).sum(axis=3)
            codes = d.argmin(axis=2).astype(np.int32)  # ties -> lower k
            out[np.flatnonzero(ok)] = list(codes)
        return pd.Series(out)

    return _enc(v)


def pq_adc_lut(query: list[float], codebooks: list[list[list[float]]]) -> list[list[int]]:
    """Driver-side M×K asymmetric-distance table: quantized squared L2
    from each query subvector to each centroid (same integer convention
    as :func:`pq_encode`, computed in plain Python — both inputs are
    literals)."""
    dsub = len(codebooks[0][0])
    import math

    lut = []
    for m, book in enumerate(codebooks):
        row = []
        for cent in book:
            s = 0
            for j, c in enumerate(cent):
                d = float(query[m * dsub + j]) - float(c)
                s += int(math.floor(d * d * 1_000_000.0))
            row.append(s)
        lut.append(row)
    return lut


def similarity_topk_pq(
    df: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: encode once (in practice codes are precomputed at
    ingest and the raw vectors never read), then score = Σ_m lut[m][code_m]
    — M ``element_at`` lookups per row, TakeOrderedAndProject for the
    top-k: zero shuffles, no Python."""
    lut = pq_adc_lut(query, codebooks)
    scored = df.withColumn("__pq", pq_encode(vec_col, codebooks))
    dist = None
    for m, row in enumerate(lut):
        term = F.element_at(
            F.array(*[F.lit(x).cast("long") for x in row]),
            F.element_at(F.col("__pq"), m + 1) + 1,
        )
        dist = term if dist is None else dist + term
    return (
        scored.select(F.col(id_col), dist.cast("long").alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def rrf_fuse(
    ranked: list[DataFrame],
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists:
    score(d) = Σ_lists floor(10⁹ / (k + rank_d)) — the standard way to
    combine lexical (BM25) and dense (ANN) retrieval without score
    calibration. Quantized to integers so the fused ranking is
    order-independent and engine-exact. Inputs are top-k lists (bounded
    rows), so the union + one tiny keyed aggregate is driver-negligible
    at any corpus size — the heavy lifting stays in the retrievers."""
    parts = [
        r.select(
            F.col(id_col),
            F.floor(
                F.lit(1_000_000_000.0) / (F.lit(float(k)) + F.col(rank_col))
            )
            .cast("long")
            .alias("rrf_part"),
        )
        for r in ranked
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy(id_col)
        .agg(F.sum("rrf_part").cast("long").alias("rrf"))
        .orderBy(F.desc("rrf"), id_col)
        .limit(top_n)
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    label_col: str = "label",
    quantized: bool = False,
    lsh: bool = False,
) -> DataFrame:
    """k-NN label propagation: each query row gets the majority label of
    its k nearest corpus rows (ties → smaller label) — weak-labeling /
    auto-tagging for training-data pipelines. Pure composition: the
    neighbor search is :func:`knn_join` (or the banded-LSH form for
    query TABLES at scale), the vote one keyed aggregate + max_by."""
    join = knn_join_lsh if lsh else knn_join
    nn = join(
        queries, corpus, k,
        q_id=q_id, q_vec=q_vec, c_id=c_id, c_vec=c_vec, quantized=quantized,
    )
    votes = (
        nn.join(corpus.select(F.col(c_id), F.col(label_col)), c_id)
        .groupBy(q_id, label_col)
        .agg(F.count("*").alias("votes"))
    )
    # Tie-break via min_by on (-votes, label): negating the numeric vote
    # count (not the label) keeps "ties -> smaller label" correct for ANY
    # orderable label type — negating a string label would cast to double
    # and yield NULL (silently nondeterministic under non-ANSI).
    return votes.groupBy(q_id).agg(
        F.expr(f"min_by({label_col}, struct(-votes, {label_col}))").alias(
            "pred_label"
        ),
        F.max("votes").alias("votes"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    max_literal: int = 256,
) -> DataFrame:
    """Embedding-space benchmark decontamination: drop corpus rows whose
    cosine to ANY eval/benchmark vector reaches ``threshold`` — the
    semantic complement of the n-gram ``text.decontaminate`` (catches
    paraphrased or reformatted eval leakage that shares no 8-gram).

    The bench set is an eval benchmark — small by definition — so its
    vectors ship as LITERALS (the centroid pattern): scoring is one
    per-row fold over the broadcast-as-literal array, quantized cosine
    (:func:`_qdot`, bit-stable cross-engine), ZERO shuffles — the
    filter rides the scan at any corpus size. Benches beyond
    ``max_literal`` vectors fail loud; use :func:`knn_join` (broadcast
    join + keyed max) for that regime instead of silently building a
    megabyte-scale plan."""
    import math

    rows = bench.select(vec_col).collect()
    if len(rows) > max_literal:
        raise ValueError(
            f"semantic_decontaminate: bench has {len(rows)} vectors "
            f"(> max_literal={max_literal}); use knn_join for large benches"
        )
    vecs = [[float(x) for x in r[0]] for r in rows]

    def _py_qd(u, w):
        return sum(math.floor(float(x) * float(y) * 1e6) for x, y in zip(u, w))

    bench2d = F.array(*[_vec_lit(b) for b in vecs])
    bb = F.array(*[F.lit(float(_py_qd(b, b))) for b in vecs])
    v = F.col(vec_col)
    vv = _qdot(v, v).cast("double")
    scores = F.transform(
        bench2d,
        lambda b, i: _qdot(v, b).cast("double")
        / F.sqrt(vv * F.element_at(bb, i + 1)),
    )
    return corpus.filter(
        F.array_max(scores) < F.lit(float(threshold))
    )
