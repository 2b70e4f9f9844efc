"""Similarity search over embedding columns (array<float>).

No reference equivalent (extension surface per BASELINE.json). Two tiers:

- ``knn_brute``: exact top-k cosine via a broadcast cross-join — the
  correctness baseline. Dot products run JVM-side (zip_with/aggregate);
  top-k per query via window rank (no driver collect).
- ``knn_lsh``: random-hyperplane LSH bucketing — the scale path. Probes
  only same-bucket candidates (multi-probe via multiple tables), so work is
  ~linear in corpus size instead of |Q|×|C|.

100 TB posture: corpus stays partitioned; queries broadcast (queries are
the small side in retrieval workloads). If queries are also huge, swap to a
bucket-join on LSH keys — same code path as minhash LSH banding.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_tools_rs_spark.operators.sketch import kmv_hash

# ---------------------------------------------------------------------------
# SQL-text expression builder. Vector math with embedded float literals is
# written as Spark SQL text and compiled by one ``F.expr`` call: building the
# same tree through the Column API costs one driver→JVM round trip per
# literal and per lambda, tens of thousands for a multi-table LSH plan.
# ---------------------------------------------------------------------------


def _sql_ident(name: str) -> str:
    """Backtick-quoted identifier (embedded backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double(x: float) -> str:
    """Exact DOUBLE literal: ``repr`` round-trips every finite double and
    the ``D`` suffix types it. NaN and ±inf have no literal form."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL double literal for {x!r}")
    return repr(x) + "D"


def _sql_vector(xs) -> str:
    return "array(" + ", ".join(_sql_double(x) for x in xs) + ")"


def _lit_vector(xs) -> Column:
    """``array<double>`` literal holding exactly the given floats."""
    return F.expr(_sql_vector(xs))


def _sql_doubles(vec: str) -> str:
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def _sql_dot(a: str, b: str) -> str:
    """Dot product of two ``array<double>`` SQL expressions: a sequential
    left-to-right fold in double (float32 accumulation would drift ~1e-7
    relative, the order of a 6-dp output round)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0D AS DOUBLE), (acc, y) -> acc + y)"
    )


def _sql_cosine(a: str, b: str) -> str:
    """Cosine similarity of two vector SQL expressions."""
    ad, bd = _sql_doubles(a), _sql_doubles(b)
    return (
        f"CAST({_sql_dot(ad, bd)} / "
        f"(SQRT({_sql_dot(ad, ad)}) * SQRT({_sql_dot(bd, bd)})) AS DOUBLE)"
    )


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two vector columns, by name."""
    return F.expr(_sql_cosine(_sql_ident(a), _sql_ident(b)))


def _sql_plane_dots(vec: str, planes: list[list[float]]) -> list[str]:
    """One dot fold per hyperplane, each against a double literal array."""
    vd = _sql_doubles(vec)
    return [_sql_dot(vd, _sql_vector(p)) for p in planes]


def _sql_sign_bucket(dots: list[str]) -> str:
    """Bucket id: bit i set iff plane dot i is > 0 (BIGINT)."""
    return "CAST(0 AS BIGINT)" + "".join(
        f" + (CASE WHEN {d} > 0 THEN {1 << i}L ELSE 0L END)"
        for i, d in enumerate(dots)
    )


def _sql_probe_buckets(dots: list[str], num_probes: int) -> str:
    """Array of the main bucket followed by one bucket per flipped bit,
    flipping planes in ascending (|dot|, index) order."""
    bucket = _sql_sign_bucket(dots)
    n = min(num_probes, len(dots))
    if n <= 0:
        return f"array({bucket})"
    margins = ", ".join(
        f"named_struct('m', abs({d}), 'i', {i})" for i, d in enumerate(dots)
    )
    return (
        f"concat(array({bucket}), transform(slice(sort_array(array("
        f"{margins})), 1, {n}), _flip -> ({bucket}) ^ shiftleft(1L, _flip.i)))"
    )


def knn_brute(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    round_scale: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query.

    Broadcast the (small) query set against the partitioned corpus —
    the cross product never shuffles the corpus; ranking is one shuffle on
    query_id. Ties broken by corpus id for determinism.
    """
    q = F.broadcast(
        queries.select(F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv"))
    )
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cv"))
    # rank on the RAW similarity (ties broken by id); round only the output —
    # ranking on a rounded value would disagree with any exact-math oracle
    scored = c.crossJoin(q).select(
        F.col("_qid"),
        F.col("_cid"),
        cosine("_qv", "_cv").alias("_sim"),
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias("neighbor_id"),
            F.round("_sim", round_scale).cast("double").alias("cosine_sim"),
            "rank",
        )
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id (BIGINT) of the vector column named ``vec``:
    bit i is set iff its dot with ``planes[i]`` is > 0. Each dot is a
    sequential left-to-right fold in double, so the sign is bit-for-bit
    the one any engine gets replaying that fold over the same literals.
    Built as SQL text and compiled by one ``F.expr`` call."""
    return F.expr(_sql_sign_bucket(_sql_plane_dots(_sql_ident(vec), planes)))


def lsh_probe_buckets(
    vec: str, planes: list[list[float]], num_probes: int
) -> Column:
    """Main bucket plus ``min(num_probes, len(planes))`` multi-probe
    buckets (Lv et al., VLDB'07) of the vector column named ``vec``:
    probe j flips the bit of the plane with the j-th smallest
    (|dot|, plane index), the bits most likely to differ from a true
    neighbor's bucket. Returns ``array<bigint>``, main bucket first,
    all distinct. Built as SQL text and compiled by one ``F.expr``
    call."""
    return F.expr(
        _sql_probe_buckets(
            _sql_plane_dots(_sql_ident(vec), planes), num_probes
        )
    )


def _lsh_corpus_keys(vec: str, tables: list[list[list[float]]]) -> Column:
    """``array<struct<t: int, b: bigint>>``: the bucket of the vector
    column named ``vec`` in every table, as one expression."""
    v = _sql_ident(vec)
    return F.expr(
        "array("
        + ", ".join(
            f"named_struct('t', {t}, 'b', "
            f"{_sql_sign_bucket(_sql_plane_dots(v, planes))})"
            for t, planes in enumerate(tables)
        )
        + ")"
    )


def _explode_lsh_probe_keys(
    df: DataFrame, vec: str, tables: list[list[list[float]]], num_probes: int
) -> DataFrame:
    """``df`` with one row per table and main-or-probe bucket
    (:func:`lsh_probe_buckets`) of the vector column named ``vec``, keyed
    by ``_tb: struct<t: int, b: bigint>``. The plane dots are computed
    once, as columns of a first projection; a second derives buckets and
    probes from them, so each dot is folded once per row."""
    names = [
        [f"_d{t}_{i}" for i in range(len(planes))]
        for t, planes in enumerate(tables)
    ]
    v = _sql_ident(vec)
    dots = df.selectExpr(
        "*",
        *[
            f"{d} AS {n}"
            for planes, row in zip(tables, names)
            for d, n in zip(_sql_plane_dots(v, planes), row)
        ],
    )
    keys = ", ".join(
        f"transform({_sql_probe_buckets(row, num_probes)}, "
        f"b -> named_struct('t', {t}, 'b', b))"
        for t, row in enumerate(names)
    )
    # the explode stays inline: over a projected key array,
    # InferFiltersFromGenerate pushes a size() filter below it that
    # re-inlines every dot
    return dots.select(
        *[F.col(_sql_ident(c)) for c in df.columns],
        F.explode(F.expr(f"flatten(array({keys}))")).alias("_tb"),
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 1,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    num_probes: int = 0,
) -> DataFrame:
    """Approximate top-k cosine: candidates are the corpus vectors that
    share a sign-LSH bucket with the query in any of ``num_tables``
    tables, exactly rescored.

    Table t hashes with ``num_planes`` hyperplanes seeded
    ``seed + 7919·t`` (so ``num_tables=1`` is the single-table index).
    Each query also probes its ``num_probes`` weakest-margin bit flips
    per table (:func:`lsh_probe_buckets`); ``num_probes=0`` probes the
    main bucket only. The corpus replicates ×num_tables, the broadcast
    query side ×num_tables·(1+probes), so probes are the cheap recall
    knob while queries are few; when the query set grows with the
    corpus, prefer tables, or the dedup_* band joins. One join on the
    (table, bucket) key, a pair reached several ways collapses in the
    max() that scores it, and ties rank by corpus id. Output:
    ``(query_id, neighbor_id, cosine_sim rounded to 6 dp, rank)``.

    Every vector expression is SQL text compiled by ``F.expr``: one
    expression holds all corpus-side buckets (:func:`_lsh_corpus_keys`);
    the query side computes its num_tables·num_planes plane dots once as
    columns, and a second projection derives the buckets and probes
    from them (:func:`_explode_lsh_probe_keys`)."""
    tables = [
        _hyperplanes(dim, num_planes, seed + 7919 * t)
        for t in range(num_tables)
    ]
    c = corpus.select(
        F.col(corpus_id).alias("_cid"),
        F.col(corpus_vec).alias("_cv"),
        F.explode(_lsh_corpus_keys(corpus_vec, tables)).alias("_tb"),
    )
    # within a table the probe buckets are distinct and tables are keyed
    # apart by t, so no (qid, tb) duplicates need removing
    q = _explode_lsh_probe_keys(
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv")
        ),
        "_qv",
        tables,
        num_probes,
    )
    scored = (
        c.join(F.broadcast(q), "_tb")
        .select("_qid", "_cid", cosine("_qv", "_cv").alias("_sim"))
        # a pair found by several tables scores identically — max() is
        # the dedup (cheaper than distinct on the vectors themselves)
        .groupBy("_qid", "_cid")
        .agg(F.max("_sim").alias("_sim"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias("neighbor_id"),
            F.round("_sim", 6).cast("double").alias("cosine_sim"),
            "rank",
        )
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    target_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join: vectors in
    the same hyperplane bucket (:func:`lsh_bucket`) with 6-dp cosine ≥
    threshold, as ``(id_a < id_b, cosine_sim)``. Exact within buckets —
    so per-bucket occupancy m costs m²/2 verifies, and a FIXED plane
    count goes quadratic as the corpus grows. ``num_planes`` must scale
    ~log2(n): pass ``target_bucket_size`` to raise planes to
    ``ceil(log2(n / target_bucket_size))`` from one count, so expected
    occupancy stays ~constant and the join stays ~linear. (More planes =
    tighter buckets = lower recall for borderline pairs; near-exact
    duplicates land in the same bucket at any reasonable plane count.)"""
    if target_bucket_size is not None:
        n = df.count()
        if n > target_bucket_size:
            num_planes = max(
                num_planes, math.ceil(math.log2(n / target_bucket_size))
            )
    planes = _hyperplanes(dim, num_planes, seed)
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        lsh_bucket(vec_col, planes).alias("_bkt"),
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, (F.col("a._bkt") == F.col("b._bkt")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(
                F.expr(_sql_cosine("`a`.`_v`", "`b`.`_v`")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def quantize_vec(col: Column, input_scale: int = 6) -> Column:
    """Floor-quantize a float vector to ``10^-input_scale`` integer
    micro-units (``array<bigint>``). The cast order matters for oracle
    parity: widen to DOUBLE first, multiply by a DOUBLE literal, then
    floor — DuckDB replays the identical op chain (a bare ``1e6 * col``
    would multiply in FLOAT there and round differently)."""
    p = float(10**input_scale)
    return F.transform(
        col, lambda x: F.floor(F.lit(p).cast("double") * x.cast("double"))
    )


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero, as SQL ``//`` does
    (Python's ``//`` floors) — the exact trainers' centroid mean."""
    q = abs(s) // n
    return q if s >= 0 else -q


def _refuse_magnitude(maxima) -> None:
    """The exact trainers' 1e8 magnitude contract over per-group
    max|q| values (``None`` for empty groups). The numpy argmin probe
    computes integer squared distances in float64 — exact iff every
    per-pair distance < 2^53. |q| ≤ 1e8 gives dim·(2e8)² = dim·4e16 ≤
    2^53 for dim ≤ 225; the engine's embedding dims (≤ 64) leave 3.5×
    headroom even there."""
    max_q = max((int(v) for v in maxima if v is not None), default=0)
    if max_q > 10**8:
        raise ValueError(
            f"quantized magnitudes up to {max_q} exceed the 1e8 "
            f"exactness contract (float64 argmin would no longer "
            f"be exact); lower the quantization scale"
        )


def _check_magnitude_contract(df: DataFrame, qvec_col: str) -> None:
    """Standalone magnitude-contract check (one narrow max-only
    aggregate job). Only used by the ``iterations=0`` paths of the exact
    trainers, where no round-1 aggregation exists to carry the check."""
    r = (
        df.select(F.posexplode(F.col(qvec_col)).alias("_i", "_x"))
        .agg(F.max(F.abs(F.col("_x"))).alias("_mx"))
        .first()
    )
    _refuse_magnitude([r["_mx"]] if r is not None else [])


def kmeans_centroids_exact(
    df: DataFrame,
    k: int,
    qvec_col: str,
    id_col: str = "vec_id",
    iterations: int = 3,
) -> list[list[int]]:
    """Deterministic, ORACLE-REPLAYABLE Lloyd's k-means over a
    pre-quantized (``quantize_vec``) integer vector column — the
    engine's one k-means trainer (``knn_ivf`` cells, ``semdedup``
    clusters). Everything is exact integer arithmetic, so the trained
    centroids are a pure function of the data — the same property
    :func:`pca_fit_exact` gives PCA — and the whole TRAINING can be
    unrolled in SQL:

    - init: the ``k`` smallest-id vectors (stable across engines);
    - assignment: argmin of the exact integer squared L2 (micro-unit
      components ≤ ~1e6, so per-pair distances ≤ ~6.4e13 stay exact in
      the float64 the numpy probe uses — argsort order is the exact
      integer order, index tie-break);
    - update: per-cell per-dim DECIMAL sums (order-invariant) with
      truncating integer division (matching SQL ``//``); empty cells
      keep their previous centroid.

    Returns micro-unit centroid rows (list of ints). Fixed
    ``iterations`` — no float tolerance test, the replica must run the
    same round count. Each round is one broadcast of k·dim centroids
    plus one map-side-combined groupBy(cell, dim) of per-partition
    partial sums; the data never collects. At 100 TB train on a sample
    (``df.sample``) and reuse the centroids.

    Input contract (enforced): at least ``k`` rows (the k smallest-id
    init needs them), and micro-unit magnitudes ≤ 10^8 — the exactness
    argument runs through the float64 numpy probe (per-pair squared L2
    ≤ dim·(2·max)² must stay under 2^53), so out-of-contract magnitudes
    would silently break the exact-argmin property the oracles replay.
    The magnitude check rides round 1's own aggregation instead of a
    standalone corpus-scan job, so an out-of-contract corpus is refused
    after round 1's job."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    centroids = [
        [int(v) for v in r[0]]
        for r in df.orderBy(id_col).limit(k).select(qvec_col).collect()
    ]
    if len(centroids) < k:
        raise ValueError(
            f"kmeans_centroids_exact needs >= k rows to initialize; got "
            f"{len(centroids)} rows for k={k}"
        )
    dim = len(centroids[0])
    if iterations == 0:
        # with zero rounds there is no round-1 aggregation to ride, so
        # the magnitude contract gets its own (narrow max-only) job —
        # otherwise an out-of-contract corpus would silently return the
        # init centroids. Only paid on iterations=0 calls.
        _check_magnitude_contract(df, qvec_col)
    for it in range(iterations):
        assign = nearest_cells_udf(centroids, 1)
        # relational reduction: posexplode the vector and sum per
        # (cell, position) — ONE codegen sum with map-side combine and a
        # plan of constant size, where a dim-wide agg would pay planning
        # and compile again every round (the centroid literals change)
        assigned = df.select(
            F.element_at(assign(F.col(qvec_col)), 1).alias("_c"),
            F.posexplode(F.col(qvec_col)).alias("_i", "_x"),
        )
        aggs = [
            F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        ]
        if it == 0:
            # the global max|q| is the max of the per-(cell, dim) maxes
            # this groupBy already computes over every exploded
            # component, so the contract check costs no extra job
            aggs.append(F.max(F.abs(F.col("_x"))).alias("_mx"))
        rows = assigned.groupBy("_c", "_i").agg(*aggs).collect()
        if it == 0:
            _refuse_magnitude(r["_mx"] for r in rows)
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in rows:
            sums.setdefault(r["_c"], [0] * dim)[r["_i"]] = int(r["_s"])
            counts[r["_c"]] = r["_n"]
        centroids = [
            [_trunc_div(s, counts[c]) for s in sums[c]]
            if c in sums
            else centroids[c]
            for c in range(k)
        ]
    return centroids


def nearest_cells_udf(centroids: list[list[float]], n_probe: int = 1):
    """Arrow-vectorized centroid probe: pandas UDF mapping a vector column
    to its ``n_probe`` nearest centroid indices (array<int>, distance-
    ranked, ties broken by the lower centroid index).

    Dense k×dim×batch distance math belongs in one numpy matmul per Arrow
    batch, not an interpreted per-element HOF fold: centroids ride the
    UDF closure (serialized once per executor), and each batch costs two
    BLAS calls. This is the hot path for both k-means assignment and IVF
    probing."""
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant per row and
        # drops out of the argsort
        d = c2[None, :] - 2.0 * (X @ C.T)
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(idx))

    return _probe


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    assign_vec: str,
    k: int = 10,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into centroid cells
    (inverted file); each query probes its ``n_probe`` nearest cells and
    exact-rescores only those candidates.

    The model is an input: ``centroids`` come from
    :func:`kmeans_centroids_exact`, trained once (on a sample at scale)
    over the ``quantize_vec`` column ``assign_vec``, which corpus and
    queries both carry. Cell assignment and probing are exact integer
    argmins on that column; the rerank scores the original
    ``corpus_vec``/``query_vec`` floats. One assignment pass over the
    corpus (reusable across queries), candidate work ≈
    n_probe/len(centroids) of brute force; recall tunes with n_probe.
    """
    assign = nearest_cells_udf(centroids, 1)
    c = corpus.select(
        F.col(corpus_id).alias("_cid"),
        F.col(corpus_vec).alias("_cv"),
        F.element_at(assign(F.col(assign_vec)), 1).alias("_cell"),
    )
    # each query → n_probe candidate cells (ranked by centroid distance)
    probe = nearest_cells_udf(centroids, n_probe)
    # two selects: the explode expression references _qv, which must be a
    # real attribute (a same-select lateral alias breaks under Generate)
    q0 = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv"),
        F.col(assign_vec).alias("_aqv"),
    )
    q = q0.select("_qid", "_qv", F.explode(probe(F.col("_aqv"))).alias("_cell"))
    scored = c.join(F.broadcast(q), "_cell").select(
        "_qid", "_cid", cosine("_qv", "_cv").alias("_sim")
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias("neighbor_id"),
            F.round("_sim", 6).cast("double").alias("cosine_sim"),
            "rank",
        )
    )


def group_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    by: list[str] | None = None,
    scale: int = 6,
) -> DataFrame:
    """Per-group embedding centroid (mean pooling) — the class-prototype /
    cluster-summary op (label prototypes, topic centroids, per-source
    embedding drift monitoring).

    Float summation is order-dependent, so a naive avg() differs run-to-
    run under Spark's nondeterministic partial-agg order (and engine-to-
    engine). Components therefore sum as exact DECIMAL(28,12) —
    associative/commutative, partitioning-proof — and the final mean is
    floor-scaled to ``scale`` decimals: bit-identical anywhere.

    Plan: posexplode (rows = vectors × dim) → groupBy(group, position)
    decimal sums (ONE shuffle, map-side combined) → per-group ordered
    re-assembly (second shuffle of dim-sized rows). Returns
    ``(by..., centroid array<double>, n bigint)``.
    """
    by = by or []
    p10 = float(10**scale)
    pos = df.select(
        *by, F.posexplode(F.col(vec_col)).alias("_p", "_v")
    ).select(
        *by,
        "_p",
        F.col("_v").cast("double").cast("decimal(28,12)").alias("_vd"),
    )
    comp = pos.groupBy(*by, "_p").agg(
        F.sum("_vd").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    mean = comp.select(
        *by,
        "_p",
        "_n",
        (
            F.floor(F.lit(p10) * (F.col("_s").cast("double") / F.col("_n")))
            / F.lit(p10)
        ).cast("double").alias("_m"),
    )
    return mean.groupBy(*by).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_m"))), lambda s: s["_m"]
        ).alias("centroid"),
        F.max("_n").cast("bigint").alias("n"),
    )


def embedding_profile(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Per-dimension statistics of an embedding column — the vector-
    quality audit (dead dimensions, range drift after a model swap,
    normalization checks): one row per dimension with min/max/mean and
    the count of non-null vectors carrying it.

    Same determinism discipline as :func:`group_centroids`: means come
    from exact DECIMAL(28,12) sums (float add order never leaks),
    floor-scaled; min/max are order-free already. One posexplode +
    one groupBy(dimension) — shuffle rows = vectors × dim, combined
    map-side down to dim rows.
    """
    p10 = float(10**scale)
    pos = df.select(F.posexplode(F.col(vec_col)).alias("_p", "_v")).select(
        "_p",
        F.col("_v").cast("double").alias("_vd"),
        F.col("_v").cast("double").cast("decimal(28,12)").alias("_vdec"),
    )
    return (
        pos.groupBy("_p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("_vd").alias("min_v"),
            F.max("_vd").alias("max_v"),
            F.sum("_vdec").alias("_s"),
        )
        .select(
            F.col("_p").cast("bigint").alias("dim"),
            "n",
            "min_v",
            "max_v",
            (
                F.floor(F.lit(p10) * (F.col("_s").cast("double") / F.col("n")))
                / F.lit(p10)
            ).cast("double").alias("mean_v"),
        )
    )


# -- product quantization (PQ) ----------------------------------------------


def pq_train_exact(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    iterations: int = 3,
) -> list[list[list[int]]]:
    """Deterministic, ORACLE-REPLAYABLE PQ codebook training — the
    engine's one PQ trainer (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI'11): split the vector into ``m``
    equal subspaces and train ``ksub`` codewords in each with the
    exact-quantized Lloyd's of :func:`kmeans_centroids_exact` on the
    integer micro-unit slice, so the m×ksub×(dim/m) INTEGER codebooks
    are a pure function of the data and a SQL engine can replay the
    whole training (per-subspace unrolled rounds) from the raw table.
    Same input contract as ``kmeans_centroids_exact`` (≥ ksub rows,
    micro-units ≤ 1e8). All m subspaces train in ONE fused pass per
    round, the dim probe reads the init collect, and the magnitude
    check rides round 1's aggregation (1 + ``iterations`` corpus scans
    instead of m·(2 + ``iterations``)) — bit-identical to the per-slice
    composition, see the inline proof sketch. Codebooks are tiny and
    reusable: at 100 TB train on ``corpus.sample(...)``."""
    # r9 fusion: train ALL m subspaces in one distributed pass per round
    # instead of m independent kmeans_centroids_exact loops — the per-
    # subspace formulation ran m·(init + contract-check + iterations)
    # sequential corpus-scanning jobs (21 for m=4, iterations=3); this
    # runs 1 + iterations (the dim probe reads the init collect and the
    # magnitude contract check rides round 1's aggregation — r9, no
    # standalone jobs). Bit-identical by the exactness argument:
    # every quantity the rounds exchange (init ints, integer argmin
    # assignments, DECIMAL(38,0) dim sums, counts, truncating division)
    # is exact, so neither the fused scan nor the shared shuffle can
    # perturb any subspace's round — pinned vs the per-slice composition
    # in tests/test_ann_recall.py.

    # init: the ksub smallest-id FULL vectors once, sliced driver-side —
    # the identical ints each per-slice TakeOrdered collected
    init_rows = [
        [int(v) for v in r[0]]
        for r in corpus.orderBy(id_col).limit(ksub).select(qvec_col).collect()
    ]
    if not init_rows:
        raise ValueError("pq_train_exact: empty corpus")
    if len(init_rows) < ksub:
        raise ValueError(
            f"pq_train_exact needs >= ksub rows to initialize; got "
            f"{len(init_rows)} rows for ksub={ksub}"
        )
    dim = len(init_rows[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[int]]] = [
        [row[s * sub : (s + 1) * sub] for row in init_rows] for s in range(m)
    ]
    if iterations == 0:
        # same rationale as kmeans_centroids_exact: no round-1
        # aggregation exists to carry the check
        _check_magnitude_contract(corpus, qvec_col)
    for it in range(iterations):
        assign = _pq_assign_all_udf(books, sub)
        # one scan: per-row all-m assignments + posexplode of the full
        # vector; (cell, dim) is unique because the dim determines the
        # subspace. Shuffle volume equals the m per-slice jobs' combined.
        assigned = corpus.select(
            assign(F.col(qvec_col)).alias("_cs"),
            F.posexplode(F.col(qvec_col)).alias("_i", "_x"),
        ).select(
            F.element_at(
                F.col("_cs"), (F.col("_i") / sub).cast("int") + 1
            ).alias("_c"),
            "_i",
            "_x",
        )
        aggs = [
            F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        ]
        if it == 0:
            # magnitude contract check over the full vector == the max
            # over every slice, so accept/reject is identical to the
            # per-subspace checks; riding round 1's aggregation makes
            # it free
            aggs.append(F.max(F.abs(F.col("_x"))).alias("_mx"))
        rows = assigned.groupBy("_c", "_i").agg(*aggs).collect()
        if it == 0:
            _refuse_magnitude(r["_mx"] for r in rows)
        sums: list[dict[int, list[int]]] = [{} for _ in range(m)]
        counts: list[dict[int, int]] = [{} for _ in range(m)]
        for r in rows:
            s, li = divmod(r["_i"], sub)
            sums[s].setdefault(r["_c"], [0] * sub)[li] = int(r["_s"])
            counts[s][r["_c"]] = r["_n"]
        books = [
            [
                [_trunc_div(v, counts[s][c]) for v in sums[s][c]]
                if c in sums[s]
                else books[s][c]
                for c in range(ksub)
            ]
            for s in range(m)
        ]
    return books


def _pq_assign_all_udf(codebooks: list[list[list[float]]], sub: int):
    """All-subspace analogue of :func:`nearest_cells_udf` for the fused
    PQ trainer: maps the FULL quantized vector to its ``m`` per-subspace
    nearest-codeword indices in one Arrow batch (same ||c||² − 2x·c
    probe, same stable-argsort index tie-break, per subspace)."""
    Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    c2s = [(C * C).sum(axis=1) for C in Cs]
    m = len(Cs)

    @F.pandas_udf("array<int>")
    def _assign(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        out = np.empty((X.shape[0], m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * sub : (s + 1) * sub]
            d = c2s[s][None, :] - 2.0 * (Xs @ Cs[s].T)
            out[:, s] = np.argsort(d, axis=1, kind="stable")[:, 0]
        return pd.Series(list(out))

    return _assign


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors to ``m`` codebook indices: ``(id, codes array<int>)``.
    One Arrow-batched pass; each batch is m small matmuls. The code table
    is dim/m·32-bit → 8-bit per subspace — the compressed representation
    that makes the scan memory-bound instead of FLOP-bound at scale."""
    C = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(C)
    sub = C[0].shape[1]

    @F.pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * sub : (s + 1) * sub]
            d = (C[s] * C[s]).sum(axis=1)[None, :] - 2.0 * (Xs @ C[s].T)
            codes[:, s] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return corpus.select(
        F.col(id_col), _enc(F.col(vec_col)).alias("codes")
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    adc_vec: str,
    k: int = 10,
    rerank: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k cosine with exact re-ranking.

    The model is an input: ``codebooks`` are the INTEGER codebooks
    :func:`pq_train_exact` trains once (on a sample at scale) over the
    ``quantize_vec`` micro-unit column ``adc_vec``, which corpus and
    queries both carry.

    Asymmetric distance computation: each query builds an m×ksub lookup
    table of subspace dot products against the codewords; a corpus
    vector's approximate dot product is m table lookups on its codes —
    the compressed-domain scan touches 8·m bits per vector instead of
    32·dim. The ADC score is ``dot / sqrt(xnorm2·qnorm2)`` where dot and
    both norms are EXACT integers (every intermediate < 2^53, so the
    float64 matmuls are exact regardless of summation order) — the
    final score is three IEEE-754 ops (multiply, sqrt, divide) on
    identical operands, hence bit-identical in any engine. The
    per-partition candidate cut uses the same total order as the global
    cut — (score desc, id asc) — so the candidate set is a
    partitioning-independent pure function of the data and a SQL oracle
    can replay the ENTIRE pipeline, training included. The top
    ``k·rerank`` ADC candidates per query are re-scored EXACTLY against
    the raw ``corpus_vec``/``query_vec`` floats (one id-join), so
    returned scores are true cosines; only the candidate choice is
    approximate.

    At 100 TB: the code table is ~dim·4/m× smaller than the corpus,
    queries broadcast, and the single wide scan is memory-bandwidth
    bound. Recall tunes with m/ksub (at training) and rerank.
    """
    C = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(C)
    sub = C[0].shape[1]
    qrows = queries.select(query_id, adc_vec).collect()
    if not qrows:
        raise ValueError("knn_pq: empty queries (queries must be the small side)")
    qids = [r[0] for r in qrows]
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm2 = (Q * Q).sum(axis=1)  # exact ints in float64
    # LUT[q, s, c] = dot(query_sub, codeword); corpus-side approx norm from
    # codeword norms (exact norm of the RECONSTRUCTION)
    lut = np.stack(
        [Q[:, s * sub : (s + 1) * sub] @ C[s].T for s in range(m)], axis=1
    )
    cw_norm2 = [np.asarray([(w * w).sum() for w in C[s]]) for s in range(m)]

    codes = pq_encode(corpus, codebooks, vec_col=adc_vec, id_col=corpus_id)
    n_q = len(qids)
    out_schema = f"{corpus_id} long, _qi int, _adc double"

    def _scan(it):
        for pdf in it:
            Xc = np.stack(pdf["codes"].to_numpy())  # batch × m
            b = Xc.shape[0]
            approx = np.zeros((b, n_q), dtype=np.float64)
            xnorm2 = np.zeros(b, dtype=np.float64)
            for s in range(m):
                approx += lut[:, s, :][:, Xc[:, s]].T  # b × n_q
                xnorm2 += cw_norm2[s][Xc[:, s]]
            # dot/norms are exact integers; denominator is one IEEE
            # multiply + sqrt on exact operands (engine-portable).
            # Zero norms (zero reconstruction / zero query) score 0.
            denom = np.sqrt(xnorm2[:, None] * qnorm2[None, :])
            with np.errstate(invalid="ignore", divide="ignore"):
                sim = np.where(denom > 0, approx / denom, 0.0)
            top = min(k * rerank, b)
            ids_np = pdf[corpus_id].to_numpy()
            for qi in range(n_q):
                # SAME total order as the global cut — (score desc,
                # id asc) — so local top-T ⊇ its share of global top-T
                # and the candidate set is partitioning-independent
                idx = np.lexsort((ids_np, -sim[:, qi]))[:top]
                yield pd.DataFrame(
                    {
                        corpus_id: ids_np[idx],
                        "_qi": qi,
                        "_adc": sim[idx, qi],
                    }
                )

    # per-partition ADC top-(k·rerank), then global per-query cut to the
    # same bound, then exact re-rank on the raw vectors
    cand = codes.mapInPandas(_scan, schema=out_schema)
    wq = Window.partitionBy("_qi").orderBy(
        F.col("_adc").desc(), F.col(corpus_id).asc()
    )
    cand = (
        cand.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= k * rerank)
        .drop("_r")
    )
    qmap = queries.sparkSession.createDataFrame(
        [(i, qid) for i, qid in enumerate(qids)], f"_qi int, {query_id} long"
    )
    exact = (
        cand.join(corpus.select(corpus_id, corpus_vec), corpus_id)
        .join(F.broadcast(qmap), "_qi")
        .join(
            F.broadcast(queries.select(query_id, F.col(query_vec).alias("_qv"))),
            query_id,
        )
        .select(
            query_id,
            F.col(corpus_id).alias("neighbor_id"),
            cosine("_qv", corpus_vec).alias("_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            query_id,
            "neighbor_id",
            F.round("_sim", 6).cast("double").alias("cosine_sim"),
            "rank",
        )
    )


def quantize_int8(
    df: DataFrame,
    emb_col: str = "embedding",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the 4× storage /
    bandwidth cut every large embedding store takes before ANN serving:
    ``q_i = floor(127·x_i/s + 0.5)`` with ``s = max|x_i|`` kept alongside
    for dequantization (``x ≈ q·s/127``). ``floor(v + 0.5)`` instead of
    a round() builtin because round's half-way tie rule differs between
    engines while floor has none — the quantized codes are
    bit-reproducible anywhere.

    Pure per-row JVM column expressions (transform/array_max HOFs —
    narrow, codegen, ZERO shuffles); all-zero vectors quantize to zero
    codes with ``qscale = 0``. Output: id columns + ``(qscale double,
    qvec array<int>)``.
    """
    ids = id_cols if id_cols is not None else [df.columns[0]]
    emb = F.col(emb_col)
    s = F.array_max(F.transform(emb, lambda x: F.abs(x))).cast("double")
    q = F.when(
        s > 0,
        F.transform(
            emb,
            lambda x: F.floor(
                F.lit(127) * x.cast("double") / s + F.lit(0.5)
            ).cast("int"),
        ),
    ).otherwise(F.transform(emb, lambda x: F.lit(0)))
    return df.select(
        *ids,
        F.when(s > 0, s).otherwise(F.lit(0.0)).alias("qscale"),
        q.alias("qvec"),
    )


def dequantize_int8(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_int8``: ``x ≈ q·s/127`` as float32 — the
    read-path companion (narrow, no shuffle)."""
    s = F.col(scale_col)
    return df.withColumn(
        out_col,
        F.transform(
            F.col(qvec_col),
            lambda q: (q.cast("double") * s / F.lit(127)).cast("float"),
        ),
    )


def semdedup(
    df: DataFrame,
    centroids: list[list[int]],
    assign_vec: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    each vector to its nearest centroid, then WITHIN each cluster mark
    every vector whose cosine to any LOWER-id cluster member reaches
    ``threshold`` as a semantic duplicate. The lower-id rule makes the
    verdict a pure function of the pair set (deterministic, no
    greedy-order dependence) and always keeps exactly one representative
    per duplicate group's id-minimum.

    The model is an input: ``centroids`` come from
    :func:`kmeans_centroids_exact`, trained once over the
    ``quantize_vec`` column ``assign_vec``; assignment is an exact
    integer argmin on that column, and similarity verdicts come from the
    original ``vec_col`` floats.

    Scale shape: clustering makes the quadratic part local — pairwise
    cosine runs per cluster inside ``applyInPandas`` (one shuffle on the
    cluster id, one numpy matmul per cluster), never across the corpus.
    Work is Σ|cluster|² ≈ n²/k, so train k ∝ corpus size (SemDeDup used
    50k clusters for LAION-440M; train on a sample and reuse the
    centroids). Skewed clusters are the residual risk — AQE splits the
    shuffle, but a mega-cluster's matmul is one task.
    ``max_cluster_size`` bounds it (same policy shape as
    ``dedup_minhash_lsh``'s ``max_bucket_size``): clusters over the cap
    are split into ``ceil(n/cap)`` shards keyed by the portable
    md5-family id hash (``kmv_hash`` mod shards, SQL-replayable) and the
    pairwise pass runs per shard. Trade-off is explicit and identical to the LSH
    salt-split — cross-shard pairs inside an oversize cluster are not
    compared, so a boilerplate mega-cluster keeps one representative
    PER SHARD instead of one overall (recall loss only on clusters that
    breached the cap; verdicts on capped-size clusters are unchanged,
    and each shard's verdicts are still exact within the shard).

    Output: ``(id, cluster int, max_prior_sim double, is_dup boolean)``
    — ``max_prior_sim`` is the rounded (6 dp) max cosine to lower-id
    cluster members, NULL for each cluster's id-minimum.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0,1], got {threshold!r}")
    if max_cluster_size is not None and max_cluster_size < 1:
        raise ValueError(
            f"max_cluster_size must be >= 1, got {max_cluster_size!r}"
        )
    assign = nearest_cells_udf(centroids, 1)
    assigned = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.element_at(assign(F.col(assign_vec)), 1).alias("cluster"),
    )
    if max_cluster_size is not None:
        # sizes is ≤ len(centroids) rows — a broadcast-sized side (AQE picks
        # BroadcastHashJoin); the shard id is a pure function of _id so
        # the split is deterministic on any partitioning
        sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
        shards = F.ceil(F.col("_n") / F.lit(max_cluster_size)).cast("long")
        # md5-family shard hash (kmv_hash), not xxhash64: portable, so
        # the oracle SQL replays the split verbatim at any sf (r8 — the
        # xxhash64 form made >cap corpora un-replayable in DuckDB)
        assigned = (
            assigned.join(F.broadcast(sizes), "cluster")
            .withColumn("_shard", F.pmod(kmv_hash(F.col("_id")), shards))
            .drop("_n")
        )
    else:
        assigned = assigned.withColumn("_shard", F.lit(0).cast("long"))
    thr = float(threshold)

    def _cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0  # zero vectors: cosine treated as 0
        Xn = X / nrm[:, None]
        S = Xn @ Xn.T
        # max over strictly-lower-id rows: lower triangle, diag excluded
        tri = np.tril(S, k=-1)
        tri[np.triu_indices_from(tri)] = -np.inf
        mx = tri.max(axis=1)
        mx = np.round(mx, 6)
        out = pd.DataFrame(
            {
                "_id": pdf["_id"],
                "cluster": pdf["cluster"],
                "max_prior_sim": mx,
                "is_dup": mx >= thr,
            }
        )
        out.loc[0, "max_prior_sim"] = None  # id-minimum has no prior
        return out

    schema = (
        f"_id long, cluster int, max_prior_sim double, is_dup boolean"
    )
    return (
        assigned.groupBy("cluster", "_shard")
        .applyInPandas(_cluster_dedup, schema=schema)
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            "max_prior_sim",
            "is_dup",
        )
    )


def jl_signs(dim: int, out_dim: int, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix
    (Achlioptas 2003 sign form): entry (i, j) is +1 iff the first hex
    nibble of md5(f"{seed}:{i}:{j}") is < 8. Reproducible anywhere md5
    exists — the matrix is engine-independent metadata (dim × out_dim
    ints, driver-side), so oracles can inline it as literals."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[0], 16
            )
            < 8
            else -1
            for j in range(out_dim)
        ]
        for i in range(dim)
    ]


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    out_dim: int = 8,
    seed: int = 42,
) -> DataFrame:
    """JL random projection: reduce ``dim``-d embeddings to ``out_dim``
    signed-sum components — the cheap pre-step before ANN indexing or
    clustering when the raw dimension makes distance math the bottleneck
    (pairwise distances are preserved within (1±ε) for out_dim =
    O(log n / ε²)). The unscaled ±1 form: cosine and relative distances
    are scale-invariant, and skipping the 1/√k factor keeps every output
    a correctly-rounded double of an exact decimal sum (hash-exact in
    any engine — the oracle inlines the same matrix as literals).

    Row-local: one JVM fold per output component, ZERO shuffle — the
    projection composes with any scan at 100 TB. Output: ``(id, p0 …
    p{out_dim-1} double)``.
    """
    signs = jl_signs(dim, out_dim, seed)
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = []
    for j in range(out_dim):
        sj = _lit_vector(signs[i][j] for i in range(dim))
        dec = F.aggregate(
            F.zip_with(
                xd, sj, lambda a, b: F.round(a * b, 6).cast("decimal(24,6)")
            ),
            F.lit(0).cast("decimal(24,6)"),
            lambda acc, x: (acc + x).cast("decimal(24,6)"),
        )
        cols.append(dec.cast("double").alias(f"p{j}"))
    return df.select(F.col(id_col), *cols)


def jl_oracle_sql(
    dim: int = 64,
    out_dim: int = 8,
    seed: int = 42,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB oracle for ``jl_project``: the same ±1 matrix inlined as
    VALUES (1-based i to match generate_subscripts), identical 6-dp
    DECIMAL accumulation, identical final double conversion."""
    signs = jl_signs(dim, out_dim, seed)
    vals = ", ".join(
        f"({i + 1}, {j}, {signs[i][j]})"
        for i in range(dim)
        for j in range(out_dim)
    )
    pivot = ",\n           ".join(
        f"max(CASE WHEN j = {j} THEN v END) AS p{j}" for j in range(out_dim)
    )
    return f"""
    WITH r(i, j, s) AS (VALUES {vals}),
    x AS (
      SELECT {id_col}, CAST(unnest({vec_col}) AS DOUBLE) AS x,
             generate_subscripts({vec_col}, 1) AS i
      FROM {table}
    ), p AS (
      SELECT {id_col}, j,
             CAST(sum(CAST(round(x * s, 6) AS DECIMAL(24,6))) AS DOUBLE) AS v
      FROM x JOIN r USING (i) GROUP BY {id_col}, j
    )
    SELECT {id_col},
           {pivot}
    FROM p GROUP BY {id_col}
    """


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    id_col: str = "vec_id",
    score_col: str = "score",
    vec_col: str = "embedding",
    by: tuple[str, ...] = (),
    scale: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) of a CANDIDATE POOL: greedily pick the item maximizing
    ``lam·relevance − (1−lam)·max_cosine_to_already_picked`` — the
    diversity stage after retrieval (BM25/ANN → rrf_fuse → mmr_rerank),
    de-duplicating near-identical hits from the final page.

    Contract: ``candidates`` is a top-N retrieval RESULT (pool of
    hundreds-to-thousands per ``by`` group), never a corpus — the greedy
    loop is inherently sequential, so each group reranks inside ONE
    Arrow batch via applyInPandas (pool-bounded memory, parallel across
    groups/queries). Scores and similarities round to ``scale`` dp with
    deterministic (mmr, then id) tie-breaks, so the selection is stable
    across partitionings and row orders.

    Returns ``by + (rank int, id_col, mmr_score double)`` with rank
    1..k; fewer rows when the pool is smaller than ``k``.
    """
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam!r}")
    p = float(10**scale)

    internal_by = list(by) if by else ["_g"]

    def _rerank(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        keys = pdf.iloc[0][internal_by]
        # deterministic input order regardless of partitioning
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        rel = np.floor(p * pdf[score_col].to_numpy(dtype=np.float64)) / p
        n = len(pdf)
        picked: list[int] = []
        max_sim = np.zeros(n)
        out = []
        avail = np.ones(n, dtype=bool)
        for rank in range(1, min(k, n) + 1):
            mmr = lam * rel - (1.0 - lam) * (
                max_sim if picked else np.zeros(n)
            )
            mmr = np.floor(p * mmr) / p
            mmr_masked = np.where(avail, mmr, -np.inf)
            best = int(
                min(
                    ((-mmr_masked[i], pdf[id_col].iloc[i], i) for i in range(n) if avail[i])
                )[2]
            )
            out.append((rank, pdf[id_col].iloc[best], mmr_masked[best]))
            avail[best] = False
            picked.append(best)
            sim = np.floor(p * (unit @ unit[best])) / p
            max_sim = np.maximum(max_sim, sim)
        res = pd.DataFrame(out, columns=["rank", id_col, "mmr_score"])
        for b in reversed(internal_by):
            res.insert(0, b, keys[b])
        return res

    src = candidates if by else candidates.withColumn("_g", F.lit(1))
    by_schema = "".join(
        f"{f.name} {f.dataType.simpleString()}, "
        for f in src.schema
        if f.name in internal_by
    )
    id_type = candidates.schema[id_col].dataType.simpleString()
    schema = f"{by_schema}rank int, {id_col} {id_type}, mmr_score double"
    out = src.groupBy(*internal_by).applyInPandas(_rerank, schema=schema)
    return out if by else out.drop("_g")


# --------------------------------------------------------------------------
# PCA over embedding columns (r4)
# --------------------------------------------------------------------------


def embedding_covariance(
    df: DataFrame,
    vec_col: str,
    dims: list[int],
    input_scale: int = 6,
    scale: int = 9,
) -> DataFrame:
    """Exact population covariance over a SELECTED block of embedding
    dimensions — a value-checkable audit of the moment arithmetic
    :func:`pca_fit_exact` runs over the full matrix. Each
    component is floor-quantized to ``input_scale`` decimals and summed
    as an exact DECIMAL(38,0) scaled integer (partition/AQE-proof, the
    ``corr_matrix`` policy); the final ``floor(cov * 10^scale)`` is also
    EXACT — integer floor-division of ``n*Σxy − Σx*Σy`` by
    ``n² * 10^(2*input_scale − scale)`` (a positive offset makes the
    dividend non-negative so truncating ``div`` == floor), so the
    emitted double is bit-identical across engines, partitionings and
    evaluation orders — no double-rounding cliff at quantization
    boundaries. ONE wide map-side-combined aggregate —
    ``|dims| + C(|dims|+1, 2)`` sum slots, so keep the block ≤ ~16 dims
    (the full-matrix path is ``pca_fit_exact``). Output: one row per ordered
    pair ``(i, j, n, cov)`` with ``i <= j``, both taken from ``dims``.
    """
    if not dims:
        raise ValueError("dims must be non-empty")
    if len(dims) > 16:
        raise ValueError("covariance block capped at 16 dims — use pca_fit_exact")
    p_in = 10**input_scale
    p10 = float(10**scale)

    def q(d: int) -> Column:
        # 1-based element_at; scaled-integer quantization
        return F.floor(
            F.lit(float(p_in)) * F.element_at(F.col(vec_col), d + 1)
        ).cast("decimal(38,0)")

    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for d in dims:
        aggs.append(F.sum(q(d)).alias(f"_s{d}"))
    pairs = [(a, b) for idx, a in enumerate(dims) for b in dims[idx:]]
    for a, b in pairs:
        aggs.append(F.sum(q(a) * q(b)).alias(f"_p{a}_{b}"))
    wide = df.agg(*aggs)
    # cov * 10^scale = (n*Σxy − Σx*Σy) / (n² * 10^(2*input_scale − scale))
    # — exact integers throughout. `div` truncates toward zero, so shift
    # the dividend positive by K·den (K bounds |cov|·10^scale) to get
    # true floor; K=1e15 allows |cov| up to 1e6 at scale 9.
    shift = 2 * input_scale - scale
    if shift < 0:
        raise ValueError("embedding_covariance needs scale <= 2*input_scale")
    K = 10**15
    outs = []
    for a, b in pairs:
        num = (
            f"(CAST(_n AS DECIMAL(38,0)) * _p{a}_{b} - _s{a} * _s{b})"
        )
        den = (
            f"(CAST(_n AS DECIMAL(38,0)) * CAST(_n AS DECIMAL(38,0))"
            f" * {10**shift})"
        )
        covq = F.expr(
            f"CAST(({num} + {K} * {den}) div {den} AS BIGINT) - {K}"
        )
        outs.append(
            F.struct(
                F.lit(a).cast("int").alias("i"),
                F.lit(b).cast("int").alias("j"),
                F.col("_n").alias("n"),
                (covq / F.lit(p10)).cast("double").alias("cov"),
            )
        )
    return (
        wide.select(F.explode(F.array(*outs)).alias("_o"))
        .select("_o.i", "_o.j", "_o.n", "_o.cov")
        .orderBy("i", "j")
    )


class PcaModel:
    """Driver-side PCA fit result: ``mean`` (d), ``components`` (k×d,
    rows orthonormal, deterministic sign: each row's max-|x| entry is
    positive), ``explained_ratio`` (k)."""

    def __init__(self, mean, components, explained_ratio):
        self.mean = mean
        self.components = components
        self.explained_ratio = explained_ratio


def pca_fit_exact(
    df: DataFrame, vec_col: str, k: int, input_scale: int = 6
) -> PcaModel:
    """Principal components of an embedding column at any corpus size,
    as a PURE FUNCTION of the data — identical across partitionings,
    AQE re-plans, and retries — which makes downstream projections
    value-oracle-checkable (the ``pca_project_embeddings`` gate).

    How: each Arrow batch floor-quantizes its vectors to
    ``input_scale`` decimals (int64) and, per chunk of at most 1024
    rows, contributes EXACT integer partials ``(count, Σq, qᵀq)`` via
    one numpy integer matmul — integer addition is associative, so
    partial order cannot matter. Partials total as DECIMAL(38,0)
    (overflow-proof at any corpus size), and the d×d eigendecomposition
    runs on the driver over the exact moments (d is hundreds at most;
    the corpus never is), with deterministic signs (each component's
    max-|x| entry positive). Full vectors never shuffle: partial rows
    are (d + d²)-sized metadata.

    Input contract (enforced): a chunk's int64 Gram entry sums at most
    1024 products, so it cannot wrap while 1024·max|q|² < 2^63, i.e.
    max|q| < 2^26.5 ≈ 9.49e7 micro-units — |x| < ~94.9 at the default
    ``input_scale=6``. Each chunk carries its max|q|, the count
    aggregate reads the global max, and a corpus at or over the bound
    raises ``ValueError``. The bound uses the 1024-row chunk cap, not a
    chunk's actual row count, so the refusal does not depend on the
    partitioning either.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    p_in = 10**input_scale
    chunk_rows = 1024

    def _partials(it):
        for pdf in it:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(X) == 0:
                continue
            Qf = np.floor(float(p_in) * X)
            Q = Qf.astype(np.int64)
            for lo in range(0, Q.shape[0], chunk_rows):
                C = Q[lo : lo + chunk_rows]
                yield pd.DataFrame(
                    {
                        "n": [int(C.shape[0])],
                        # max|q| from the float floor: exact, and immune
                        # to the int64 cast of out-of-range values
                        "mx": [float(np.abs(Qf[lo : lo + chunk_rows]).max())],
                        # int64 sums stringify losslessly into decimals
                        "s": [[str(int(x)) for x in C.sum(axis=0)]],
                        "g": [[str(int(x)) for x in (C.T @ C).ravel()]],
                    }
                )

    parts = df.select(vec_col).mapInPandas(
        _partials,
        schema="n long, mx double, s array<string>, g array<string>",
    )
    # gram/sum/count are separate tiny aggregates over the same partials
    # frame — checkpoint it so the corpus matmul pass runs exactly once
    parts = parts.localCheckpoint(eager=True)
    dec = "decimal(38,0)"
    sums = (
        parts.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i").agg(F.sum(F.col("v").cast(dec)).alias("s"))
        .orderBy("i").collect()
    )
    gram = (
        parts.select(F.posexplode("g").alias("i", "v"))
        .groupBy("i").agg(F.sum(F.col("v").cast(dec)).alias("g"))
        .orderBy("i").collect()
    )
    n, mx = parts.agg(F.sum("n"), F.max("mx")).first()
    if not n:
        raise ValueError("pca_fit_exact on an empty frame")
    max_q = int(mx)
    if chunk_rows * max_q * max_q >= 2**63:
        raise ValueError(
            f"quantized magnitudes up to {max_q} exceed the int64 Gram "
            f"contract ({chunk_rows}·max|q|² must stay under 2^63, or a "
            f"chunk's Gram partial wraps); lower input_scale"
        )
    s = np.asarray([int(r["s"]) for r in sums], dtype=np.float64)
    d = s.shape[0]
    G = np.asarray([int(r["g"]) for r in gram], dtype=np.float64).reshape(d, d)
    # mean/cov in float64 FROM exact integers — deterministic given the
    # data; quantization noise is O(10^-input_scale), far below any
    # plausible component structure
    mean = s / (n * p_in)
    cov = G / (n * p_in * p_in) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    # deterministic sign: max-|x| entry of each component positive
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    total = float(evals.sum()) or 1.0
    ratios = [float(evals[i]) / total for i in order]
    return PcaModel(mean.tolist(), comps.tolist(), ratios)


def pca_project(
    df: DataFrame,
    vec_col: str,
    model: PcaModel,
    out_col: str = "pca",
) -> DataFrame:
    """Project onto the fitted components with pure JVM expressions:
    center once (``zip_with`` against the mean literal), then one
    ``aggregate``-fold dot product per component — k codegen
    expressions, no Python in the projection path, model ships as
    literals exactly like the JL sign matrix."""
    mean_lit = _lit_vector(model.mean)
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean_lit, lambda x, m: x - m
    )
    outs = []
    for comp in model.components:
        comp_lit = _lit_vector(comp)
        dot = F.aggregate(
            F.zip_with(centered, comp_lit, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        outs.append(dot)
    return df.withColumn(out_col, F.array(*outs))
