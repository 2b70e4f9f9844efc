"""ANN recall gates (r4, VERDICT r3 task #7): every approximate KNN path
is measured against knn_brute ON THE GATE EMBEDDINGS (sf0.01, 500×64f,
the corpus the driver's correctness gate uses) AT THE EXACT REGISTRY
CONFIGS — the value oracles prove the pipelines replay; these pins
prove the answers are close. Measured values (also in COVERAGE.md):
LSH 0.82, IVF 0.86, PQ 0.88 — pinned at ≥ 0.7 / PQ ≥ 0.8 with the
registry configs. All deterministic: seeded hyperplanes, and the IVF
centroids and PQ codebooks come from the engine's exact-quantized
trainers (kmeans_centroids_exact, pq_train_exact — id-seeded init,
exact integer rounds, no rand()), which the classes below pin."""

from __future__ import annotations

import os

import pytest

from etl_tools_rs_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="gate testdata not present"
)


def _pairs(spark, name):
    return {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY[name].fn(spark, SF_DIR).collect()
    }


@pytest.fixture(scope="module")
def brute(spark):
    got = _pairs(spark, "knn_cosine_brute")
    assert len(got) == 50  # 5 queries × k=10
    return got


@pytest.mark.parametrize(
    "name,floor",
    [
        ("knn_cosine_lsh", 0.7),
        ("knn_cosine_ivf", 0.7),
        ("knn_cosine_pq", 0.8),
    ],
)
def test_registry_config_recall_at_10(spark, brute, name, floor):
    approx = _pairs(spark, name)
    recall = len(approx & brute) / len(brute)
    assert recall >= floor, f"{name} recall@10 = {recall:.2f} < {floor}"


def test_lsh_multi_table_beats_single_table(spark, brute):
    """The r4 multi-table union is the recall mechanism: the same plane
    budget in ONE table must recall strictly less than the registry's
    16-table config (single 8-plane table measured 0.10)."""
    from pyspark.sql import functions as F

    from etl_tools_rs_spark.operators import similarity as sim_ops
    from etl_tools_rs_spark.session import load_tables

    t = load_tables(spark, SF_DIR, ("embeddings",))
    queries = (
        t["embeddings"]
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    single = {
        (r.query_id, r.neighbor_id)
        for r in sim_ops.knn_lsh(
            t["embeddings"], queries, k=10, dim=64,
            num_planes=8, num_tables=1, query_id="query_id",
        ).collect()
    }
    multi = _pairs(spark, "knn_cosine_lsh")
    assert len(single & brute) < len(multi & brute)


def test_lsh_single_table_backward_compatible(spark):
    """num_tables=1 with table seed = `seed` reproduces the historical
    single-table results (same planes, same buckets)."""
    from pyspark.sql import functions as F

    from etl_tools_rs_spark.operators import similarity as sim_ops

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(6)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sim_ops.knn_lsh(emb, q, k=5, dim=6, num_planes=4, num_tables=1).collect()
    b = sim_ops.knn_lsh(emb, q, k=5, dim=6, num_planes=4).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))


class TestMultiProbe:
    """r9 multi-probe LSH (similarity.py::lsh_probe_buckets, Lv et al.
    VLDB'07): query-side bit-flip probes as the cheap substitute for
    extra tables."""

    def _emb(self, spark, n=120, d=8, seed=11):
        import numpy as np

        rng = np.random.RandomState(seed)
        X = rng.randn(n, d)
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_zero_probes_is_bit_identical(self, spark):
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators import similarity as sim_ops

        emb = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)  # noqa: E731
        a = sim_ops.knn_lsh(
            emb, q, k=5, dim=8, num_planes=4, num_tables=4
        ).collect()
        b = sim_ops.knn_lsh(
            emb, q, k=5, dim=8, num_planes=4, num_tables=4, num_probes=0
        ).collect()
        assert sorted(map(key, a)) == sorted(map(key, b))

    def test_probe_buckets_flip_weakest_margin_bits(self, spark):
        """Independent replay: per vector, recompute dots in python and
        check the probe array is [bucket, bucket^2^argmin1, ...] for the
        |margin|-ascending plane order (ties broken by sort_array's
        struct order: (|d|, i) ascending)."""
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators import similarity as sim_ops

        emb = self._emb(spark, n=30)
        planes = sim_ops._hyperplanes(8, 4, seed=99)
        got = {
            r.vec_id: list(r.pb)
            for r in emb.select(
                "vec_id",
                sim_ops.lsh_probe_buckets("embedding", planes, 2).alias("pb"),
            ).collect()
        }
        for r in emb.collect():
            dots = [
                sum(a * b for a, b in zip(r.embedding, p)) for p in planes
            ]
            bucket = sum(1 << i for i, d in enumerate(dots) if d > 0)
            order = sorted(range(4), key=lambda i: (abs(dots[i]), i))
            want = [
                bucket,
                bucket ^ (1 << order[0]),
                bucket ^ (1 << order[1]),
            ]
            assert got[r.vec_id] == want, (r.vec_id, got[r.vec_id], want)

    def test_probes_never_lose_pairs_and_scores_match(self, spark):
        """Candidates with probes are a superset: any (query, neighbor)
        pair surfaced by BOTH configs carries the identical exact
        cosine, and probe recall vs brute force is >= the no-probe
        recall at equal tables/planes."""
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators import similarity as sim_ops

        emb = self._emb(spark, n=150)
        q = emb.filter(F.col("vec_id") < 6).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        brute = {
            (r.query_id, r.neighbor_id)
            for r in sim_ops.knn_brute(emb, q, k=5).collect()
        }
        p0 = sim_ops.knn_lsh(
            emb, q, k=5, dim=8, num_planes=4, num_tables=2
        ).collect()
        p2 = sim_ops.knn_lsh(
            emb, q, k=5, dim=8, num_planes=4, num_tables=2, num_probes=2
        ).collect()
        s0 = {(r.query_id, r.neighbor_id): r.cosine_sim for r in p0}
        s2 = {(r.query_id, r.neighbor_id): r.cosine_sim for r in p2}
        for pair in set(s0) & set(s2):
            assert abs(s0[pair] - s2[pair]) < 1e-9
        r0 = len(set(s0) & brute) / len(brute)
        r2 = len(set(s2) & brute) / len(brute)
        assert r2 >= r0


class TestSqlBuilder:
    """The sign-LSH expressions are SQL text compiled by ``F.expr``
    (similarity.py builder): literals must round-trip bit-exactly, the
    buckets and probes must equal a sequential-sum replay, and building
    the registry query must stay a few hundred driver→JVM calls."""

    def test_double_literal_round_trips_bit_exactly(self, spark):
        import struct

        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators import similarity as sim_ops

        xs = [-0.0, 5e-324, 1e16, 0.1, -1.5, 1.7976931348623157e308]
        row = spark.range(1).select(
            *[F.expr(sim_ops._sql_double(x)) for x in xs],
            sim_ops._lit_vector(xs).alias("v"),
        ).first()
        bits = lambda v: struct.pack(">d", v)  # noqa: E731
        for got, x in zip(list(row)[:-1], xs):
            assert bits(got) == bits(x), (got, x)
        assert [bits(v) for v in row.v] == [bits(x) for x in xs]
        for bad in (float("nan"), float("inf"), float("-inf")):
            with pytest.raises(ValueError, match="no SQL double literal"):
                sim_ops._sql_double(bad)

    def test_registry_config_buckets_and_probes_match_replay(self, spark):
        """64-dim, 6 tables × 4 planes × 3 probes (the knn_cosine_lsh
        registry config) over the 500 gate embeddings: corpus keys,
        exploded query probe keys and the public helpers all equal an
        independent python replay of the sequential double fold."""
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators import similarity as sim_ops
        from etl_tools_rs_spark.session import load_tables

        emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
        tables = [sim_ops._hyperplanes(64, 4, 42 + 7919 * t) for t in range(6)]
        rows = emb.select(
            "vec_id",
            "embedding",
            sim_ops._lsh_corpus_keys("embedding", tables).alias("ck"),
            *[
                sim_ops.lsh_bucket("embedding", p).alias(f"b{t}")
                for t, p in enumerate(tables)
            ],
            *[
                sim_ops.lsh_probe_buckets("embedding", p, 3).alias(f"p{t}")
                for t, p in enumerate(tables)
            ],
        ).collect()
        probe_keys: dict[int, list[tuple[int, int]]] = {}
        for r in sim_ops._explode_lsh_probe_keys(
            emb.select("vec_id", "embedding"), "embedding", tables, 3
        ).collect():
            probe_keys.setdefault(r.vec_id, []).append((r._tb.t, r._tb.b))
        assert len(rows) == 500 and len(probe_keys) == 500

        for r in rows:
            want_c, want_p = [], []
            for t, planes in enumerate(tables):
                dots = []
                for p in planes:
                    acc = 0.0
                    for x, y in zip(r.embedding, p):
                        acc = acc + x * y
                    dots.append(acc)
                bucket = sum(1 << i for i, d in enumerate(dots) if d > 0)
                order = sorted(range(4), key=lambda i: (abs(dots[i]), i))
                probes = [bucket] + [bucket ^ (1 << i) for i in order[:3]]
                assert r[f"b{t}"] == bucket, (r.vec_id, t)
                assert list(r[f"p{t}"]) == probes, (r.vec_id, t)
                want_c.append((t, bucket))
                want_p += [(t, b) for b in probes]
            assert [(k.t, k.b) for k in r.ck] == want_c, r.vec_id
            assert probe_keys[r.vec_id] == want_p, r.vec_id

    def test_knn_cosine_lsh_plan_build_py4j_budget(self, spark):
        """Building the registry plan (tables read, 6×4×3 LSH, rerank,
        top-k) costs a few hundred Py4J round trips; the Column-API
        construction cost ~32,500."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        calls = [0]

        def counting(*args, **kwargs):
            calls[0] += 1
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            REGISTRY["knn_cosine_lsh"].fn(spark, SF_DIR)
        finally:
            client.send_command = send
        assert calls[0] <= 1000, calls[0]


class TestKmeansExact:
    """r6 exact-quantized k-means (similarity.py::kmeans_centroids_exact):
    the determinism the knn_cosine_ivf / semdedup_embeddings value
    oracles stand on."""

    def _df(self, spark, n=200, d=8, seed=3):
        import numpy as np

        rng = np.random.RandomState(seed)
        X = rng.randn(n, d)
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_partition_invariant(self, spark):
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import (
            kmeans_centroids_exact,
            quantize_vec,
        )

        df = self._df(spark).withColumn("_q6", quantize_vec(F.col("embedding")))
        c1 = kmeans_centroids_exact(df, 4, "_q6", "vec_id", iterations=3)
        c2 = kmeans_centroids_exact(
            df.repartition(13), 4, "_q6", "vec_id", iterations=3
        )
        c3 = kmeans_centroids_exact(
            df.coalesce(1), 4, "_q6", "vec_id", iterations=3
        )
        assert c1 == c2 == c3
        assert all(isinstance(v, int) for row in c1 for v in row)

    def test_tracks_float_kmeans(self, spark):
        """Quantization at 1e-6 must not change the clustering story:
        on well-separated clusters the exact fit and a float Lloyd's
        reference (numpy, same k-smallest-id init, same round count)
        agree on every assignment."""
        import numpy as np
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import (
            kmeans_centroids_exact,
            nearest_cells_udf,
            quantize_vec,
        )

        def float_lloyd(X, k, iterations):
            C = X[:k].copy()
            for _ in range(iterations):
                a = ((X[:, None, :] - C[None]) ** 2).sum(axis=2).argmin(axis=1)
                # empty cells keep their previous centroid
                for c in range(k):
                    if (a == c).any():
                        C[c] = X[a == c].mean(axis=0)
            return C

        rng = np.random.RandomState(5)
        centers = rng.randn(3, 8) * 6
        X = np.concatenate([centers[i] + rng.randn(50, 8) * 0.2 for i in range(3)])
        rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).withColumn("_q6", quantize_vec(F.col("embedding")))
        ce = kmeans_centroids_exact(df, 3, "_q6", "vec_id", iterations=5)
        # float32 round-trip: the reference sees exactly what Spark sees
        X32 = X.astype(np.float32).astype(np.float64)
        cf = float_lloyd(X32, 3, iterations=5)
        a_e = nearest_cells_udf(ce, 1)
        a_f = nearest_cells_udf(cf, 1)
        got = df.select(
            F.element_at(a_e(F.col("_q6")), 1).alias("e"),
            F.element_at(a_f(F.col("embedding")), 1).alias("f"),
        ).collect()
        assert all(r.e == r.f for r in got)

    def test_input_contract_guards(self, spark):
        """r7 (ADVICE): empty / under-k inputs raise a clear ValueError
        instead of IndexError, and out-of-contract micro-unit magnitudes
        (which would break the float64 exact-argmin property the oracles
        replay) are rejected up front."""
        import pytest
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import (
            kmeans_centroids_exact,
            quantize_vec,
        )

        schema = "vec_id long, embedding array<float>"
        empty = spark.createDataFrame([], schema).withColumn(
            "_q6", quantize_vec(F.col("embedding"))
        )
        with pytest.raises(ValueError, match=">= k rows"):
            kmeans_centroids_exact(empty, 2, "_q6", "vec_id")

        small = self._df(spark, n=3).withColumn(
            "_q6", quantize_vec(F.col("embedding"))
        )
        with pytest.raises(ValueError, match=">= k rows"):
            kmeans_centroids_exact(small, 5, "_q6", "vec_id")
        with pytest.raises(ValueError, match="k must be >= 1"):
            kmeans_centroids_exact(small, 0, "_q6", "vec_id")

        # magnitudes beyond 1e8 micro-units break the exactness bound
        big = spark.createDataFrame(
            [(0, [10.0**9]), (1, [2.0]), (2, [3.0])],
            "vec_id long, q array<double>",
        ).select("vec_id", F.col("q").cast("array<bigint>").alias("_q6"))
        with pytest.raises(ValueError, match="exactness contract"):
            kmeans_centroids_exact(big, 2, "_q6", "vec_id")

        # r10 (ADVICE r9): with iterations=0 there is no round-1
        # aggregation to carry the check — the standalone check must
        # still refuse rather than silently return the init centroids
        with pytest.raises(ValueError, match="exactness contract"):
            kmeans_centroids_exact(big, 2, "_q6", "vec_id", iterations=0)
        # and an in-contract corpus still returns the init centroids
        got = kmeans_centroids_exact(small, 2, "_q6", "vec_id", iterations=0)
        assert len(got) == 2


class TestPqExact:
    """r7 exact-quantized PQ (similarity.py::pq_train_exact + knn_pq):
    the determinism the knn_cosine_pq value oracle
    stands on — integer codebooks, integer ADC inputs, and a candidate
    cut that is a pure function of the data, not the partitioning."""

    def _emb(self, spark, n=120, d=16, seed=9):
        import numpy as np
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import quantize_vec

        rng = np.random.RandomState(seed)
        X = rng.randn(n, d)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).withColumn("_q6", quantize_vec(F.col("embedding")))

    def test_partition_invariant_end_to_end(self, spark):
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import knn_pq, pq_train_exact

        emb = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding", "_q6"
        )
        books = pq_train_exact(emb, m=4, ksub=8, qvec_col="_q6", iterations=2)
        key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)  # noqa: E731
        base = sorted(map(key, knn_pq(
            emb, q, books, "_q6", k=5, rerank=4
        ).collect()))
        for reshaped in (emb.repartition(17), emb.coalesce(1)):
            got = sorted(map(key, knn_pq(
                reshaped, q, books, "_q6", k=5, rerank=4
            ).collect()))
            assert got == base

    def test_integer_codebooks(self, spark):
        from etl_tools_rs_spark.operators.similarity import pq_train_exact

        emb = self._emb(spark, n=40)
        books = pq_train_exact(emb, m=2, ksub=4, qvec_col="_q6", iterations=2)
        assert len(books) == 2 and all(len(b) == 4 for b in books)
        assert all(isinstance(v, int) for b in books for row in b for v in row)


class TestPqTrainExactFused:
    """r9: pq_train_exact fuses all m subspaces into one distributed
    pass per Lloyd's round (1+1+iterations corpus scans instead of
    m·(2+iterations) sequential jobs). The optimization is only legal
    because it is BIT-IDENTICAL — every exchanged quantity (init ints,
    exact-integer argmins, DECIMAL dim sums, counts, truncating
    division) is exact, so the fused scan cannot perturb any subspace's
    round. Pinned here against the r7–r8 formulation: the per-slice
    kmeans_centroids_exact composition."""

    def _emb(self, spark, n=90, d=24, seed=23):
        import numpy as np
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import quantize_vec

        rng = np.random.RandomState(seed)
        X = rng.randn(n, d) * 1.5
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).withColumn("_q6", quantize_vec(F.col("embedding")))

    def test_bit_identical_to_per_slice_composition(self, spark):
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import (
            kmeans_centroids_exact,
            pq_train_exact,
        )

        emb = self._emb(spark)
        for m, ksub, iters in ((3, 5, 3), (4, 4, 2)):
            sub = 24 // m
            fused = pq_train_exact(
                emb, m=m, ksub=ksub, qvec_col="_q6", iterations=iters
            )
            reference = [
                kmeans_centroids_exact(
                    emb.select(
                        F.col("vec_id"),
                        F.slice(F.col("_q6"), s * sub + 1, sub).alias("_sq"),
                    ),
                    ksub,
                    "_sq",
                    id_col="vec_id",
                    iterations=iters,
                )
                for s in range(m)
            ]
            assert fused == reference

    def test_partition_invariant(self, spark):
        from etl_tools_rs_spark.operators.similarity import pq_train_exact

        emb = self._emb(spark, n=60)
        base = pq_train_exact(emb, m=4, ksub=4, qvec_col="_q6", iterations=2)
        assert base == pq_train_exact(
            emb.repartition(13), m=4, ksub=4, qvec_col="_q6", iterations=2
        )
        assert base == pq_train_exact(
            emb.coalesce(1), m=4, ksub=4, qvec_col="_q6", iterations=2
        )

    def test_input_contract_guards(self, spark):
        import pytest as _pytest

        from etl_tools_rs_spark.operators.similarity import pq_train_exact

        emb = self._emb(spark, n=3)
        with _pytest.raises(ValueError, match="pq_train_exact needs >= ksub rows"):
            pq_train_exact(emb, m=3, ksub=5, qvec_col="_q6", iterations=1)
        with _pytest.raises(ValueError, match="not divisible"):
            pq_train_exact(emb, m=5, ksub=2, qvec_col="_q6", iterations=1)

        # r10 (ADVICE r9): iterations=0 must still enforce the 1e8
        # magnitude contract via the standalone check
        from pyspark.sql import functions as F

        big = spark.createDataFrame(
            [(0, [10.0**9] * 4), (1, [2.0] * 4), (2, [3.0] * 4)],
            "vec_id long, q array<double>",
        ).select("vec_id", F.col("q").cast("array<bigint>").alias("_q6"))
        with _pytest.raises(ValueError, match="exactness contract"):
            pq_train_exact(big, m=2, ksub=2, qvec_col="_q6", iterations=0)
        books = pq_train_exact(
            self._emb(spark, n=6), m=2, ksub=2, qvec_col="_q6", iterations=0
        )
        assert len(books) == 2
