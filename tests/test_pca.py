"""PCA over embedding columns (operators/similarity.py::pca_fit_exact/
pca_project/embedding_covariance)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_tools_rs_spark.operators.similarity import (
    PcaModel,
    embedding_covariance,
    pca_fit_exact,
    pca_project,
)


def _aniso(n=400, seed=7):
    """Synthetic data with a known dominant axis (3, 1)/√10 in dims
    (0, 1), noise elsewhere."""
    rng = np.random.RandomState(seed)
    t = rng.randn(n) * 5.0
    X = np.zeros((n, 4))
    X[:, 0] = 3.0 * t + rng.randn(n) * 0.1
    X[:, 1] = 1.0 * t + rng.randn(n) * 0.1
    X[:, 2] = rng.randn(n) * 0.5
    X[:, 3] = rng.randn(n) * 0.2 + 2.0
    return X


def _df(spark, X):
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id long, embedding array<float>",
    )


def _assert_matches_quantized_numpy(df, X, k):
    """pca_fit_exact on ``df`` equals a straight numpy PCA of ``X`` after
    the same 1e-6 floor quantization: mean to 1e-9, components to 1e-4
    elementwise, and each component's |dot| with the numpy eigenvector
    is 1 within 1e-6."""
    model = pca_fit_exact(df, "embedding", k=k)
    Q = np.floor(1e6 * X) / 1e6
    mean = Q.mean(axis=0)
    cov = (Q - mean).T @ (Q - mean) / len(Q)
    evals, evecs = np.linalg.eigh(cov)
    ref = evecs[:, np.argsort(evals)[::-1][:k]].T
    for row in ref:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    assert np.allclose(np.asarray(model.mean), mean, atol=1e-9)
    assert np.allclose(np.asarray(model.components), ref, atol=1e-4)
    for ki in range(k):
        got = np.asarray(model.components[ki])
        assert abs(abs(np.dot(ref[ki], got)) - 1.0) < 1e-6, ki


class TestPcaFit:
    def test_recovers_dominant_axis_and_ordering(self, spark):
        X = _aniso()
        model = pca_fit_exact(_df(spark, X), "embedding", k=3)
        c0 = np.asarray(model.components[0])
        want = np.array([3.0, 1.0, 0.0, 0.0]) / math.sqrt(10.0)
        assert abs(abs(np.dot(c0, want)) - 1.0) < 1e-3
        assert model.explained_ratio[0] > 0.99 * sum(model.explained_ratio)
        assert (
            model.explained_ratio[0]
            >= model.explained_ratio[1]
            >= model.explained_ratio[2]
        )

    def test_matches_numpy_pca(self, spark):
        X = _aniso(n=200, seed=11)
        # float32 round-trip: numpy reference sees exactly what Spark sees
        X = X.astype(np.float32).astype(np.float64)
        _assert_matches_quantized_numpy(_df(spark, X), X, k=4)

    def test_sign_determinism(self, spark):
        X = _aniso(n=150, seed=3)
        model = pca_fit_exact(_df(spark, X), "embedding", k=4)
        for comp in model.components:
            j = int(np.argmax(np.abs(comp)))
            assert comp[j] > 0

    def test_validation(self, spark):
        df = _df(spark, _aniso(n=10))
        with pytest.raises(ValueError):
            pca_fit_exact(df, "embedding", k=0)
        with pytest.raises(ValueError):
            pca_fit_exact(df.limit(0), "embedding", k=2)


class TestPcaProject:
    def test_jvm_projection_equals_numpy(self, spark):
        X = _aniso(n=100, seed=5).astype(np.float32).astype(np.float64)
        df = _df(spark, X)
        model = pca_fit_exact(df, "embedding", k=2)
        got = {
            r["id"]: r["pca"]
            for r in pca_project(df, "embedding", model).collect()
        }
        C = np.asarray(model.components)
        want = (X - np.asarray(model.mean)) @ C.T
        for i in range(len(X)):
            assert np.allclose(got[i], want[i], atol=1e-9), i

    def test_projection_is_pure_jvm(self, spark):
        """No Python stage in the projection plan (BatchEvalPython /
        ArrowEvalPython absent)."""
        df = _df(spark, _aniso(n=20))
        model = PcaModel(
            mean=[0.0] * 4,
            components=[[1.0, 0.0, 0.0, 0.0]],
            explained_ratio=[1.0],
        )
        plan = (
            pca_project(df, "embedding", model)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "EvalPython" not in plan


class TestEmbeddingCovariance:
    def test_matches_numpy_on_quantized_values(self, spark):
        X = _aniso(n=120, seed=9).astype(np.float32).astype(np.float64)
        df = _df(spark, X)
        rows = embedding_covariance(df, "embedding", [0, 1, 2, 3]).collect()
        Q = np.floor(1e6 * X)  # the operator's quantization
        n = len(X)
        for r in rows:
            a, b = r["i"], r["j"]
            sxy = float((Q[:, a] * Q[:, b]).sum())
            sx, sy = float(Q[:, a].sum()), float(Q[:, b].sum())
            want = (sxy / n - (sx / n) * (sy / n)) / 1e12
            want = math.floor(1e9 * want) / 1e9
            assert r["cov"] == pytest.approx(want, abs=2e-9), (a, b)
            assert r["n"] == n

    def test_validation(self, spark):
        df = _df(spark, _aniso(n=10))
        with pytest.raises(ValueError):
            embedding_covariance(df, "embedding", [])
        with pytest.raises(ValueError):
            embedding_covariance(df, "embedding", list(range(17)))


class TestPcaKnnRecall:
    """The production purpose of pca_project is kNN/semdedup in fewer
    dims — so gate it the way the ANN paths are gated (recall@10 vs
    full-dim knn_brute), but two-sided: PCA compresses exactly when the
    spectrum is concentrated, and the test pins BOTH arms. On the gate
    embeddings (near-isotropic by construction: explained variance
    0.21/0.38/0.65 at k=8/16/32) recall@10 measured 0.24/0.30/0.48 —
    tracking explained variance, which is the honest physics, and
    documented in COVERAGE.md rather than pinned high."""

    def _recall(self, spark, X, k):
        from etl_tools_rs_spark.operators.similarity import knn_brute

        df = _df(spark, X)

        def pairs(frame, vec_col):
            q = frame.filter(F.col("id") < 5).select(
                F.col("id").alias("query_id"), F.col(vec_col)
            )
            return {
                (r.query_id, r.neighbor_id)
                for r in knn_brute(
                    frame, q, k=10, corpus_id="id",
                    corpus_vec=vec_col, query_vec=vec_col,
                ).collect()
            }

        full = pairs(df, "embedding")
        model = pca_fit_exact(df, "embedding", k=k)
        proj = pca_project(df, "embedding", model).select("id", "pca")
        red = pairs(proj, "pca")
        return len(red & full) / len(full), model

    def test_anisotropic_corpus_recall_high(self, spark):
        """Variance concentrated in a 4-dim subspace of 32: PCA-4 must
        preserve the neighborhood structure (recall@10 >= 0.9)."""
        rng = np.random.RandomState(13)
        n, d, r = 300, 32, 4
        basis, _ = np.linalg.qr(rng.randn(d, r))
        X = rng.randn(n, r) * np.array([8.0, 5.0, 3.0, 2.0]) @ basis.T
        X = X + rng.randn(n, d) * 0.05
        recall, model = self._recall(spark, X, k=r)
        assert sum(model.explained_ratio) > 0.99
        assert recall >= 0.9, f"recall@10 = {recall:.2f}"

    def test_isotropic_corpus_recall_tracks_spectrum(self, spark):
        """Flat spectrum: PCA-k is lossy and recall must NOT silently
        look fine — it stays low (below 0.8) while still beating the
        random-overlap floor, and explained_ratio says why."""
        rng = np.random.RandomState(17)
        X = rng.randn(300, 32)
        recall, model = self._recall(spark, X, k=4)
        assert sum(model.explained_ratio) < 0.5  # the spectrum warns
        assert recall < 0.8  # and recall reflects it


class TestPcaFitExact:
    """r6 deterministic twin (similarity.py::pca_fit_exact): exact
    integer moments make the model a pure function of the data — the
    property the pca_project_embeddings value oracle stands on."""

    def _corpus(self, spark, seed=7, n=400, d=12):
        rng = np.random.RandomState(seed)
        basis, _ = np.linalg.qr(rng.randn(d, 3))
        X = rng.randn(n, 3) * np.array([6.0, 3.0, 1.5]) @ basis.T
        X = X + rng.randn(n, d) * 0.05
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        return (
            spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            X,
        )

    def test_partition_invariant(self, spark):
        from etl_tools_rs_spark.operators.similarity import pca_fit_exact

        df, _ = self._corpus(spark)
        m1 = pca_fit_exact(df, "embedding", k=3)
        m2 = pca_fit_exact(df.repartition(17), "embedding", k=3)
        m3 = pca_fit_exact(df.coalesce(1), "embedding", k=3)
        assert m1.mean == m2.mean == m3.mean
        assert m1.components == m2.components == m3.components

    def test_matches_numpy_reference(self, spark):
        """Components agree with a straight numpy PCA on the same
        quantized corpus to ~quantization precision (1e-6 inputs →
        sub-1e-4 component agreement on a well-separated spectrum)."""
        df, X = self._corpus(spark)
        _assert_matches_quantized_numpy(df, X, k=3)

    def test_refuses_int64_gram_overflow(self, spark):
        """A chunk's int64 Gram partial wraps once its Σq² reaches 2^63;
        the fit must refuse a corpus where 1024·max|q|² does (|x| ≈ 94.9
        at input_scale=6) rather than return a wrong model, and still
        fit one just inside the bound. Without the check, this corpus
        on one partition (1024-row chunks) gave explained ratios
        ≈ [-0.0002, -0.0002, 1.0005] and a wrong leading component, while
        on four partitions (~500-row chunks) it fit correctly: the
        refusal is partition-independent, the wrap was not."""
        from etl_tools_rs_spark.operators.similarity import pca_fit_exact

        rng = np.random.RandomState(3)
        X = rng.randn(2000, 3) * np.array([120.0, 1.0, 1.0])
        df = _df(spark, X)
        for frame in (df, df.coalesce(1)):
            with pytest.raises(ValueError, match="int64 Gram contract"):
                pca_fit_exact(frame, "embedding", k=3)

        X = np.clip(X, -94.0, 94.0)
        model = pca_fit_exact(_df(spark, X), "embedding", k=3)
        Q = np.floor(1e6 * X.astype(np.float32).astype(np.float64)) / 1e6
        evals = np.linalg.eigvalsh(np.cov(Q, rowvar=False, bias=True))[::-1]
        assert np.allclose(model.explained_ratio, evals / evals.sum(), atol=1e-9)
        assert abs(model.components[0][0]) > 0.999
