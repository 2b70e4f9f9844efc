"""Chunking, LM scoring, series gap-fill, and PQ ANN (round-3 extension
operators)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_tools_rs_spark.operators import chunk, lm, similarity
from etl_tools_rs_spark.operators.events import fill_series


def test_chunk_documents_windows(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # 10 tokens
            (2, "one two"),  # 2 tokens -> single chunk
            (3, "   "),  # whitespace-only -> no rows
        ],
        "doc_id long, text string",
    )
    out = chunk.chunk_documents(docs, chunk_size=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc
    assert len(by_doc[2]) == 1
    assert by_doc[2][0].chunk_text == "one two"
    # doc 1: step=3, n_chunks=ceil((10-1)/3)=3
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_text for r in c1] == ["a b c d", "d e f g", "g h i j"]
    assert [r.start_token for r in c1] == [0, 3, 6]
    assert all(r.n_chunks == 3 for r in c1)
    # consecutive chunks share exactly `overlap` tokens
    assert c1[0].chunk_text.split()[-1:] == c1[1].chunk_text.split()[:1]


def test_chunk_covers_all_tokens(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(i))) for i in range(1, 40)],
        "doc_id long, text string",
    )
    out = chunk.chunk_documents(docs, chunk_size=8, overlap=2)
    cover = (
        out.select("doc_id", F.explode(F.split("chunk_text", " ")).alias("tok"))
        .distinct()
        .groupBy("doc_id")
        .count()
        .collect()
    )
    got = {r.doc_id: r["count"] for r in cover}
    assert got == {i: i for i in range(1, 40)}  # every token appears


def test_chunk_validates_params(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk.chunk_documents(docs, chunk_size=0)
    with pytest.raises(ValueError):
        chunk.chunk_documents(docs, chunk_size=4, overlap=4)


def test_lm_score_orders_fluency(spark):
    """Self-trained LM: a document of common tokens scores lower NLL than
    one of rare tokens."""
    common = "the cat sat on the mat " * 10
    docs = spark.createDataFrame(
        [(1, common), (2, "zyx qwv jkp"), (3, "the cat")],
        "doc_id long, text string",
    )
    model = lm.lm_fit(docs)
    out = {r.doc_id: r for r in lm.lm_score(docs, model).collect()}
    assert out[1].avg_nll < out[2].avg_nll  # common tokens are cheap
    assert out[3].avg_nll < out[2].avg_nll
    assert out[1].n_tokens == 60


def test_lm_oov_scoring(spark):
    """Scoring a different corpus: unseen tokens get the smoothed OOV
    mass, which must be costlier than any seen token."""
    train = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta alpha")], "doc_id long, text string"
    )
    model = lm.lm_fit(train)
    test = spark.createDataFrame(
        [(10, "alpha alpha"), (11, "unseen words entirely")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lm.lm_score(test, model).collect()}
    assert out[11].avg_nll > out[10].avg_nll
    assert out[11].n_tokens == 3


def test_fill_series_locf_and_lerp(spark):
    rows = [
        ("a", "2024-01-01 00:00:00", None),
        ("a", "2024-01-01 01:00:00", 10.0),
        ("a", "2024-01-01 02:00:00", None),
        ("a", "2024-01-01 03:00:00", None),
        ("a", "2024-01-01 04:00:00", 40.0),
        ("a", "2024-01-01 05:00:00", None),
    ]
    df = spark.createDataFrame(rows, "g string, h string, v double")
    out = {
        r.h: r
        for r in fill_series(df, "h", "v", by=["g"]).collect()
    }
    assert out["2024-01-01 00:00:00"].locf_value is None
    assert out["2024-01-01 00:00:00"].lerp_value == 10.0  # backfill head
    assert out["2024-01-01 02:00:00"].locf_value == 10.0
    assert out["2024-01-01 02:00:00"].lerp_value == 20.0  # 10 + (40-10)*1/3
    assert out["2024-01-01 03:00:00"].lerp_value == 30.0
    assert out["2024-01-01 05:00:00"].lerp_value == 40.0  # LOCF tail
    assert out["2024-01-01 01:00:00"].lerp_value == 10.0  # observed passthrough


def test_knn_pq_recall_against_brute(spark):
    """PQ with exact re-rank on a separable corpus: top-1 matches brute
    force; returned scores are true cosines."""
    import random

    rng = random.Random(3)
    dim = 8

    def vec(base):
        return [base[i] + rng.uniform(-0.05, 0.05) for i in range(dim)]

    a = [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [(i, vec(a if i % 2 == 0 else b)) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, a), (101, b)], "query_id long, embedding array<double>"
    )
    q6 = similarity.quantize_vec(F.col("embedding"))
    corpus, queries = corpus.withColumn("_q6", q6), queries.withColumn("_q6", q6)
    books = similarity.pq_train_exact(
        corpus, m=4, ksub=4, qvec_col="_q6", iterations=5
    )
    out = similarity.knn_pq(corpus, queries, books, "_q6", k=5, rerank=4).collect()
    brute = similarity.knn_brute(corpus, queries, k=5).collect()
    got = {(r.query_id, r.rank): r.neighbor_id for r in out}
    want = {(r.query_id, r.rank): r.neighbor_id for r in brute}
    # exact re-rank: overlapping candidates agree exactly at the top
    assert got[(100, 1)] == want[(100, 1)]
    assert got[(101, 1)] == want[(101, 1)]
    # parity groups: query a's neighbors are even ids, b's odd
    for (q, _), nid in got.items():
        assert nid % 2 == (0 if q == 100 else 1)
