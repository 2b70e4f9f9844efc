"""Operator unit tests: transforms, batcher, joins, fan-out (SURVEY §2.3-2.5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_tools_rs_spark.operators.batch import batch_by_count, batch_by_predicate
from etl_tools_rs_spark.operators.join import join, left_join
from etl_tools_rs_spark.operators.split import fan_out
from etl_tools_rs_spark.operators.transform import (
    flat_transform,
    transform,
    with_error_column,
)


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [(1, "ann", 30), (2, "bob", 15), (3, "cat", 45), (4, "dan", 10)],
        "id int, name string, age int",
    )


def test_transform_filter_and_project(spark, people):
    # T1: Some→emit, None→filter out (transformer.rs:7-65)
    out = transform(
        people,
        cols={"name_up": F.upper("name")},
        where=F.col("age") >= 18,
    )
    rows = out.orderBy("id").collect()
    assert [r.name_up for r in rows] == ["ANN", "CAT"]


def test_transform_pandas_fn(spark, people):
    def double_age(batches):
        for pdf in batches:
            pdf["age"] = pdf["age"] * 2
            yield pdf[["id", "age"]]

    out = transform(people, fn=double_age, fn_schema="id int, age int")
    assert {(r.id, r.age) for r in out.collect()} == {(1, 60), (2, 30), (3, 90), (4, 20)}


def test_flat_transform_explode(spark):
    # T2: the 1:N List arm the reference panics on (transform_store.rs:70-72)
    df = spark.createDataFrame(
        [("d1", ["a", "b"]), ("d2", []), ("d3", ["c"])], "id string, toks array<string>"
    )
    out = flat_transform(df, expr=F.col("toks"), alias="tok", keep=["id"])
    assert {(r.id, r.tok) for r in out.collect()} == {("d1", "a"), ("d1", "b"), ("d3", "c")}
    outer = flat_transform(df, expr=F.col("toks"), alias="tok", keep=["id"], outer=True)
    assert outer.count() == 4  # d2 survives with null token


def test_with_error_column(spark, people):
    out = with_error_column(
        people, F.col("age"), error_when=F.col("age") < 18, error_msg="minor"
    )
    errs = out.filter(F.col("_error").isNotNull()).select("id").collect()
    assert {r.id for r in errs} == {2, 4}


def test_batch_by_count(spark):
    df = spark.createDataFrame(
        [("u1", i) for i in range(7)] + [("u2", i) for i in range(3)],
        "user string, seq int",
    )
    out = batch_by_count(df, key=["user"], order=["seq"], n=3)
    got = {(r.user, r.seq): r.batch_id for r in out.collect()}
    assert got[("u1", 0)] == 0 and got[("u1", 2)] == 0
    assert got[("u1", 3)] == 1 and got[("u1", 6)] == 2
    assert got[("u2", 2)] == 0


def test_batch_by_predicate(spark):
    # T4: arbitrary cut predicate sees the pending batch (batch.rs:10-70);
    # cut when accumulated value would exceed 10
    df = spark.createDataFrame(
        [("k", 1, 4), ("k", 2, 5), ("k", 3, 3), ("k", 4, 9), ("k", 5, 1)],
        "k string, seq int, weight int",
    )

    def cut(next_row, current):
        return current["weight"].sum() + next_row["weight"] > 10

    out = batch_by_predicate(df, key=["k"], order=["seq"], new_batch=cut)
    got = {r.seq: r.batch_id for r in out.collect()}
    # batches: [1,2] (4+5=9), [3] (3+9>10 cuts), [4,5]
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 2}


def test_left_join_theta_null_arm(spark):
    # J1: unmatched lefts emit (L, None) (joins.rs:118-133)
    left = spark.createDataFrame([(1, 100), (2, 5), (3, 50)], "id int, val int")
    right = spark.createDataFrame([(10, 60)], "rid int, threshold int")
    out = left_join(
        left, right, on=F.col("val") > F.col("r.threshold"), right_struct="r"
    )
    rows = {r.id: r.r for r in out.collect()}
    assert rows[1] is not None and rows[1].rid == 10
    assert rows[2] is None  # the Option<R> null arm
    assert rows[3] is None


def test_join_surface(spark, people):
    orders = spark.createDataFrame([(1, 9.5), (1, 3.0), (3, 7.0)], "pid int, amt double")
    semi = join(people, orders, F.col("id") == F.col("pid"), how="left_semi")
    assert {r.id for r in semi.collect()} == {1, 3}
    anti = join(people, orders, F.col("id") == F.col("pid"), how="left_anti")
    assert {r.id for r in anti.collect()} == {2, 4}
    bcast = join(people, orders, F.col("id") == F.col("pid"), how="inner", broadcast_right=True)
    assert bcast.count() == 3
    assert "Broadcast" in bcast._jdf.queryExecution().executedPlan().toString()


def test_fan_out(spark, people):
    # P2: one cached input, N independent consumers — no lock-step
    results = fan_out(
        people,
        [lambda d: d.count(), lambda d: d.filter(F.col("age") > 18).count()],
        parallel=True,
    )
    assert results == [4, 2]


def test_asof_join_backward(spark):
    from etl_tools_rs_spark.operators.join import asof_join

    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 20, "t2"), ("B", 15, "t3")],
        "sym string, t int, trade string",
    )
    quotes = spark.createDataFrame(
        [("A", 5, 1.0), ("A", 10, 2.0), ("A", 18, 3.0), ("B", 99, 9.0)],
        "sym string, t int, px double",
    )
    out = asof_join(
        trades, quotes, by="sym", left_time="t", right_time="t", value_cols=["px"]
    )
    got = {r.trade: r.px for r in out.collect()}
    # t1@10 matches the quote AT 10 (<= semantics), t2@20 matches 18,
    # t3@15 has no quote at-or-before → null arm
    assert got == {"t1": 2.0, "t2": 3.0, "t3": None}


def test_asof_join_tolerance(spark):
    import pyspark.sql.functions as F
    from etl_tools_rs_spark.operators.join import asof_join

    left = spark.createDataFrame([("k", 100, "e1"), ("k", 200, "e2")], "k string, t int, ev string")
    right = spark.createDataFrame([("k", 95, 1.0), ("k", 120, 2.0)], "k string, t int, v double")
    out = asof_join(
        left, right, by="k", left_time="t", right_time="t",
        value_cols=["v"], tolerance=F.lit(10),
    )
    got = {r.ev: r.v for r in out.collect()}
    # e1@100 matches 95 (within 10); e2@200's best match 120 is too old
    assert got == {"e1": 1.0, "e2": None}


def test_split_ok_err_counts_transform_errors(spark, people):
    from etl_tools_rs_spark.sources.files import split_ok_err

    flagged = with_error_column(
        people, F.col("age"), error_when=F.col("age") < 18, error_msg="minor"
    )
    ok, err = split_ok_err(flagged)
    assert ok.count() == 2 and err.count() == 2
    assert "_error" not in ok.columns  # marker stripped from the ok side


def test_tfidf_hand_computed(spark):
    import math

    from etl_tools_rs_spark.operators.text import tfidf

    docs = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "a c"), ("d3", "c c c")],
        "doc_id string, text string",
    )
    got = {(r.doc_id, r.term): (r.tf, r.idf, r.tfidf) for r in tfidf(docs).collect()}
    # N=3; df: a->2, b->1, c->2
    idf_a = math.floor(1e6 * (math.log(4.0 / 3.0) + 1.0)) / 1e6
    idf_b = math.floor(1e6 * (math.log(4.0 / 2.0) + 1.0)) / 1e6
    assert got[("d1", "a")] == (2, idf_a, 2.0 * idf_a)
    assert got[("d1", "b")] == (1, idf_b, idf_b)
    assert got[("d3", "c")][0] == 3
    assert len(got) == 5  # (d1,a),(d1,b),(d2,a),(d2,c),(d3,c)


class TestGroupCentroids:
    def test_hand_computed_and_partition_invariant(self, spark):
        from etl_tools_rs_spark.operators.similarity import group_centroids

        rows = [
            ("a", [1.0, 2.0, 3.0]),
            ("a", [3.0, 2.0, 1.0]),
            ("b", [10.0, 0.0, -10.0]),
        ]
        df = spark.createDataFrame(rows, "g string, embedding array<float>")
        got = {r["g"]: (r["centroid"], r["n"]) for r in
               group_centroids(df, "embedding", by=["g"]).collect()}
        assert got["a"] == ([2.0, 2.0, 2.0], 2)
        assert got["b"] == ([10.0, 0.0, -10.0], 1)
        got17 = {r["g"]: (r["centroid"], r["n"]) for r in
                 group_centroids(df.repartition(17), "embedding", by=["g"]).collect()}
        assert got17 == got

    def test_global_centroid_no_group(self, spark):
        from etl_tools_rs_spark.operators.similarity import group_centroids

        df = spark.createDataFrame(
            [([2.0, 4.0],), ([4.0, 8.0],)], "embedding array<float>"
        )
        r = group_centroids(df, "embedding").collect()[0]
        assert r["centroid"] == [3.0, 6.0] and r["n"] == 2


class TestContainmentPairs:
    def test_quote_detection_asymmetric(self, spark):
        from etl_tools_rs_spark.operators import dedup as dd
        from pyspark.sql import functions as F

        quote = "alpha beta gamma delta"
        article = quote + " " + "rest of a much longer body with many words here"
        df = spark.createDataFrame(
            [(1, quote), (2, article), (3, "alpha unrelated thing entirely")],
            "doc_id bigint, text string",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dd.containment_pairs(
                df, threshold=0.5, block_col=F.lit(1)
            ).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # quote fully inside
        assert (2, 1) not in pairs  # article is NOT inside the quote
        assert (3, 2) not in pairs

    def test_direction_both_ways_for_near_identical(self, spark):
        from etl_tools_rs_spark.operators import dedup as dd
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e f")], "doc_id bigint, text string"
        )
        got = {(r["id_a"], r["id_b"]) for r in
               dd.containment_pairs(df, threshold=0.7, block_col=F.lit(1)).collect()}
        assert got == {(1, 2), (2, 1)}


class TestSetSimHashVerified:
    """The hashed-gram set-similarity joins are OUTPUT-IDENTICAL to the
    string-gram joins: the emitted values are pure set-cardinality
    arithmetic, preserved by any injective gram→hash map, and
    injectivity is proven per run by one aggregate (collision ⇒ string
    fallback). The string reference is that fallback, forced by making
    the injectivity check fail. Pinned on the gate corpus (sf0.001
    documents — the corpus the oracles run on) for ngram_jaccard_pairs
    and prefix_jaccard_pairs, plus the hash_grams+max_df refusal."""

    def _docs(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")

    def _outputs(self, df, prefix_hash_grams=True):
        from etl_tools_rs_spark.operators import dedup as dd

        ng = sorted(
            map(tuple, dd.ngram_jaccard_pairs(df, n=3, threshold=0.2).collect())
        )
        pj = sorted(
            map(
                tuple,
                dd.prefix_jaccard_pairs(
                    df, threshold=0.5, shingle_n=3,
                    hash_grams=prefix_hash_grams,
                ).collect(),
            )
        )
        return ng, pj

    def test_verified_identical_to_string_path(self, spark, monkeypatch):
        from etl_tools_rs_spark.operators import dedup as dd

        df = self._docs(spark)
        hashed = self._outputs(df)
        monkeypatch.setattr(dd, "_xxhash64_injective", lambda *a, **k: False)
        strings = self._outputs(df)
        for name, h, s in zip(("ngram", "prefix"), hashed, strings):
            assert h == s, name
            assert len(h) > 0, name

    def test_collision_fallback_arm_is_identical(self, spark, monkeypatch):
        """The forced fallback equals the plain string run: prefix with
        ``hash_grams=False``, ngram with its hashed default."""
        from etl_tools_rs_spark.operators import dedup as dd

        df = self._docs(spark).limit(200)
        ng, pj_plain = self._outputs(df, prefix_hash_grams=False)
        monkeypatch.setattr(dd, "_xxhash64_injective", lambda *a, **k: False)
        fallback = self._outputs(df)
        assert fallback == (ng, pj_plain)

    def test_verified_refuses_max_df(self, spark):
        import pytest

        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="hash_grams"):
            prefix_jaccard_pairs(df, threshold=0.5, max_df=8, hash_grams=True)


class TestEmbeddingProfile:
    def test_hand_computed_and_partition_invariant(self, spark):
        from etl_tools_rs_spark.operators.similarity import embedding_profile

        df = spark.createDataFrame(
            [([1.0, -2.0],), ([3.0, 4.0],), ([5.0, 0.0],)],
            "embedding array<float>",
        )
        got = {r["dim"]: r for r in embedding_profile(df).collect()}
        assert got[0]["n"] == 3 and got[0]["min_v"] == 1.0 and got[0]["max_v"] == 5.0
        assert got[0]["mean_v"] == 3.0
        assert got[1]["min_v"] == -2.0 and got[1]["max_v"] == 4.0
        import math

        assert got[1]["mean_v"] == math.floor(1e6 * (2.0 / 3.0)) / 1e6
        re = {r["dim"]: r["mean_v"] for r in
              embedding_profile(df.repartition(7)).collect()}
        assert re == {k: v["mean_v"] for k, v in got.items()}


class TestQuantizeInt8:
    def test_round_trip_error_bounded(self, spark):
        from etl_tools_rs_spark.operators.similarity import (
            dequantize_int8,
            quantize_int8,
        )

        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.001, 0.002, -0.003, 0.004])],
            "id int, embedding array<float>",
        )
        q = quantize_int8(df, "embedding", id_cols=["id"])
        back = {r.id: r.embedding for r in dequantize_int8(q).collect()}
        orig = {r.id: r.embedding for r in df.collect()}
        for k in orig:
            s = max(abs(v) for v in orig[k])
            for a, b in zip(orig[k], back[k]):
                # quantization error <= half a code step
                assert abs(a - b) <= s / 127 * 0.5 + 1e-7

    def test_extremes_hit_127(self, spark):
        from etl_tools_rs_spark.operators.similarity import quantize_int8

        df = spark.createDataFrame(
            [(1, [1.0, -1.0, 0.0])], "id int, embedding array<float>"
        )
        [r] = quantize_int8(df, id_cols=["id"]).collect()
        assert r.qvec == [127, -127, 0] and r.qscale == 1.0

    def test_zero_vector_safe(self, spark):
        from etl_tools_rs_spark.operators.similarity import quantize_int8

        df = spark.createDataFrame(
            [(1, [0.0, 0.0])], "id int, embedding array<float>"
        )
        [r] = quantize_int8(df, id_cols=["id"]).collect()
        assert r.qvec == [0, 0] and r.qscale == 0.0

    def test_narrow_no_shuffle(self, spark):
        from etl_tools_rs_spark.operators.similarity import quantize_int8

        df = spark.createDataFrame(
            [(1, [0.5, 0.25])], "id int, embedding array<float>"
        )
        plan = (
            quantize_int8(df, id_cols=["id"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Python" not in plan


class TestPrefixJaccard:
    def _naive(self, docs, t, n=3):
        # reference all-pairs over distinct n-grams
        def grams(s):
            ws = s.split()
            return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

        out = {}
        import math

        for i, (ia, sa) in enumerate(docs):
            for ib, sb in docs[i + 1 :]:
                ga, gb = grams(sa), grams(sb)
                if not ga or not gb:
                    continue
                j = len(ga & gb) / len(ga | gb)
                j = math.floor(1e6 * j) / 1e6
                if j >= t:
                    out[(min(ia, ib), max(ia, ib))] = j
        return out

    def test_equals_naive_no_false_negatives(self, spark):
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        words = "alpha beta gamma delta epsilon zeta eta theta".split()
        import itertools

        docs = []
        i = 0
        for combo in itertools.permutations(words, 6):
            docs.append((i, " ".join(combo)))
            i += 1
            if i >= 40:
                break
        # inject exact + near duplicates
        docs.append((100, docs[0][1]))
        docs.append((101, docs[1][1] + " omega"))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for t in (0.3, 0.5, 0.8):
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in prefix_jaccard_pairs(df, threshold=t).collect()
            }
            assert got == self._naive(docs, t), f"threshold {t}"

    def test_identical_docs_score_one(self, spark):
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
            "doc_id long, text string",
        )
        got = prefix_jaccard_pairs(df, threshold=0.9).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 1.0)]

    def test_short_docs_excluded(self, spark):
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b")], "doc_id long, text string"
        )
        assert prefix_jaccard_pairs(df, shingle_n=3).count() == 0

    def test_validates_threshold(self, spark):
        import pytest

        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            prefix_jaccard_pairs(df, threshold=0.0)

    def test_hash_grams_matches_exact(self, spark):
        """The 8-byte-key path returns the same pairs and scores as the
        string-key path."""
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        words = "alpha beta gamma delta epsilon zeta eta theta".split()
        import itertools

        docs = [
            (i, " ".join(c))
            for i, c in enumerate(itertools.permutations(words, 6))
            if i < 60
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        exact = sorted(
            map(tuple, prefix_jaccard_pairs(df, threshold=0.4).collect())
        )
        hashed = sorted(
            map(
                tuple,
                prefix_jaccard_pairs(df, threshold=0.4, hash_grams=True).collect(),
            )
        )
        assert exact == hashed and len(exact) > 0

    def test_max_df_validation(self, spark):
        import pytest

        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="max_df"):
            prefix_jaccard_pairs(df, max_df=1)

    def test_max_df_pairs_subset_of_exact_with_exact_scores(self, spark):
        """The dense-corpus safety valve: capped pairs are a subset of
        the exact pairs and every emitted score is the exact one (the
        verify stage is untouched). On the gate corpus (sf0.001
        documents, the corpus the oracle runs on) the measured recall
        must stay high — rare grams, not hot boilerplate, carry most
        true pairs."""
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
        )
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_jaccard_pairs(docs, threshold=0.5).collect()
        }
        capped = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_jaccard_pairs(
                docs, threshold=0.5, max_df=32
            ).collect()
        }
        assert set(capped) <= set(exact)
        for k, v in capped.items():
            assert exact[k] == v
        assert len(exact) > 0
        recall = len(capped) / len(exact)
        assert recall >= 0.9, f"recall {recall:.3f} on gate corpus"

    def test_max_df_drops_hot_gram_only_pairs(self, spark):
        """A pair whose ENTIRE overlap is boilerplate (df > cap) is the
        documented false-negative mode; pairs with any rare shared gram
        survive."""
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

        boiler = "terms of service apply to all users"
        docs = [(i, boiler) for i in range(20)]
        docs += [(100, boiler + " rare marker one"),
                 (101, boiler + " rare marker one")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        capped = {
            (r.id_a, r.id_b)
            for r in prefix_jaccard_pairs(
                df, threshold=0.5, max_df=5
            ).collect()
        }
        # the 20 pure-boilerplate docs only share hot grams -> dropped;
        # 100/101 share 'rare marker one' grams (df=2) -> kept
        assert (100, 101) in capped
        assert all(a >= 100 for a, b in capped), capped

    def test_cross_pairs_max_df_passthrough(self, spark):
        from etl_tools_rs_spark.operators.dedup import (
            prefix_jaccard_cross_pairs,
        )

        boiler = "all rights reserved by the site owner"
        left = spark.createDataFrame(
            [(i, boiler) for i in range(10)]
            + [(90, boiler + " unique fingerprint text")],
            "doc_id long, text string",
        )
        right = spark.createDataFrame(
            [(100 + i, boiler) for i in range(10)]
            + [(190, boiler + " unique fingerprint text")],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b)
            for r in prefix_jaccard_cross_pairs(
                left, right, threshold=0.5, max_df=5
            ).collect()
        }
        assert got == {(90, 190)}


class TestPrefixCandidateEstimate:
    def test_matches_hand_count(self, spark):
        """est_candidates is exactly Σ_g C(prefix_occupancy, 2) — cross-
        checked against running the real prefix machinery by hand."""
        from etl_tools_rs_spark.operators.dedup import (
            prefix_candidate_estimate,
            prefix_jaccard_pairs,
        )

        docs = [
            (1, "a b c d e f"),
            (2, "a b c d e g"),
            (3, "x y z w v u"),
            (4, "x y z w v t"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        row = prefix_candidate_estimate(df, threshold=0.5).collect()[0]
        assert row.docs == 4
        # every real candidate pair probes the join at least once
        pairs = prefix_jaccard_pairs(df, threshold=0.5).count()
        assert row.est_candidates >= pairs > 0
        assert row.max_gram_bucket >= 2
        assert 0.0 <= row.hot_gram_share <= 1.0

    def test_cap_preview_shrinks_estimate(self, spark):
        """Passing max_df previews the capped join's candidate volume —
        on a boilerplate corpus the drop is dramatic and hot_gram_share
        of the UNCAPPED estimate is ~1 (the route-to-LSH signal)."""
        from etl_tools_rs_spark.operators.dedup import (
            prefix_candidate_estimate,
        )

        boiler = "terms of service apply to all users"
        docs = [(i, boiler) for i in range(40)] + [
            (100, "genuinely novel content marker alpha beta")
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        full = prefix_candidate_estimate(df, threshold=0.5).collect()[0]
        capped = prefix_candidate_estimate(
            df, threshold=0.5, max_df=5
        ).collect()[0]
        assert full.est_candidates >= 40 * 39 / 2
        assert full.hot_gram_share > 0.9
        assert capped.est_candidates == 0

    def test_empty_corpus(self, spark):
        from etl_tools_rs_spark.operators.dedup import (
            prefix_candidate_estimate,
        )

        df = spark.createDataFrame([], "doc_id long, text string")
        row = prefix_candidate_estimate(df).collect()[0]
        assert row.est_candidates == 0 and row.docs == 0


class TestDuplicateSpans:
    def _spans(self, spark, docs, k=10):
        from etl_tools_rs_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(docs, ["doc_id", "text"])
        rows = duplicate_spans(df, "text", "doc_id", k=k).collect()
        return sorted((r.doc_id, r.span_start, r.span_end, r.span_len) for r in rows)

    def test_shared_substring_flagged_both_sides(self, spark):
        shared = "0123456789ABCDEFGHIJ"  # 20 chars, appears in both docs
        docs = [
            (1, "xxxx" + shared + "yyyyyy"),
            (2, "zz" + shared + "wwww"),
        ]
        got = self._spans(spark, docs, k=10)
        # doc 1: shared at [4, 24); doc 2: at [2, 22)
        assert got == [(1, 4, 24, 20), (2, 2, 22, 20)]

    def test_no_cross_doc_duplicate_no_spans(self, spark):
        docs = [(1, "abcdefghijklmnop"), (2, "qrstuvwxyz012345")]
        assert self._spans(spark, docs, k=10) == []

    def test_within_doc_repetition_not_flagged(self, spark):
        # the 10-gram repeats INSIDE doc 1 only -> cross-doc count is 1
        docs = [(1, "ABCDEFGHIJ--ABCDEFGHIJ"), (2, "unrelated text here!")]
        assert self._spans(spark, docs, k=10) == []

    def test_adjacent_duplicates_merge_into_one_span(self, spark):
        # both docs share a 30-char region: every 10-gram inside it is
        # duplicated, and the overlapping coverage merges to ONE span
        region = "THE-QUICK-BROWN-FOX-JUMPED-NOW"
        docs = [(1, region + " tail one"), (2, "head two " + region)]
        got = self._spans(spark, docs, k=10)
        assert got == [(1, 0, 30, 30), (2, 9, 39, 30)]

    def test_disjoint_shared_regions_stay_separate(self, spark):
        a = "AAAAAAAAAAAA"  # 12 chars
        b = "BBBBBBBBBBBB"
        docs = [
            (1, a + "0123456789012345" + b),  # gap of 16 > k
            (2, a + "abcdefghijklmnop" + b),
        ]
        got = self._spans(spark, docs, k=12)
        assert got == [
            (1, 0, 12, 12), (1, 28, 40, 12),
            (2, 0, 12, 12), (2, 28, 40, 12),
        ]

    def test_short_docs_skipped(self, spark):
        docs = [(1, "tiny"), (2, "tiny")]
        assert self._spans(spark, docs, k=10) == []

    def test_k_validation(self, spark):
        from etl_tools_rs_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            duplicate_spans(df, k=1)


class TestRemoveDuplicateSpans:
    def _clean(self, spark, docs, k=10):
        from etl_tools_rs_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(docs, ["doc_id", "text"])
        return {
            r.doc_id: (r.clean_text, r.removed_chars)
            for r in remove_duplicate_spans(df, "text", "doc_id", k=k).collect()
        }

    def test_shared_region_cut_from_both(self, spark):
        shared = "0123456789ABCDEFGHIJ"
        docs = [(1, "xxxx" + shared + "yyyyyy"), (2, "zz" + shared + "wwww")]
        got = self._clean(spark, docs, k=10)
        assert got[1] == ("xxxxyyyyyy", 20)
        assert got[2] == ("zzwwww", 20)

    def test_untouched_docs_pass_through(self, spark):
        docs = [(1, "abcdefghijklmnop"), (2, "qrstuvwxyz012345")]
        got = self._clean(spark, docs, k=10)
        assert got[1] == ("abcdefghijklmnop", 0)
        assert got[2] == ("qrstuvwxyz012345", 0)

    def test_multiple_disjoint_spans_cut(self, spark):
        a, b = "AAAAAAAAAAAA", "BBBBBBBBBBBB"
        docs = [
            (1, a + "0123456789012345" + b),
            (2, a + "abcdefghijklmnop" + b),
        ]
        got = self._clean(spark, docs, k=12)
        assert got[1] == ("0123456789012345", 24)
        assert got[2] == ("abcdefghijklmnop", 24)

    def test_whole_doc_duplicated_empties(self, spark):
        docs = [(1, "identical-document!!"), (2, "identical-document!!")]
        got = self._clean(spark, docs, k=10)
        assert got[1] == ("", 20)
        assert got[2] == ("", 20)

    def test_short_docs_unchanged(self, spark):
        docs = [(1, "tiny"), (2, "tiny")]
        got = self._clean(spark, docs, k=10)
        assert got[1] == ("tiny", 0)


class TestFlatTransformUdtf:
    def test_generator_expansion(self, spark):
        from etl_tools_rs_spark.operators.transform import flat_transform_udtf

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "d e"), (3, "")], "id int, text string"
        )

        def split_words(text):
            for i, w in enumerate((text or "").split()):
                yield w, i

        out = flat_transform_udtf(
            df, split_words, ["text"], "word string, pos int"
        )
        rows = sorted((r.id, r.word, r.pos) for r in out.collect())
        assert rows == [
            (1, "a", 0), (1, "b", 1), (1, "c", 2), (2, "d", 0), (2, "e", 1)
        ]
        assert out.columns == ["id", "text", "word", "pos"]

    def test_zero_output_rows_dropped(self, spark):
        from etl_tools_rs_spark.operators.transform import flat_transform_udtf

        df = spark.createDataFrame([(1,), (2,)], "id int")

        def only_even(i):
            if i % 2 == 0:
                yield (i * 10,)

        out = flat_transform_udtf(df, only_even, ["id"], "v int")
        assert [(r.id, r.v) for r in out.collect()] == [(2, 20)]

    def test_multi_column_input(self, spark):
        from etl_tools_rs_spark.operators.transform import flat_transform_udtf

        df = spark.createDataFrame([(2, 3)], "a int, b int")

        def pairs(a, b):
            for i in range(a):
                for j in range(b):
                    yield i, j

        out = flat_transform_udtf(df, pairs, ["a", "b"], "i int, j int")
        assert out.count() == 6


class TestMinhashCrossPairs:
    def _corpora(self, spark):
        left = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "completely unrelated text about spark and shuffles"),
                (3, "another document that matches nothing on the right"),
            ],
            "doc_id long, text string",
        )
        right = spark.createDataFrame(
            [
                (101, "the quick brown fox jumps over the lazy dog today"),
                (102, "benchmark text that matches nothing on the left"),
            ],
            "doc_id long, text string",
        )
        return left, right

    def test_finds_cross_duplicates_only(self, spark):
        from etl_tools_rs_spark.operators.dedup import minhash_cross_pairs

        left, right = self._corpora(spark)
        got = minhash_cross_pairs(
            left, right, threshold=0.9, num_hashes=16, bands=8
        ).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 101, 1.0)]

    def test_within_side_pairs_never_emitted(self, spark):
        from etl_tools_rs_spark.operators.dedup import minhash_cross_pairs

        df = spark.createDataFrame(
            [(1, "identical text body here"), (2, "identical text body here")],
            "doc_id long, text string",
        )
        other = spark.createDataFrame(
            [(9, "something else entirely different")], "doc_id long, text string"
        )
        # both left dups pair with nothing on the right; they never pair
        # with each other
        assert minhash_cross_pairs(df, other, threshold=0.5).count() == 0

    def test_decontaminate_near_dup_drops_flagged(self, spark):
        from etl_tools_rs_spark.operators.dedup import decontaminate_near_dup

        left, right = self._corpora(spark)
        kept = decontaminate_near_dup(
            left, right, threshold=0.9, num_hashes=16, bands=8
        )
        assert sorted(r.doc_id for r in kept.collect()) == [2, 3]

    def test_validates_args(self, spark):
        from etl_tools_rs_spark.operators.dedup import minhash_cross_pairs
        import pytest as _pytest

        left, right = self._corpora(spark)
        with _pytest.raises(ValueError):
            minhash_cross_pairs(left, right, threshold=0.0)
        with _pytest.raises(ValueError):
            minhash_cross_pairs(left, right, num_hashes=16, bands=5)


class TestPrefixJaccardCrossPairs:
    def test_matches_brute_force_cross(self, spark):
        import itertools
        import math

        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_cross_pairs

        words = "alpha beta gamma delta epsilon zeta eta theta".split()
        L = [(i, " ".join(c)) for i, c in enumerate(itertools.permutations(words, 6)) if i < 25]
        # right side: some exact/near copies of the left plus fresh docs
        R = [(100 + i, t) for i, (_, t) in enumerate(L[:6])]
        R += [(200 + i, t + " omega") for i, (_, t) in enumerate(L[6:12])]
        R += [
            (300 + i, " ".join(c))
            for i, c in enumerate(itertools.permutations(words[::-1], 6))
            if i < 10
        ]
        lf = spark.createDataFrame(L, "doc_id long, text string")
        rf = spark.createDataFrame(R, "doc_id long, text string")

        def grams(t):
            ws = t.split()
            return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

        naive = {}
        for (ia, ta), (ib, tb) in itertools.product(L, R):
            ga, gb = grams(ta), grams(tb)
            j = math.floor(1e6 * len(ga & gb) / len(ga | gb)) / 1e6
            if j >= 0.3:
                naive[(ia, ib)] = j
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_jaccard_cross_pairs(lf, rf, threshold=0.3).collect()
        }
        assert got == naive and len(got) > 0

    def test_within_side_pairs_excluded(self, spark):
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_cross_pairs

        L = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
        )
        R = spark.createDataFrame(
            [(9, "x y z w v u")], "doc_id long, text string"
        )
        assert prefix_jaccard_cross_pairs(L, R, threshold=0.5).count() == 0

    def test_duplicate_id_raises(self, spark):
        from etl_tools_rs_spark.operators.dedup import prefix_jaccard_cross_pairs
        import pytest as _pytest

        L = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        R = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        with _pytest.raises(Exception):
            prefix_jaccard_cross_pairs(L, R, threshold=0.5).collect()
