"""Segment-blocked fuzzy join (operators/fuzzy.py) — soundness vs the
naive cross-join form and plan checks."""

import pytest
from pyspark.sql import functions as F

from etl_tools_rs_spark.operators import fuzzy

WORDS = [
    "kettle", "kettel", "kettles", "cattle", "battle", "bottle",
    "settle", "set", "sat", "s", "", "ab", "abc",
    "chocolate", "chocolat", "choco1ate", "xhocolate",
    "forest green", "forest greene", "forrest green",
    "almond antique", "almond antiqeu", "almond  antique",
    "ünïcode", "ünicode", "unicode",
]


@pytest.fixture(scope="module")
def words_df(spark):
    return spark.createDataFrame(
        [(i, w) for i, w in enumerate(WORDS)], "wid int, w string"
    )


def pairs_of(df, a="id_a", b="id_b"):
    return {(r[a], r[b], r["distance"]) for r in df.collect()}


@pytest.mark.parametrize(
    "d,method",
    [(1, "deletion"), (2, "deletion"), (1, "segment"), (2, "segment"),
     (3, "segment"), (1, "auto"), (3, "auto")],
)
def test_blocked_matches_naive_exactly(spark, words_df, d, method):
    """The blocking must lose nothing: blocked results == cross-join
    results for every distance budget, under BOTH candidate schemes."""
    left = words_df.select(F.col("wid").alias("lid"), F.col("w").alias("lw"))
    right = words_df.select(F.col("wid").alias("rid"), F.col("w").alias("rw"))
    blocked = {
        (r["lid"], r["rid"], r["distance"])
        for r in fuzzy.fuzzy_join(
            left, right, "lw", "rw", d, method=method
        ).collect()
    }
    naive = {
        (r["lid"], r["rid"], r["distance"])
        for r in fuzzy.fuzzy_join_naive(left, right, "lw", "rw", d).collect()
    }
    assert blocked == naive
    assert len(blocked) > len(WORDS)  # non-trivial: off-diagonal matches exist


def test_deletion_rejects_large_distance(spark, words_df):
    with pytest.raises(ValueError, match="deletion"):
        fuzzy.fuzzy_join(words_df, words_df, "w", "w", 3, method="deletion")


def test_self_pairs_ordered_unique(spark, words_df):
    out = fuzzy.fuzzy_self_pairs(words_df, "w", "wid", max_distance=2)
    rows = out.collect()
    assert len(rows) == len({(r["id_a"], r["id_b"]) for r in rows})
    assert all(r["id_a"] < r["id_b"] for r in rows)
    got = pairs_of(out)
    assert (0, 1, 2) in got  # kettle/kettel: transposition = 2 edits
    assert (0, 2, 1) in got  # kettle/kettles: one insert


def test_distance_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdff"), (3, "abcdefgh"), (4, "zzzzzz")],
        "wid int, w string",
    )
    got = pairs_of(fuzzy.fuzzy_self_pairs(df, "w", "wid", max_distance=2))
    assert got == {(1, 2, 1), (1, 3, 2)}


def test_short_string_bucket(spark):
    """Strings shorter than d+1 can't be segmented; the short bucket must
    still pair them correctly (and not pair them with long strings)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "ab"), (4, ""), (5, "abcdefgh")],
        "wid int, w string",
    )
    got = pairs_of(fuzzy.fuzzy_self_pairs(df, "w", "wid", max_distance=1))
    assert got == {(1, 2, 1), (1, 3, 1), (1, 4, 1), (2, 4, 1), (2, 3, 1)}


def test_no_cartesian_in_plan(spark, words_df):
    """The CANDIDATE join must plan as a hash equi-join on segment keys —
    never a cartesian / corpus-sized nested-loop product. With prefix
    stripping the plan additionally carries exactly two SCALAR
    BroadcastNestedLoopJoins (the 1-row LCP attach on each side) — the
    engine's standard stats-fold shape; with stripping off there must be
    none at all."""
    import re

    left = words_df.select(F.col("wid").alias("lid"), F.col("w").alias("lw"))
    right = words_df.select(F.col("wid").alias("rid"), F.col("w").alias("rw"))
    plan = (
        fuzzy.fuzzy_join(left, right, "lw", "rw", 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[?_fk", plan)
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row LCP attaches only
    plain = (
        fuzzy.fuzzy_join(left, right, "lw", "rw", 2, strip_common_prefix=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plain
    assert "BroadcastNestedLoopJoin" not in plain


def test_candidate_join_never_broadcast(spark, words_df):
    """r5 pin: the candidate join must be a SHUFFLED hash join, never a
    broadcast of the exploded key frame. Catalyst's size estimate
    predates the key Generate (it can't see the O(L)-per-row explosion),
    so without the hint it broadcast an 8.5M-row frame at sf3 and ran
    the whole verify on the file-count-parallel scan stage — the
    shuffled form is the only shape that survives a large corpus."""
    left = words_df.select(F.col("wid").alias("lid"), F.col("w").alias("lw"))
    right = words_df.select(F.col("wid").alias("rid"), F.col("w").alias("rw"))
    for kwargs in ({"method": "deletion", "max_distance": 1},
                   {"method": "segment", "max_distance": 3}):
        plan = (
            fuzzy.fuzzy_join(left, right, "lw", "rw", **kwargs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ShuffledHashJoin" in plan, kwargs
        assert "BroadcastHashJoin" not in plan, kwargs


def test_rejects_zero_distance(spark, words_df):
    with pytest.raises(ValueError, match="max_distance"):
        fuzzy.fuzzy_join(words_df, words_df, "w", "w", 0)


def test_dedup_fuzzy_end_to_end(spark):
    from etl_tools_rs_spark.operators.fuzzy import dedup_fuzzy

    rows = [
        # transitive chain: 1-2 and 2-3 are 1 edit apart, 1-3 is 2 —
        # connected components still merges all three at d=1
        (1, "kettle"), (2, "kettles"), (3, "kettless"),
        (4, "firetruck"), (5, "firetruck!"),
        (6, "unrelated string"),
    ]
    df = spark.createDataFrame(rows, "wid int, w string")
    out = {r["wid"]: r["n_merged"] for r in
           dedup_fuzzy(df, "w", "wid", max_distance=1).collect()}
    assert out == {1: 2, 4: 1, 6: 0}  # min id survives, absorbs the rest


def test_fuzzy_join_preserves_duplicate_rows(spark):
    """Duplicate input rows keep theta-join multiplicity (ADVICE r2):
    2 identical left rows x 1 right match -> 2 output rows."""
    left = spark.createDataFrame([("abc",), ("abc",)], "l string")
    right = spark.createDataFrame([("abd",)], "r string")
    out = fuzzy.fuzzy_join(left, right, "l", "r", max_distance=2)
    assert out.count() == 2


class TestKeyCandidateCap:
    """max_key_candidates — the adversarial-corpus safety valve
    (VERDICT r4 #2: FastSS deletion-key buckets grow with n on dense
    near-identical corpora; LSH-style cap policy bounds them)."""

    def test_validation(self, spark, words_df):
        with pytest.raises(ValueError, match="max_key_candidates"):
            fuzzy.fuzzy_join(words_df, words_df, "w", "w", 1,
                             max_key_candidates=0)
        with pytest.raises(ValueError, match="oversize_policy"):
            fuzzy.fuzzy_join(words_df, words_df, "w", "w", 1,
                             max_key_candidates=10, oversize_policy="xx")

    def test_high_cap_equals_uncapped(self, spark, words_df):
        """A cap no key reaches must be a no-op, pair for pair, under
        both policies."""
        left = words_df.select(F.col("wid").alias("lid"), F.col("w").alias("lw"))
        right = words_df.select(F.col("wid").alias("rid"), F.col("w").alias("rw"))

        def run(**kw):
            return {
                (r["lid"], r["rid"], r["distance"])
                for r in fuzzy.fuzzy_join(
                    left, right, "lw", "rw", 2, **kw
                ).collect()
            }

        exact = run()
        assert run(max_key_candidates=10**9) == exact
        assert run(max_key_candidates=10**9, oversize_policy="drop") == exact

    def test_capped_subset_exact_distances(self, spark):
        """Salted pairs ⊆ exact pairs with identical distances on an
        ultra-dense corpus (6-digit IDs at d=2: ~11% of ALL pairs
        match — the answer itself is quadratic, the cap samples it).
        Measured sampling recall at cap=64 is ~0.10; pin a floor
        well under it and the subset/exactness contract hard."""
        n = 3000
        rows = [(i, f"{i:06d}") for i in range(n)]
        df = spark.createDataFrame(rows, "wid long, w string")
        exact = {
            (r.id_a, r.id_b): r.distance
            for r in fuzzy.fuzzy_self_pairs(
                df, "w", "wid", max_distance=2
            ).collect()
        }
        capped = {
            (r.id_a, r.id_b): r.distance
            for r in fuzzy.fuzzy_self_pairs(
                df, "w", "wid", max_distance=2, max_key_candidates=64
            ).collect()
        }
        assert set(capped) <= set(exact)
        assert all(exact[k] == v for k, v in capped.items())
        assert len(exact) > 100_000  # the corpus really is dense
        recall = len(capped) / len(exact)
        assert recall >= 0.05, f"recall {recall:.3f}"

    def test_drop_policy_keeps_cold_key_pairs(self, spark):
        """drop removes every pair meeting only through hot keys, but a
        pair whose variant keys are cold survives untouched. The hot
        bucket must come from DISTINCT strings (r6): exact duplicates
        are collapsed before candidate generation, so 200 strings
        sharing everything but their final char collapse onto ONE
        deletion-variant key (df=200) while staying 200 distinct
        corpus values."""
        boiler = [(i, "x" * 8 + chr(0x4E00 + i)) for i in range(200)]
        rare = [(900, "zqxjkwvbn"), (901, "zqxjkwvbp")]
        df = spark.createDataFrame(boiler + rare, "wid long, w string")
        got = {
            (r.id_a, r.id_b)
            for r in fuzzy.fuzzy_self_pairs(
                df, "w", "wid", max_distance=1,
                max_key_candidates=50, oversize_policy="drop",
                # corpus min/max share no prefix -> strip is a no-op
            ).collect()
        }
        assert (900, 901) in got
        assert all(a >= 900 for a, b in got), sorted(got)[:5]

    def test_adversarial_100k_mega_bucket_bounded(self, spark):
        """The r4 sf1 residue reproduced as a unit, in its WORST form:
        100k near-identical strings in 5 groups of 20k, each group
        differing only in its final character — deleting that character
        collapses the whole group onto ONE variant key (occupancy 20k,
        candidate product 4·10⁸ per group; uncapped this is a 2·10⁹-
        candidate join). Capped mode must (a) bound every salted key's
        candidate product near the cap — asserted by recomputing the
        operator's own shard formula on the real occupancies — and
        (b) complete quickly, returning a nonempty sample of exact-
        distance-1 pairs."""
        n_groups, g = 5, 20_000
        cap = 256
        # final char from the CJK block: 20k distinct non-surrogate
        # codepoints, one varying position per group (built Python-side:
        # Spark's chr() is mod-256 ASCII and would collapse the corpus
        # into exact duplicates)
        rows = [
            (i, f"t{i % n_groups}{'x' * 16}{chr(0x4E00 + i // n_groups)}")
            for i in range(n_groups * g)
        ]
        df = spark.createDataFrame(rows, "wid long, w string").repartition(16)
        # (a) occupancy really is adversarial, and the shard formula
        # bounds the per-(key, shard-pair) product near the cap
        keys = df.select(
            F.explode(fuzzy._deletion_keys(F.col("w"), 1)).alias("k")
        )
        occ = keys.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
        mx = occ.agg(F.max("c")).collect()[0][0]
        assert mx >= g  # the mega bucket exists
        shard_prod = occ.select(
            (
                F.ceil(
                    F.col("c")
                    / F.ceil(F.sqrt(F.col("c") * F.col("c") / F.lit(cap)))
                )
                ** 2
            ).alias("p")
        ).agg(F.max("p").alias("mx")).collect()[0]["mx"]
        assert shard_prod <= 4 * cap
        # (b) the capped join completes (uncapped would probe ~2e9
        # candidates) and returns sound pairs
        out = fuzzy.fuzzy_self_pairs(
            df, "w", "wid", max_distance=1, max_key_candidates=cap
        )
        sample = out.limit(2000).collect()
        assert len(sample) == 2000
        for r in sample:
            assert r.distance == 1
            # distance-1 pairs here are same-group (differ in the final
            # char) or same-char (differ in the template digit) — never
            # both-different
            assert (r.id_a % n_groups == r.id_b % n_groups) or (
                r.id_a // n_groups == r.id_b // n_groups
            )


class TestComputeOnceCheckpoints:
    """The compute-once materializations (distinct strings, pre-explode
    key arrays, the self-input fast path) keep the exact pair set on
    every policy arm."""

    def _self_pairs(self, spark, df, **kw):
        return {
            (r.id_a, r.id_b, r.distance)
            for r in fuzzy.fuzzy_self_pairs(df, "w", "wid", **kw).collect()
        }

    def test_self_pairs_modes_agree_capped_cold_corpus(self, spark, words_df):
        """Cold corpus + cap: the keys-once checkpoint engages (capped
        path) and the result must equal the exact uncapped pairs (no hot
        keys)."""
        exact = self._self_pairs(spark, words_df, max_distance=2)
        got = self._self_pairs(
            spark, words_df, max_distance=2, max_key_candidates=10**9
        )
        assert got == exact and len(exact) > 0

    def test_join_modes_agree_capped_hot_corpus(self, spark):
        """Hot corpus where the cap engages: both policies produce
        subsets of the exact pairs with exact distances."""
        rows = [(i, f"{i:04d}") for i in range(300)]
        df = spark.createDataFrame(rows, "wid long, w string")
        exact = self._self_pairs(spark, df, max_distance=1)
        for policy in ("salt", "drop"):
            got = self._self_pairs(
                spark, df, max_distance=1,
                max_key_candidates=16, oversize_policy=policy,
            )
            assert got <= exact and len(got) > 0, policy

    def test_self_inputs_matches_two_sided_join(self, spark):
        """``fuzzy_join(self_inputs=True)`` — keys, tags and occupancy
        computed once, the index side a rename of the probe side — emits
        the rows of the general two-sided shape, uncapped and under both
        cap policies on a hot corpus (both policies are deterministic:
        hot keys from occupancy counts, salt shards from content
        hashes)."""
        vals = spark.createDataFrame(
            [(f"{i:04d}",) for i in range(300)], "w string"
        )

        def run(self_inputs, **kw):
            return sorted(
                map(
                    tuple,
                    fuzzy.fuzzy_join(
                        vals.select(F.col("w").alias("a")),
                        vals.select(F.col("w").alias("b")),
                        "a", "b", max_distance=1,
                        self_inputs=self_inputs, **kw,
                    ).collect(),
                )
            )

        for kw in (
            {},
            dict(max_key_candidates=16, oversize_policy="salt"),
            dict(max_key_candidates=16, oversize_policy="drop"),
        ):
            fast = run(True, **kw)
            assert fast == run(False, **kw) and len(fast) > 0, kw


def _exact_clusters(df, k, iterations=5):
    """``df`` with the ``_q6`` micro-unit column, and the exact k-means
    centroids trained on it — the model semdedup takes."""
    from etl_tools_rs_spark.operators.similarity import (
        kmeans_centroids_exact,
        quantize_vec,
    )

    q = df.withColumn("_q6", quantize_vec(F.col("embedding")))
    return q, kmeans_centroids_exact(q, k, "_q6", "vec_id", iterations)


class TestSemdedup:
    def _run(self, spark, rows, n_clusters, **kw):
        from etl_tools_rs_spark.operators.similarity import semdedup

        df, centroids = _exact_clusters(
            spark.createDataFrame(rows, ["vec_id", "embedding"]), n_clusters
        )
        return {
            r.vec_id: r
            for r in semdedup(df, centroids, "_q6", **kw).collect()
        }

    def test_near_identical_pair_marks_higher_id(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),   # ~same direction as 1
            (3, [0.0, 1.0, 0.0]),      # orthogonal
            (4, [0.0, 0.0, 1.0]),
        ]
        got = self._run(spark, rows, n_clusters=2, threshold=0.95)
        assert len(got) == 4
        assert not got[1].is_dup            # id-minimum of its dup group
        assert got[2].is_dup
        assert got[2].max_prior_sim >= 0.99

    def test_all_distinct_nothing_marked(self, spark):
        rows = [
            (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]), (4, [0.0, -1.0]),
        ]
        got = self._run(spark, rows, n_clusters=2, threshold=0.95)
        assert not any(r.is_dup for r in got.values())

    def test_matches_naive_within_cluster_rule(self, spark):
        import itertools
        import math
        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)
        ]
        got = self._run(spark, rows, n_clusters=3, threshold=0.9)
        # rebuild clusters from the output, then apply the rule naively
        by_cluster: dict[int, list[int]] = {}
        for r in got.values():
            by_cluster.setdefault(r.cluster, []).append(r.vec_id)
        vec = dict(rows)

        def cos(a, b):
            da = math.sqrt(sum(x * x for x in a))
            db = math.sqrt(sum(x * x for x in b))
            return sum(x * y for x, y in zip(a, b)) / (da * db)

        for cid, members in by_cluster.items():
            for m in members:
                prior = [x for x in members if x < m]
                expect = prior and round(
                    max(cos(vec[m], vec[p]) for p in prior), 6
                ) >= 0.9
                assert bool(expect) == got[m].is_dup, (cid, m)

    def test_id_minimum_null_prior(self, spark):
        rows = [(10, [1.0, 0.0]), (11, [1.0, 0.001])]
        got = self._run(spark, rows, n_clusters=1, threshold=0.99)
        assert got[10].max_prior_sim is None
        assert got[11].is_dup

    def test_threshold_validation(self, spark):
        from etl_tools_rs_spark.operators.similarity import semdedup

        df = spark.createDataFrame([(1, [1.0])], ["vec_id", "embedding"])
        with pytest.raises(ValueError):
            semdedup(df, [[0]], "embedding", threshold=0.0)

    def test_max_cluster_size_validation(self, spark):
        from etl_tools_rs_spark.operators.similarity import semdedup

        df = spark.createDataFrame([(1, [1.0])], ["vec_id", "embedding"])
        with pytest.raises(ValueError):
            semdedup(df, [[0]], "embedding", max_cluster_size=0)

    def test_max_cluster_size_bounds_tasks_on_mega_cluster(self, spark):
        """VERDICT r3 task #2: 10k near-identical embeddings collapse into
        one k-means cell; with max_cluster_size=500 the cell salt-splits
        into ceil(10000/500)=20 id-hashed shards, so no single task's
        matmul sees the whole cluster. Each shard keeps exactly one
        representative (its id-minimum) — everything else is near-identical
        so it must be marked dup."""
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.similarity import semdedup

        n, cap = 10_000, 500
        base = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.lit(1.0),
                (F.col("id") % 97).cast("double") / 1e7,  # tiny jitter
                F.lit(0.0),
            ).alias("embedding"),
        )
        base, centroids = _exact_clusters(base, 1, iterations=1)
        out = semdedup(
            base, centroids, "_q6", threshold=0.99, max_cluster_size=cap
        ).collect()
        assert len(out) == n
        n_shards = -(-n // cap)  # 20
        keepers = [r for r in out if not r.is_dup]
        # one keeper per NON-EMPTY shard: > 1 proves the split happened,
        # <= n_shards proves within-shard dedup is still exact
        assert 1 < len(keepers) <= n_shards
        # the per-task bound itself: recompute the shard assignment with
        # the same expression and pin the max group size well under n
        from etl_tools_rs_spark.operators.sketch import kmv_hash

        sizes = (
            base.select(
                F.pmod(kmv_hash(F.col("vec_id")), F.lit(n_shards)).alias("s")
            )
            .groupBy("s")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
        assert sizes <= 2 * cap  # hash variance, never the whole cluster

    def test_max_cluster_size_noop_under_cap(self, spark):
        """A cap no cluster reaches must not change any verdict (the gate
        corpus runs with a high cap — this pins the equivalence)."""
        import random

        rng = random.Random(11)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)
        ]
        uncapped = self._run(spark, rows, n_clusters=3, threshold=0.9)
        capped = self._run(
            spark, rows, n_clusters=3, threshold=0.9, max_cluster_size=10**6
        )
        assert set(uncapped) == set(capped)
        for k in uncapped:
            a, b = uncapped[k], capped[k]
            assert (a.cluster, a.max_prior_sim, a.is_dup) == (
                b.cluster, b.max_prior_sim, b.is_dup
            ), k

    def test_oracle_parity_with_cap_engaged(self, spark):
        """VERDICT r7 task #2 done-bar: run the gate-entry pipeline on a
        corpus whose clusters EXCEED max_cluster_size and show the DuckDB
        oracle (with the md5-family shard split replicated in SQL) agrees
        with the operator verdict-for-verdict — the r7 whole-cluster
        oracle would have spuriously failed here."""
        import random

        import duckdb
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        from etl_tools_rs_spark.operators.similarity import (
            kmeans_centroids_exact,
            quantize_vec,
            semdedup,
        )
        from etl_tools_rs_spark.queries import _semdedup_exact_oracle_sql

        rng = random.Random(19)
        dim, n, cap = 4, 60, 8
        # two far-apart blobs with heavy within-blob correlation so both
        # k-means cells land well over the cap and near-dups exist
        rows = []
        for i in range(n):
            center = [5.0, 0, 0, 0] if i % 2 == 0 else [0, 5.0, 0, 0]
            rows.append(
                (i, [c + rng.uniform(-1, 1) for c in center])
            )
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        )
        df = spark.createDataFrame(rows, schema)
        emb = df.withColumn("_q6", quantize_vec(F.col("embedding")))
        centroids = kmeans_centroids_exact(
            emb, 2, "_q6", "vec_id", iterations=2
        )
        out = semdedup(
            emb, centroids, "_q6", threshold=0.9, max_cluster_size=cap
        ).collect()
        # the split must actually engage
        from collections import Counter

        sizes = Counter(r.cluster for r in out)
        assert max(sizes.values()) > cap
        # per-shard keepers: strictly more than one keeper per cluster
        keepers = Counter(r.cluster for r in out if not r.is_dup)
        assert any(v > 1 for v in keepers.values())

        con = duckdb.connect()
        con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding DOUBLE[])")
        # feed DuckDB the float32-rounded values Spark actually holds
        con.executemany(
            "INSERT INTO embeddings VALUES (?, ?)",
            [(r.vec_id, list(r.embedding)) for r in df.collect()],
        )
        sql = _semdedup_exact_oracle_sql(
            n_clusters=2, iterations=2, threshold=0.9,
            max_cluster_size=cap, dim=dim,
        )
        duck = {r[0]: r for r in con.execute(sql).fetchall()}
        assert set(duck) == {r.vec_id for r in out}
        for r in sorted(out, key=lambda r: r.vec_id):
            d = duck[r.vec_id]
            assert r.cluster == d[1], r.vec_id
            if r.max_prior_sim is None:
                assert d[2] is None, r.vec_id
            else:
                assert abs(r.max_prior_sim - d[2]) < 1e-9, r.vec_id
            assert bool(r.is_dup) == bool(d[3]), r.vec_id


class TestConnectivityOnly:
    """The r6 dup-collapse: full pair expansion vs the reduced edge set
    must agree on clusters, and the reduced set must actually be small."""

    def _df(self, spark):
        # 3 exact-dup groups (two of them near-dups of each other),
        # plus singletons, with ids interleaved so min-id anchors are
        # non-trivial
        rows = (
            [(i, "alpha doc") for i in (5, 1, 9, 22)]
            + [(i, "alpha dox") for i in (3, 17)]       # 1 edit from above
            + [(i, "omega") for i in (8, 2, 30)]
            + [(40, "unrelated string"), (41, "another one")]
        )
        return spark.createDataFrame(rows, "wid long, w string")

    def test_same_components_and_fewer_edges(self, spark):
        from etl_tools_rs_spark.operators.dedup import connected_components

        df = self._df(spark)
        full = fuzzy.fuzzy_self_pairs(df, "w", "wid", max_distance=1)
        red = fuzzy.fuzzy_self_pairs(
            df, "w", "wid", max_distance=1, connectivity_only=True
        )
        fp, rp = pairs_of(full), pairs_of(red)
        # reduced edges ⊆ full pairs, with exact distances
        assert {(a, b) for a, b, _ in rp} <= {(a, b) for a, b, _ in fp}
        assert len(rp) < len(fp)
        comp_full = {
            (r.member_id, r.group_id)
            for r in connected_components(full, "id_a", "id_b").collect()
        }
        comp_red = {
            (r.member_id, r.group_id)
            for r in connected_components(red, "id_a", "id_b").collect()
        }
        assert comp_full == comp_red

    def test_full_pairs_match_naive(self, spark):
        """The collapsed expansion reproduces the theta-join contract on
        a dup-heavy corpus (every id pair, exact distances)."""
        df = self._df(spark)
        naive = {
            (min(r.a, r.b), max(r.a, r.b), r.d)
            for r in fuzzy.fuzzy_join_naive(
                df.selectExpr("wid AS a", "w AS wa"),
                df.selectExpr("wid AS b", "w AS wb"),
                "wa", "wb", 1,
            ).selectExpr("a", "b", "distance AS d").collect()
            if r.a < r.b
        }
        got = pairs_of(fuzzy.fuzzy_self_pairs(df, "w", "wid", max_distance=1))
        assert got == naive


class TestGiantComponentCC:
    """r6 hardening: DISK_ONLY checkpoints + the Catalyst origin-
    constraint workaround (connected_components docstring)."""

    def _graph(self, spark, n):
        base = spark.range(n)
        chain = base.filter(f"id < {n - 1}").select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        rnd = base.select(
            F.col("id").alias("id_a"),
            ((F.col("id") * F.lit(2654435761) + 1) % n).alias("id_b"),
        )
        return chain.union(rnd)

    def test_filtered_union_input_plan(self, spark):
        """Regression pin for the Spark 4.1 UnionBase.rewriteConstraints
        crash (`key not found: v#N`): LogicalRDD preserves the origin
        plan's constraints through localCheckpoint with STALE attribute
        ids, and the star rounds' u↔v-swapped self-union dies rewriting
        them. connected_components must survive a filtered-union edge
        plan — exactly the shape that reproduced it."""
        from etl_tools_rs_spark.operators.dedup import connected_components

        flag = "spark.sql.constraintPropagation.enabled"
        before = spark.conf.get(flag)
        comp = connected_components(self._graph(spark, 2000), "id_a", "id_b")
        agg = comp.agg(
            F.countDistinct("group_id").alias("g"), F.count("*").alias("n")
        ).collect()[0]
        assert (agg.g, agg.n) == (1, 2000)
        assert spark.conf.get(flag) == before  # restored after the fix

    @pytest.mark.slow
    def test_single_giant_component_1m_edges(self, spark):
        """One corpus-spanning component (the web-crawl boilerplate
        shape that OOM'd the r5 fixpoint at sf3): 500k nodes / ~1M
        edges, single component, completes under the suite's default
        memory. The full-size proof (10M edges, 4g driver, 214s) is
        recorded in SCALE.md."""
        from etl_tools_rs_spark.operators.dedup import connected_components

        n = 500_000
        comp = connected_components(
            self._graph(spark, n), "id_a", "id_b", max_iterations=30
        )
        agg = comp.agg(
            F.countDistinct("group_id").alias("g"),
            F.count("*").alias("n"),
            F.min("group_id").alias("mg"),
        ).collect()[0]
        assert (agg.g, agg.n, agg.mg) == (1, n, 0)


def test_capped_key_report_observability(spark):
    """r7 (ADVICE): the max_key_candidates cap must be observable —
    capped_key_report surfaces exactly the hot keys where the salt/drop
    degrade engages, and is empty on corpora where the exact theorem
    holds."""
    # 60 near-identical strings -> one mega variant key family
    hot = spark.createDataFrame(
        [(i, f"aaaa{i % 3}") for i in range(60)], "wid long, w string"
    )
    rep = fuzzy.capped_key_report(
        hot.select(F.col("w").alias("lw")),
        hot.select(F.col("w").alias("rw")),
        "lw", "rw", max_distance=1, max_key_candidates=100,
    )
    rows = rep.collect()
    assert rows, "hot corpus must surface capped keys"
    assert rep.columns == [
        "key", "n_left", "n_right", "candidate_product", "shards_per_side"
    ]
    assert all(r.candidate_product > 100 for r in rows)
    assert all(r.shards_per_side >= 2 for r in rows)

    # healthy corpus: distinct strings, no hot key at a generous cap
    cold = spark.createDataFrame(
        [(i, f"word-{i:04d}x") for i in range(40)], "wid long, w string"
    )
    rep2 = fuzzy.capped_key_report(
        cold.select(F.col("w").alias("lw")),
        cold.select(F.col("w").alias("rw")),
        "lw", "rw", max_distance=1, max_key_candidates=250_000,
    )
    assert rep2.count() == 0


def test_inline_cap_observation_salt_fires_on_hot_corpus(spark):
    """r8 (ADVICE r6 / VERDICT r7 #5): the cap metric must fire FROM THE
    RUN ITSELF (zero extra jobs) — salted_key_rows > 0 on a hot-key
    corpus, with pairs still a subset of the exact answer."""
    from pyspark.sql import Observation

    # 60 DISTINCT strings all sharing deletion-variant key "ab" (the
    # distinct-collapse can't cool this corpus): occupancy 60x60 >> cap
    hot = spark.createDataFrame(
        [(i, f"{chr(33 + i)}ab") for i in range(60)], "wid long, w string"
    )
    obs = Observation("cap")
    out = fuzzy.fuzzy_self_pairs(
        hot, "w", "wid", max_distance=1, max_key_candidates=10,
        cap_observation=obs,
    )
    out.collect()
    got = obs.get
    assert got["salted_key_rows"] > 0
    assert got["max_shards_per_side"] >= 2
    assert got["probe_key_rows"] >= got["salted_key_rows"]


def test_inline_cap_observation_zero_on_gate_corpus(spark):
    """On the real gate corpus (sf0.001 customer names, the
    fuzzy_name_pairs_capped entry's inputs and cap) the metric must read
    ZERO — the exact no-false-negative theorem held."""
    import os

    from pyspark.sql import Observation

    path = "/root/testdata/sf0.001/customer.parquet"
    if not os.path.exists(path):
        import pytest

        pytest.skip("gate testdata not present")
    cust = spark.read.parquet(path).select("c_custkey", "c_name")
    obs = Observation("cap-gate")
    out = fuzzy.fuzzy_self_pairs(
        cust, "c_name", "c_custkey", max_distance=1,
        max_key_candidates=250_000, cap_observation=obs,
    )
    out.count()
    got = obs.get
    assert got["salted_key_rows"] == 0
    assert got["max_shards_per_side"] == 1


def test_inline_cap_observation_drop_counts_dropped_rows(spark):
    """Drop policy: dropped_key_rows counts the hot-key rows removed,
    and the observed plan's answer equals the unobserved one."""
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [(i, f"bb{i % 2}") for i in range(20)]
        + [(100 + i, f"word-{i:03d}") for i in range(5)],
        "wid long, w string",
    )
    obs = Observation("cap-drop")
    observed = fuzzy.fuzzy_self_pairs(
        df, "w", "wid", max_distance=1, max_key_candidates=5,
        oversize_policy="drop", cap_observation=obs,
    )
    plain = fuzzy.fuzzy_self_pairs(
        df, "w", "wid", max_distance=1, max_key_candidates=5,
        oversize_policy="drop",
    )
    got_rows = sorted((r.id_a, r.id_b, r.distance) for r in observed.collect())
    assert got_rows == sorted(
        (r.id_a, r.id_b, r.distance) for r in plain.collect()
    )
    got = obs.get
    assert got["dropped_key_rows"] > 0


def test_inline_cap_observation_zero_not_null_on_no_hot_keys(spark):
    """r9 (ADVICE r8): the documented contract is 'zero first metric =>
    the cap never engaged' — when probe rows exist but NO key is hot the
    observed sums must read exactly 0 (coalesced), never NULL, for both
    policies."""
    from pyspark.sql import Observation

    cold = spark.createDataFrame(
        [(i, f"word-{i:04d}x") for i in range(12)], "wid long, w string"
    )
    obs_salt = Observation("cap-cold-salt")
    fuzzy.fuzzy_self_pairs(
        cold, "w", "wid", max_distance=1, max_key_candidates=250_000,
        cap_observation=obs_salt,
    ).collect()
    got = obs_salt.get
    assert got["salted_key_rows"] == 0 and got["salted_key_rows"] is not None
    assert got["max_shards_per_side"] == 1
    assert got["probe_key_rows"] > 0

    obs_drop = Observation("cap-cold-drop")
    fuzzy.fuzzy_self_pairs(
        cold, "w", "wid", max_distance=1, max_key_candidates=250_000,
        oversize_policy="drop", cap_observation=obs_drop,
    ).collect()
    got = obs_drop.get
    assert got["dropped_key_rows"] == 0 and got["dropped_key_rows"] is not None
    assert got["probe_key_rows"] > 0


def test_inline_cap_observation_empty_input_is_caller_guarded(spark):
    """On an EMPTY input Spark's empty-relation propagation eliminates
    the CollectMetrics node, so the observation never fires: the RESULT
    is still correct (empty), but reading the metrics raises — the
    documented caller-guard caveat."""
    from pyspark.sql import Observation

    empty = spark.createDataFrame([], "wid long, w string")
    obs = Observation("cap-empty")
    out = fuzzy.fuzzy_self_pairs(
        empty, "w", "wid", max_distance=1, max_key_candidates=10,
        cap_observation=obs,
    )
    assert out.collect() == []
    with pytest.raises(Exception):
        obs.get
