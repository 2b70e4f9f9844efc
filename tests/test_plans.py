"""Plan-shape tests: pin the physical-plan properties that matter at
100 TB so regressions fail at unit-test scale (SURVEY §7.4 posture).

Each assertion is a scale invariant: pushdown reached the scan, the small
side broadcast, no Python eval snuck into a JVM-only pipeline."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_tools_rs_spark.plans.inspect import plan_report
from etl_tools_rs_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reports(spark):
    cache: dict[str, object] = {}

    def get(name: str):
        if name not in cache:
            cache[name] = plan_report(REGISTRY[name].fn(spark, SF_DIR), execute=True)
        return cache[name]

    return get


def test_q1_pushdown_and_pruning(reports):
    rep = reports("q1_pricing_summary")
    # the shipdate filter must reach the parquet scan
    assert any("l_shipdate" in p for p in rep.pushed_filters)
    # column pruning: the scan reads only the 7 needed columns
    assert rep.scan_reads_only(
        {
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        }
    )
    assert not rep.has_python_udf
    assert rep.wholestage_codegen_stages >= 1


def test_q5_dimension_joins_broadcast(reports):
    rep = reports("q5_local_supplier")
    # dimension joins must broadcast — a shuffled nation/region join is the
    # classic 1000-executor bottleneck
    assert rep.has_broadcast_join
    assert not rep.has_python_udf


def test_q3_filters_pushed(reports):
    rep = reports("q3_shipping_priority")
    assert any("o_orderdate" in p for p in rep.pushed_filters)
    assert any("l_shipdate" in p for p in rep.pushed_filters)


def test_topk_no_global_sort(spark):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-partition
    # top-k + driver merge), never a full global sort
    df = REGISTRY["topk_orders"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_t1_transform_stays_jvm(reports):
    rep = reports("t1_transform")
    assert not rep.has_python_udf
    assert any("l_discount" in p or "l_quantity" in p for p in rep.pushed_filters)


def test_text_analyze_stays_jvm(reports):
    # the whole text-analysis surface is column expressions — no Python
    rep = reports("text_analyze")
    assert not rep.has_python_udf


def test_knn_brute_broadcasts_queries(reports):
    rep = reports("knn_cosine_brute")
    # queries are the small side and must broadcast (corpus never shuffles
    # for scoring; only the top-k rank shuffles by query id)
    assert "BroadcastNestedLoopJoin" in rep.text or rep.has_broadcast_join


def test_j1_theta_join_is_broadcast_nlj(spark):
    # at sf-test scale the right side fits: Catalyst should pick a
    # broadcast strategy for the theta join, not a cartesian shuffle
    df = REGISTRY["j1_left_theta_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_events_sessionize_single_shuffle(spark):
    # lag + groupBy share the user_id partitioning: exactly one exchange
    # (AQE may add read-stage nodes; count real shuffle exchanges)
    df = REGISTRY["events_sessionize"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_bucketed_join_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the join key ⇒ the equi-join plans with ZERO
    exchanges — the co-located-join contract BucketedTableSink exists for."""
    import re

    from etl_tools_rs_spark.sinks.files import BucketedTableSink

    a = spark.createDataFrame([(i, f"a{i}") for i in range(100)], "k int, av string")
    b = spark.createDataFrame([(i, i * 2) for i in range(100)], "k int, bv int")
    BucketedTableSink("bt_a", bucket_by=["k"], num_buckets=4).write(a)
    BucketedTableSink("bt_b", bucket_by=["k"], num_buckets=4).write(b)
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        assert joined.count() == 100
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_range_join_is_equi_join_not_nested_loop(spark):
    # the bucketized decomposition must plan as a hash/sort-merge EQUI join
    # — a raw inequality join would appear as BNLJ/CartesianProduct and die
    # at scale
    df = REGISTRY["range_join_order_pairs"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_hash_split_is_narrow(spark):
    # split assignment is a pure projection: zero exchanges, zero Python
    import re

    from etl_tools_rs_spark.operators.sample import hash_split

    df = spark.createDataFrame([(i,) for i in range(10)], "id int")
    out = hash_split(df, "id", {"train": 0.8, "test": 0.2})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange", plan)) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_sketch_stays_jvm(spark):
    df = REGISTRY["kmv_distinct_users"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_stays_jvm(spark):
    df = REGISTRY["winnow_fingerprint"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q19_broadcasts_part(spark):
    df = REGISTRY["q19_disjunctive_predicates"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_simhash_near_dup_is_equi_join(spark):
    df = REGISTRY["simhash_near_dup_pairs"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_gram_level_joins(spark):
    # contamination check joins at the GRAM level and anti-joins ids —
    # never a document-level cross product
    df = REGISTRY["decontaminate_corpus"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_single_data_shuffle(spark):
    # the repartition(id) up front must satisfy the window/distinct/groupBy
    # clustering requirements: gram-hash rows (100-1000x wider than the
    # texts) never shuffle. Allowed exchanges: the id repartition itself
    # plus the small-file round-robin guard from load_tables.
    df = REGISTRY["winnow_fingerprint"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"\bExchange\b", plan)) <= 2


def test_count_min_single_shuffle_jvm_only(spark):
    df = REGISTRY["count_min_user_events"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # probe joins the broadcast sketch — never a shuffled join
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_tfidf_broadcasts_idf(spark):
    df = REGISTRY["tfidf_documents"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # term->idf and 1-row N both broadcast


def test_boilerplate_lines_broadcast_anti_join(spark):
    df = REGISTRY["remove_boilerplate_lines"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the common-line set joins back as a broadcast anti join, preserving
    # the repartition(id) clustering for the partition-local reassembly
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_upsert_single_window_shuffle(spark):
    import re

    df = REGISTRY["upsert_order_snapshot"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # base/update pre-windows + merge window all hash-partition on
    # o_custkey: one exchange per scan branch, reused through the union
    assert len(re.findall(r"\bExchange\b", plan)) <= 2


def test_join_strategy_hints_reach_physical_plan(spark):
    """strategy= must actually steer the planner: shuffle_hash yields a
    ShuffledHashJoin, merge a SortMergeJoin, for the same tiny join that
    would otherwise broadcast."""
    import pytest
    from pyspark.sql import functions as F

    from etl_tools_rs_spark.operators.join import join

    left = spark.range(1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    right = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))

    plan_sh = join(left, right, ["k"], strategy="shuffle_hash")._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_sh

    plan_m = join(left, right, ["k"], strategy="merge")._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_m

    with pytest.raises(ValueError, match="strategy"):
        join(left, right, ["k"], strategy="hash")


def test_round2_op_plan_shapes(spark):
    """Shuffle-count + no-cartesian pins for the round-2 operators: these
    shapes are what keep them viable at 100 TB, so regressions fail here."""
    from pyspark.sql import functions as F

    from etl_tools_rs_spark.operators.incremental import agg_state, refresh
    from etl_tools_rs_spark.operators.index import bm25_search
    from etl_tools_rs_spark.operators.text import bigram_pmi
    from etl_tools_rs_spark.plans.inspect import plan_report

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} tok{i % 5}") for i in range(100)],
        "doc_id bigint, text string",
    )
    rows = spark.createDataFrame(
        [(i % 5, float(i)) for i in range(100)], "k int, v double"
    )

    # PMI: two count aggregates + stat joins; corpus totals broadcast, no cartesian blowup
    pmi = plan_report(bigram_pmi(docs, "text", min_count=1))
    assert "CartesianProduct" not in pmi.text
    # unigram/bigram aggs + global totals; unigram stats broadcast, never SMJ
    assert pmi.num_exchanges <= 6
    assert not pmi.has_sortmerge_join
    assert not pmi.has_python_udf

    # BM25: tf/df aggregates + broadcast stat joins only
    bm = plan_report(bm25_search(docs, ["tok1", "tok2"]))
    assert "CartesianProduct" not in bm.text
    assert not bm.has_python_udf

    # incremental refresh: history agg + delta agg + one merge re-agg -> <= 3 exchanges
    st = agg_state(rows.filter(F.col("v") < 50), ["k"], {"n": ("count", "*")})
    rf = plan_report(refresh(st, rows.filter(F.col("v") >= 50), ["k"], {"n": ("count", "*")}))
    assert rf.num_exchanges <= 3
    assert not rf.has_python_udf


def test_scd2_single_key_shuffle(spark):
    import re

    df = REGISTRY["scd2_user_event_type"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # change-flag window, run aggregate, and valid_to lead all cluster on
    # user_id: ONE data exchange (AQE may add read stages, not data moves)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "CartesianProduct" not in plan


def test_rolling_zscore_single_shuffle_jvm_only(spark):
    import re

    df = REGISTRY["rolling_zscore_user_value"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one user_id window carrying all three trailing sums; no Python
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_no_cartesian_broadcast_teleport(spark, monkeypatch):
    from etl_tools_rs_spark.operators import graph
    from etl_tools_rs_spark.session import load_tables

    # every frame pagerank materializes goes through graph._cp, and the
    # returned plan starts at the last round's checkpoint: record each
    # frame's plan before it is checkpointed
    cp = graph._cp
    seen = []
    monkeypatch.setattr(graph, "_cp", lambda df: seen.append(df) or cp(df))
    t = load_tables(spark, SF_DIR, ("orders", "lineitem"))
    edges = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    graph.pagerank(edges, iterations=2)
    plans = [d._jdf.queryExecution().executedPlan().toString() for d in seen]
    # edges, nodes, degree-joined edges, then one rank frame per round
    assert len(plans) == 3 + 2
    # node-count teleport term joins back as a broadcast 1-row frame;
    # contribution joins are hash equi-joins — never a cartesian
    assert not any("CartesianProduct" in p for p in plans)
    for plan in plans[3:]:
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_cooccurrence_shares_group_partitioning(spark):
    import re

    from etl_tools_rs_spark.operators.graph import cooccurrence_pairs

    df = spark.range(1000).selectExpr("id % 100 g", "CAST(id % 37 AS STRING) i")
    plan = (
        cooccurrence_pairs(df, "g", "i", min_count=2, max_group_size=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # every exchange is g- or pair-keyed (bounded count); the quadratic
    # risk — an all-pairs nested loop — must never appear
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 6
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_jaccard_no_cartesian(spark):
    from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        prefix_jaccard_pairs(df, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # candidate generation and verification are hash equi-joins on the
    # shingle / id keys — never an all-pairs nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


class TestScaleAuditDetectors:
    """The sweep tool's detectors (tools/scale_audit.py) must actually
    fire on known-bad plan shapes and stay quiet on the sanctioned
    scalar-broadcast fold."""

    def _flags(self, df):
        import json as _json
        import sys

        sys.path.insert(0, ".")
        from tools.scale_audit import _build_tree, audit_plan

        qe = df._jdf.queryExecution()
        tree = _build_tree(_json.loads(qe.sparkPlan().toJSON()))
        return audit_plan(tree, qe.sparkPlan().toString())

    def test_single_partition_window_fires(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        df = spark.range(100).select(
            F.col("id"), F.sum("id").over(Window.orderBy("id")).alias("c")
        )
        assert self._flags(df)["single_partition_window"]

    def test_scalar_broadcast_fold_not_flagged(self, spark):
        from pyspark.sql import functions as F

        base = spark.range(100)
        stats = base.agg(F.sum("id").alias("s"))
        df = base.crossJoin(F.broadcast(stats)).select(
            (F.col("id") / F.col("s")).alias("share")
        )
        flags = self._flags(df)
        assert not flags["bnl_join"]

    def test_nonscalar_cross_join_flagged(self, spark):
        a = spark.range(50)
        b = spark.range(40).withColumnRenamed("id", "id2")
        flags = self._flags(a.crossJoin(b))
        assert flags["bnl_join"] or flags["cartesian"]

    def test_broadcast_above_generate_fires(self, spark):
        """r6 detector: a broadcast whose subtree contains an explode is
        the r5 fuzzy mis-plan shape (Catalyst's Generate stats are its
        CHILD's size — the fan-out is invisible to the broadcast
        decision). The same join with a shuffle hint must not flag."""
        from pyspark.sql import functions as F

        keys = spark.range(100).select(
            F.explode(F.array(F.col("id"), F.col("id") + 1)).alias("k")
        )
        probe = spark.range(1000).withColumnRenamed("id", "k")
        flagged = self._flags(probe.join(F.broadcast(keys), "k"))
        assert flagged["broadcast_above_generate"]
        clean = self._flags(probe.join(keys.hint("shuffle_hash"), "k"))
        assert not clean["broadcast_above_generate"]
        # aggregate-bounded build (vocab-sized df frame above an
        # explode) is the documented broadcast contract — no advisory
        agg = keys.groupBy("k").count()
        bounded = self._flags(probe.join(F.broadcast(agg), "k"))
        assert not bounded["broadcast_above_generate"]


def test_quantile_sketch_ungrouped_is_take_ordered(spark):
    """Ungrouped bottom-k sketch must plan as TakeOrderedAndProject —
    per-partition bottom-k + driver merge, never a global sort."""
    from etl_tools_rs_spark.operators.sketch import quantile_sketch

    df = spark.range(10_000).selectExpr(
        "cast(id as string) AS k", "cast(id as double) AS v"
    )
    plan = (
        quantile_sketch(df, "v", "k", k=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_cap_per_group_single_shuffle(spark):
    """Per-group cap costs exactly one exchange (the group-key window)."""
    import re

    from etl_tools_rs_spark.operators.sample import cap_per_group

    df = spark.range(1_000).selectExpr(
        "cast(id % 7 as string) AS g", "cast(id as string) AS k"
    )
    plan = (
        cap_per_group(df, ["g"], 10, "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_heavy_hitters_no_python_row_udf(spark):
    """The MG pass must be Arrow-batched (MapInPandas), never
    row-at-a-time BatchEvalPython."""
    from etl_tools_rs_spark.operators.sketch import heavy_hitters

    df = spark.range(1_000).selectExpr("cast(id % 9 as string) AS v")
    plan = (
        heavy_hitters(df, "v", k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


_R7_PINNED = [
    # registry queries whose candidate join is fed by a row-multiplying
    # Generate and carries an r7 shuffle_hash pin (operator-level) — the
    # broadcast_above_generate class that mis-planned fuzzy_join at r5.
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "simhash_near_dup_pairs",
    "negative_sample_documents",
    "salted_join_revenue",
    "range_join_order_pairs",
    "overlap_join_orders",
]


@pytest.mark.parametrize("qname", _R7_PINNED)
def test_pinned_explode_joins_never_broadcast(spark, qname):
    """r7 pin: every explode-fed candidate join must plan as a SHUFFLED
    hash join — Catalyst sizes a Generate as its child, so a broadcast
    here rests on a structurally understated estimate (the r5 fuzzy
    mis-plan: an 8.5M-row exploded frame broadcast at sf3). These
    queries' operators pin ``shuffle_hash`` per-site; the sweep audit
    (tools/scale_audit.py) now treats the marker as FATAL, and this test
    keeps the pins from being dropped without tripping the audit too."""
    import json as _json
    import sys

    sys.path.insert(0, ".")
    from tools.scale_audit import _build_tree, audit_plan

    qe = REGISTRY[qname].fn(spark, SF_DIR)._jdf.queryExecution()
    plan_str = qe.sparkPlan().toString()
    flags = audit_plan(_build_tree(_json.loads(qe.sparkPlan().toJSON())), plan_str)
    assert not flags["broadcast_above_generate"], qname
    assert "ShuffledHashJoin" in plan_str, qname


def test_readability_and_script_detect_are_narrow(spark):
    # per-document signals must never pay a DATA exchange or Python eval
    # — one codegen projection over the scan. load_tables inserts one
    # RoundRobin repartition to spread the tiny documents scan across
    # cores (CPU-heavy narrow ops); that load-time exchange is the only
    # one allowed, and nothing may shuffle BY KEY.
    for name in ("readability_documents", "script_detect_documents"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        rep = plan_report(df)
        assert rep.num_exchanges <= 1, (name, rep.text)
        assert "hashpartitioning" not in rep.text.lower(), name
        assert not rep.has_python_udf, name


def test_wordpiece_round_jobs_have_no_cartesian(spark):
    # the per-round scored frame: pair counts joined to both symbol-count
    # sides — equi-joins only, never a cartesian/BNLJ, and the pair and
    # symbol aggregates are map-side combined (partial before exchange)
    from etl_tools_rs_spark.operators.bpe import bpe_word_counts
    from etl_tools_rs_spark.operators.wordpiece import _wp_syms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    vocab = bpe_word_counts(docs, "text").select(
        _wp_syms(F.col("word")).alias("syms"), "freq"
    )
    n = F.size(F.col("syms"))
    pairs = (
        vocab.select(
            "freq",
            F.explode(
                F.when(
                    n >= 2,
                    F.zip_with(
                        F.slice(F.col("syms"), 1, n - 1),
                        F.slice(F.col("syms"), 2, n - 1),
                        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            ).alias("p"),
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("freq").alias("n_ab"))
    )
    syms = (
        vocab.select("freq", F.explode("syms").alias("s"))
        .groupBy("s")
        .agg(F.sum("freq").alias("n_s"))
    )
    scored = pairs.join(
        syms.select(F.col("s").alias("l"), F.col("n_s").alias("n_l")), "l"
    ).join(syms.select(F.col("s").alias("r"), F.col("n_s").alias("n_r")), "r")
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan  # map-side combine on the aggregates


def test_minhash_table_explode_stays_inline_no_inferred_ngrams_filter(spark):
    """r10 mhonce-regression pin: minhash_table over a raw corpus must
    keep the shingle explode INLINE (Generate over the ngrams
    expression). Projecting the shingle array first makes the generator
    a plain attribute, and InferFiltersFromGenerate then pushes a
    size/notnull filter BELOW the projection where it re-evaluates the
    interpreted ngrams expression twice more per row (measured 2.6-9x
    slower on every md5-family consumer at sf0.1). The optimized plan of
    the correct shape is Aggregate <- Generate <- Scan with NO Filter
    node at all."""
    from etl_tools_rs_spark.operators.dedup import minhash_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for family in ("md5", "xxhash64"):
        plan = (
            minhash_table(docs, num_hashes=4, hash_family=family)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "Filter" not in plan, plan
        # the generator is the ngrams expression itself, not an attribute
        assert "Generate explode(CASE WHEN" in plan, plan


def test_knn_lsh_plane_dots_folded_once(spark):
    """knn_cosine_lsh (6 tables × 4 planes) folds each plane dot once per
    side: T·P on the corpus side, T·P in the query side's first
    projection (buckets and probes read them as columns), plus the 3
    folds of the rerank cosine — 2·T·P + 3 = 51 ``aggregate`` folds in
    the optimized plan. Re-inlining the query-side dots into the probe
    expression multiplies the count (the Column-API build carried 195)."""
    df = REGISTRY["knn_cosine_lsh"].fn(spark, SF_DIR)
    # projection lists past maxToStringFields print as "... N more fields"
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "more field" not in plan
    assert plan.count("aggregate(") == 2 * 6 * 4 + 3, plan.count("aggregate(")


def test_near_dup_stream_evaluates_band_udf_once(spark):
    """near_dup_stream's Python band UDF (16 md5 hashes per shingle) runs
    once per incoming row: the physical plan over a parquet input has
    exactly one ArrowEvalPython node. With a plain explode, Spark infers
    a size/notnull filter on the band array and pushes it below the
    projection, which evaluates the UDF a second time."""
    from etl_tools_rs_spark.streaming.ops import (
        near_dup_stream,
        near_dup_stream_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = near_dup_stream_index(docs.filter("doc_id < 50"))
    plan = (
        near_dup_stream(docs, idx)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan
