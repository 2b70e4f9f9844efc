"""Structured Streaming surface: file stream → watermarked windows /
sessions / stateful counts → memory or foreachBatch sinks, drained with
availableNow (deterministic, no wall-clock waits)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from etl_tools_rs_spark.streaming import ops, sources


@pytest.fixture()
def event_dir(tmp_path):
    """Two ndjson files of timestamped events, one late row."""
    rows = [
        {"user": "u1", "ts": "2024-01-01 10:00:10", "v": 1},
        {"user": "u1", "ts": "2024-01-01 10:00:50", "v": 2},
        {"user": "u2", "ts": "2024-01-01 10:01:10", "v": 3},
        {"user": "u1", "ts": "2024-01-01 10:03:30", "v": 4},
        {"user": "u2", "ts": "2024-01-01 10:03:40", "v": 5},
        {"user": "u1", "ts": "2024-01-01 10:59:00", "v": 6},  # closes all windows
    ]
    d = tmp_path / "events"
    d.mkdir()
    (d / "a.ndjson").write_text("\n".join(json.dumps(r) for r in rows[:3]) + "\n")
    (d / "b.ndjson").write_text("\n".join(json.dumps(r) for r in rows[3:]) + "\n")
    return str(d)


def _stream(spark, event_dir):
    raw = sources.file_stream(
        spark, event_dir, format="json", schema="user string, ts string, v int"
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def test_windowed_agg_with_watermark(spark, event_dir, tmp_path):
    stream = _stream(spark, event_dir)
    agg = ops.windowed_agg(
        stream,
        time_col="ts",
        watermark="10 minutes",
        window="1 minute",
        keys=["user"],
        aggs=[F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v")],
    )
    ops.run_available_now(agg, str(tmp_path / "ck1"), "win_agg", output_mode="append")
    got = {
        (r.user, r.window.start.strftime("%H:%M")): (r.n, r.sum_v)
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    # closed windows: u1@10:00 has v=1,2; u2@10:01 has v=3; 10:03 pair
    assert got[("u1", "10:00")] == (2, 3)
    assert got[("u2", "10:01")] == (1, 3)
    assert got[("u1", "10:03")] == (1, 4)
    assert got[("u2", "10:03")] == (1, 5)


def test_sessionize_stream(spark, event_dir, tmp_path):
    stream = _stream(spark, event_dir)
    sess = ops.sessionize(
        stream,
        time_col="ts",
        watermark="10 minutes",
        gap="2 minutes",
        keys=["user"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    ops.run_available_now(sess, str(tmp_path / "ck2"), "sessions", output_mode="append")
    rows = spark.sql("SELECT user, n_events FROM sessions").collect()
    counts = sorted((r.user, r.n_events) for r in rows)
    # u1: [10:00:10, 10:00:50] then [10:03:30] (10:59 not closed? it is —
    # final watermark passes);  u2: [10:01:10] [10:03:40] merge? gap>2min →
    # separate sessions
    assert ("u1", 2) in counts
    assert counts.count(("u2", 1)) == 2


def test_stateful_counts(spark, event_dir, tmp_path):
    stream = _stream(spark, event_dir)
    counted = ops.stateful_counts(stream, keys=["user"])
    ops.run_available_now(counted, str(tmp_path / "ck3"), "running")
    # state accumulates across micro-batches; the last update per key holds
    # the final total (u1: 4 events, u2: 2)
    rows = spark.sql(
        "SELECT user, max(total) AS total FROM running GROUP BY user"
    ).collect()
    got = {r.user: r.total for r in rows}
    assert got == {"u1": 4, "u2": 2}


def test_foreach_batch_sinks(spark, event_dir, tmp_path):
    stream = _stream(spark, event_dir)
    seen_a: list[int] = []
    seen_b: list[int] = []
    q = ops.foreach_batch_sinks(
        stream,
        sinks=[
            lambda df, bid: seen_a.append(df.count()),
            lambda df, bid: seen_b.append(df.filter(F.col("v") > 3).count()),
        ],
        checkpoint=str(tmp_path / "ck4"),
    )
    q.awaitTermination()
    assert sum(seen_a) == 6
    assert sum(seen_b) == 3
    assert len(seen_a) == len(seen_b)  # same micro-batches hit both sinks


def test_rate_stream_is_streaming(spark):
    df = sources.rate_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_dedup_stream_drops_repeats_within_watermark(spark, tmp_path):
    rows = [
        {"k": "a", "ts": "2024-01-01 10:00:00", "v": 1},
        {"k": "a", "ts": "2024-01-01 10:00:30", "v": 2},  # dup within horizon
        {"k": "b", "ts": "2024-01-01 10:01:00", "v": 3},
        {"k": "b", "ts": "2024-01-01 10:01:10", "v": 4},  # dup within horizon
        {"k": "c", "ts": "2024-01-01 10:59:00", "v": 5},
    ]
    d = tmp_path / "dups"
    d.mkdir()
    (d / "a.ndjson").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    raw = sources.file_stream(
        spark, str(d), format="json", schema="k string, ts string, v int"
    )
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    out = ops.dedup_stream(stream, keys=["k"], time_col="ts", watermark="10 minutes")
    ops.run_available_now(out, str(tmp_path / "ck_dd"), "dedup_out", output_mode="append")
    got = sorted((r.k, r.v) for r in spark.sql("SELECT k, v FROM dedup_out").collect())
    # first arrival per key survives; within-watermark repeats dropped
    assert got == [("a", 1), ("b", 3), ("c", 5)]


def test_interval_join_streams_attribution(spark, tmp_path):
    imps = [
        {"ad": "a1", "its": "2024-01-01 10:00:00"},
        {"ad": "a2", "its": "2024-01-01 10:05:00"},
    ]
    clicks = [
        {"cad": "a1", "cts": "2024-01-01 10:03:00"},   # within 5 min of a1
        {"cad": "a1", "cts": "2024-01-01 10:30:00"},   # beyond horizon
        {"cad": "a2", "cts": "2024-01-01 10:04:00"},   # BEFORE the impression
        {"cad": "a2", "cts": "2024-01-01 10:06:00"},   # within
        {"cad": "a2", "cts": "2024-01-01 11:30:00"},   # advances watermark
    ]
    di, dc = tmp_path / "imps", tmp_path / "clicks"
    di.mkdir(), dc.mkdir()
    (di / "i.ndjson").write_text("\n".join(json.dumps(r) for r in imps) + "\n")
    (dc / "c.ndjson").write_text("\n".join(json.dumps(r) for r in clicks) + "\n")
    left = sources.file_stream(
        spark, str(di), format="json", schema="ad string, its string"
    ).withColumn("its", F.col("its").cast("timestamp"))
    right = sources.file_stream(
        spark, str(dc), format="json", schema="cad string, cts string"
    ).withColumn("cts", F.col("cts").cast("timestamp"))
    joined = ops.interval_join_streams(
        left, right, on="ad", right_on="cad",
        left_time="its", right_time="cts",
        horizon="5 minutes", watermark="10 minutes",
    )
    ops.run_available_now(joined, str(tmp_path / "ck_ij"), "attributed", output_mode="append")
    got = sorted(
        (r.ad, r.cts.strftime("%H:%M"))
        for r in spark.sql("SELECT ad, cts FROM attributed").collect()
    )
    assert got == [("a1", "10:03"), ("a2", "10:06")]


def test_enrich_stream_static_broadcast(spark, tmp_path):
    from etl_tools_rs_spark.streaming.ops import enrich_stream, run_available_now

    src = str(tmp_path / "stream_src")
    spark.range(100).select(
        (F.col("id") % 10).alias("user_id"), F.col("id").alias("v")
    ).write.json(src)
    dim = spark.range(10).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("tier_"), (F.col("id") % 3).cast("string")).alias("tier"),
    )
    stream = spark.readStream.schema("user_id long, v long").json(src)
    enriched = enrich_stream(stream, dim, "user_id")
    assert enriched.isStreaming
    run_available_now(enriched, str(tmp_path / "ck"), query_name="t_enrich")
    rows = spark.table("t_enrich").collect()
    assert len(rows) == 100
    assert all(r["tier"] is not None for r in rows)
    with pytest.raises(ValueError):
        enrich_stream(stream, dim, "user_id", how="full")


def test_batch_text_ops_compose_on_streams(spark, tmp_path):
    """The batch text-quality operators are plain column transforms, so
    the SAME functions run unchanged on a streaming frame — the code-reuse
    contract that makes the batch/streaming split a deployment choice."""
    from etl_tools_rs_spark.operators.text import gopher_filter
    from etl_tools_rs_spark.streaming.ops import run_available_now

    src = str(tmp_path / "docs_src")
    good = " ".join(f"token{i:03d}" for i in range(80))
    spark.createDataFrame(
        [(1, good), (2, "x x x x x x x x x x")],
        "doc_id: long, text: string",
    ).write.json(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    flagged = gopher_filter(stream, "text")
    assert flagged.isStreaming
    run_available_now(flagged, str(tmp_path / "ck2"), query_name="t_flags")
    rows = {r["doc_id"]: r["keep"] for r in spark.table("t_flags").collect()}
    assert rows[1] is True and rows[2] is False


def test_incremental_agg_state_maintained_by_stream(spark, tmp_path):
    """Cross-layer composition: the BATCH incremental-agg operator
    (operators/incremental.py) is the foreachBatch maintenance function
    of a streaming pipeline — each micro-batch folds into a parquet
    state table, and the final state equals a full batch recompute.
    This is how a 100 TB running aggregate is actually maintained: the
    stream only ever aggregates the new files."""
    from etl_tools_rs_spark.operators import incremental as inc
    from etl_tools_rs_spark.streaming import sources

    src = tmp_path / "inc_src"
    src.mkdir()
    state_path = str(tmp_path / "inc_state")
    measures = {"n": ("count", "*"), "total": ("sum", "v")}

    rows_a = [{"k": i % 3, "v": i} for i in range(50)]
    rows_b = [{"k": i % 3, "v": i * 2} for i in range(50, 90)]
    (src / "a.ndjson").write_text("\n".join(json.dumps(r) for r in rows_a) + "\n")
    (src / "b.ndjson").write_text("\n".join(json.dumps(r) for r in rows_b) + "\n")

    stream = sources.file_stream(
        spark, str(src), format="json", schema="k int, v int",
        max_files_per_trigger=1,  # force one micro-batch per file
    )

    def maintain(batch_df, batch_id):
        try:
            state = batch_df.sparkSession.read.parquet(state_path)
        except Exception:
            state = None
        inc.refresh(state, batch_df, ["k"], measures).write.mode(
            "overwrite"
        ).parquet(state_path + "__next")
        # swap: read is from the committed path only after full write
        out = batch_df.sparkSession.read.parquet(state_path + "__next")
        out.write.mode("overwrite").parquet(state_path)

    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    full = spark.createDataFrame(
        [(r["k"], r["v"]) for r in rows_a + rows_b], "k int, v int"
    )
    expect = {
        r["k"]: (r["n"], r["total"])
        for r in inc.agg_state(full, ["k"], measures).collect()
    }
    got = {
        r["k"]: (r["n"], r["total"])
        for r in spark.read.parquet(state_path).collect()
    }
    assert got == expect


def test_validation_rules_on_streams_via_foreach_batch(spark, tmp_path):
    """Batch validation rules run unchanged inside foreachBatch — the
    streaming ingest gate: each micro-batch is checked against the same
    declarative rules, violations accumulate to a quarantine log."""
    from etl_tools_rs_spark.operators import validate as v
    from etl_tools_rs_spark.streaming import sources

    src = tmp_path / "vsrc"
    src.mkdir()
    rows_ok = [{"k": i, "s": "x"} for i in range(10)]
    rows_bad = [{"k": None, "s": "y"}, {"k": 5, "s": None}]
    (src / "a.ndjson").write_text(
        "\n".join(json.dumps(r) for r in rows_ok + rows_bad) + "\n"
    )

    stream = sources.file_stream(spark, str(src), format="json", schema="k int, s string")
    seen = []

    def gate(batch_df, batch_id):
        out = v.validate(batch_df, [v.not_null("k"), v.not_null("s")])
        seen.extend((r["rule"], r["violations"]) for r in out.collect())

    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "vckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert dict(seen) == {"not_null_k": 1, "not_null_s": 1}


def test_session_windows_match_batch_sessionize(spark, tmp_path):
    """Streaming session_window sessions == batch assign_sessions islands
    (same 30-min gap): per-user session counts and event totals agree."""
    import datetime as dt

    import pyspark.sql.functions as F

    from etl_tools_rs_spark.operators.events import assign_sessions
    from etl_tools_rs_spark.streaming.ops import run_available_now, sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in (1, 2):
        # two bursts separated by > 30 min -> exactly 2 sessions per user
        for k in range(3):
            rows.append((u, t0 + dt.timedelta(minutes=k)))
        for k in range(2):
            rows.append((u, t0 + dt.timedelta(minutes=90 + k)))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    src = str(tmp_path / "events_parquet")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    sess = sessionize(
        stream, "ts", watermark="1 hour", gap="30 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).cast("bigint").alias("n_events")],
    )
    run_available_now(
        sess, str(tmp_path / "ckpt"), "t_sessions", output_mode="complete"
    )
    got = (
        spark.table("t_sessions")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.sum("n_events").alias("n_events"))
        .collect()
    )
    batch = (
        assign_sessions(df, gap_seconds=1800)
        .groupBy("user_id")
        .agg(F.countDistinct("session_idx").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert {(r.user_id, r.n_sessions, r.n_events) for r in got} == {
        (r.user_id, r.n_sessions, r.n_events) for r in batch
    } == {(1, 2, 5), (2, 2, 5)}


def test_round3_column_ops_compose_on_streams(spark, tmp_path):
    """char_stats and leakage_safe_split are stateless column ops — they
    must run unchanged on a streaming frame (deployment-mode split, not a
    code split)."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_tools_rs_spark.operators.sample import leakage_safe_split
    from etl_tools_rs_spark.operators.text import char_stats

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.ndjson").write_text(
        "\n".join(
            _json.dumps({"doc_id": i, "text": f"streaming document {i}"})
            for i in range(6)
        )
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    cs = char_stats("text")
    out = leakage_safe_split(
        stream.withColumn("entropy", cs["char_entropy"]),
        {"train": 0.5, "test": 0.5},
        "text",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("r3_stream_ops")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select * from r3_stream_ops").collect()
    assert len(rows) == 6
    assert all(r.entropy > 0 for r in rows)
    assert all(r.split in ("train", "test") for r in rows)


def test_ema_stream_folds_across_micro_batches(spark, tmp_path):
    """Per-key EMA state carries across micro-batches: the final value
    equals the batch fold of the same rows in time order."""
    rows_a = [
        {"user": "u1", "ts": "2024-01-01 10:00:00", "v": 10.0},
        {"user": "u1", "ts": "2024-01-01 10:01:00", "v": 20.0},
        {"user": "u2", "ts": "2024-01-01 10:00:30", "v": 5.0},
    ]
    rows_b = [
        {"user": "u1", "ts": "2024-01-01 10:02:00", "v": 40.0},
        {"user": "u2", "ts": "2024-01-01 10:03:00", "v": 15.0},
    ]
    d = tmp_path / "ema_events"
    d.mkdir()
    (d / "a.ndjson").write_text("\n".join(json.dumps(r) for r in rows_a) + "\n")
    (d / "b.ndjson").write_text("\n".join(json.dumps(r) for r in rows_b) + "\n")
    # FileStreamSource orders batches by modification time — pin it so the
    # cross-batch fold order is deterministic
    os.utime(d / "a.ndjson", (1_700_000_000, 1_700_000_000))
    os.utime(d / "b.ndjson", (1_700_000_600, 1_700_000_600))

    raw = sources.file_stream(
        spark,
        str(d),
        format="json",
        schema="user string, ts string, v double",
        max_files_per_trigger=1,  # force >= 2 micro-batches
    )
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    ema = ops.ema_stream(
        stream, keys=["user"], value_col="v", time_col="ts", alpha=0.5
    )
    ops.run_available_now(ema, str(tmp_path / "ck_ema"), "ema_out")
    rows = spark.sql(
        "SELECT user, ema, n_seen FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY user ORDER BY n_seen DESC) AS rn FROM ema_out"
        ") WHERE rn = 1"
    ).collect()
    got = {r.user: (r.ema, r.n_seen) for r in rows}
    # u1: 10 -> .5*20+.5*10=15 -> .5*40+.5*15=27.5 ; u2: 5 -> 10
    assert got["u1"] == (27.5, 3)
    assert got["u2"] == (10.0, 2)


def test_ema_stream_validates_alpha(spark):
    import pytest as _pytest

    df = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError):
        ops.ema_stream(df, ["value"], "value", "timestamp", alpha=0.0)


def test_curation_stream_matches_batch_funnel(spark, tmp_path):
    """Streaming curation twin: stateless stages behave exactly as batch
    curation_flags; the dedup stage keeps the FIRST arrival per content
    fingerprint (= batch min-id canonical when ids follow arrival
    order)."""
    good = ("the quick brown fox jumps over a lazy dog and many other "
            "animals wander through green fields while birds sing "
            "quietly above distant hills during early morning light "
            "bringing fresh air for everyone around here today")
    rows = [
        {"doc_id": 1, "text": good, "ts": "2024-01-01 10:00:00"},
        # exact dup under fingerprint normalization -> dropped by dedup
        {"doc_id": 2, "text": good.upper(), "ts": "2024-01-01 10:00:10"},
        # fails quality (too short)
        {"doc_id": 3, "text": "tiny doc", "ts": "2024-01-01 10:00:20"},
        # fails lang (German markers)
        {"doc_id": 4, "text": "der die das und nicht ist " * 8,
         "ts": "2024-01-01 10:00:30"},
        # distinct survivor
        {"doc_id": 5, "text": good + " extra unique tail",
         "ts": "2024-01-01 10:00:40"},
    ]
    d = tmp_path / "curation_docs"
    d.mkdir()
    (d / "a.ndjson").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    raw = sources.file_stream(
        spark, str(d), format="json",
        schema="doc_id long, text string, ts string",
    )
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    out = ops.curation_stream(stream, watermark="10 minutes")
    assert out.isStreaming
    ops.run_available_now(out, str(tmp_path / "ck_cur"), "curation_out", output_mode="append")
    kept = sorted(
        r.doc_id for r in spark.sql("SELECT doc_id FROM curation_out").collect()
    )
    assert kept == [1, 5]

    # batch parity: same corpus through the batch funnel keeps the same ids
    from etl_tools_rs_spark.operators.curation import curation_flags

    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    batch_kept = sorted(
        r.doc_id for r in curation_flags(batch).filter("keep").collect()
    )
    assert batch_kept == kept


def test_near_dup_stream_matches_incremental_new_vs_old(spark, tmp_path):
    """Streaming near-dup lookup: the stateless stream stage over a
    denormalized index must produce EXACTLY the batch incremental
    new-vs-old pairs (same md5 family, same verify), both when run as a
    batch frame and when drained from a real file stream."""
    from etl_tools_rs_spark.operators.lsh_index import (
        incremental_near_dup,
        minhash_band_index,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base.replace("pi", "phi")},  # near-dup of 1
        {"doc_id": 3, "text": "totally different words entirely here "
                              "nothing shared with anything else at all"},
        {"doc_id": 4, "text": "too short"},                 # zero shingles
        # delta side
        {"doc_id": 10, "text": base},                       # dup of 1 (and 2)
        {"doc_id": 11, "text": "unique snowflake content with zero overlap "
                               "whatsoever in any shingle of any kind"},
        {"doc_id": 12, "text": "too short"},                # zero shingles
    ]
    old = spark.createDataFrame([r for r in rows if r["doc_id"] < 10])
    new = spark.createDataFrame([r for r in rows if r["doc_id"] >= 10])

    # batch reference: incremental new-vs-old arm (md5 family)
    narrow = minhash_band_index(old, hash_family="md5")
    pairs, _ = incremental_near_dup(
        narrow, old, new, threshold=0.5, hash_family="md5"
    )
    old_ids = {1, 2, 3, 4}
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in pairs.collect()
        if r.id_b in old_ids and r.id_a >= 10
    }
    assert any(a == 10 for a, _, _ in want)  # the dup must be found
    assert not any(a == 12 for a, _, _ in want)  # zero-shingle docs: no rows

    idx = ops.near_dup_stream_index(old)

    # batch-frame run of the SAME stateless stage
    got_batch = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ops.near_dup_stream(new, idx, threshold=0.5).collect()
    }
    assert got_batch == want

    # filtered file-backed input: filters inferred on the band UDF's
    # output can land next to the scan, and the UDF must still be
    # extracted from them (an ngrams form whose window lambda read an
    # outer lambda variable failed here when explode's inferred
    # size/notnull filter did)
    src = tmp_path / "ndp_parquet"
    spark.createDataFrame(rows).write.parquet(str(src))
    filtered = spark.read.parquet(str(src)).filter("doc_id >= 10")
    got_filtered = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ops.near_dup_stream(filtered, idx, threshold=0.5).collect()
    }
    assert got_filtered == want

    # real stream drain
    d = tmp_path / "ndp_docs"
    d.mkdir()
    (d / "delta.ndjson").write_text(
        "\n".join(json.dumps(r) for r in rows if r["doc_id"] >= 10) + "\n"
    )
    stream = sources.file_stream(
        spark, str(d), format="json", schema="doc_id long, text string"
    )
    out = ops.near_dup_stream(stream, idx, threshold=0.5)
    assert out.isStreaming
    ops.run_available_now(out, str(tmp_path / "ck_ndp"), "ndp_out", output_mode="append")
    got_stream = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.sql("SELECT * FROM ndp_out").collect()
    }
    assert got_stream == want


def test_near_dup_stream_validates_bands(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        ops.near_dup_stream_index(df, num_hashes=16, bands=5)
    with pytest.raises(ValueError):
        ops.near_dup_stream(df, df, num_hashes=16, bands=5)
