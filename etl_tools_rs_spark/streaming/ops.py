"""Streaming operators: watermarked windows, sessionization, stateful
per-key processing, and multi-sink fan-out.

The reference's streaming model is arrival-ordered channels with
backpressure only — no watermarks, event-time windows, or late-data
handling exist there (SURVEY §2.7). These are the engine's native
Structured Streaming extensions:

- ``windowed_agg``: tumbling/sliding event-time windows + watermark (late
  rows beyond the watermark are dropped, state is bounded);
- ``sessionize``: gap-based session windows (``session_window``) — the
  streaming twin of the batch ``events_sessionize`` query;
- ``stateful_counts``: arbitrary per-key running state via
  ``applyInPandasWithState`` (the custom-stateful-operator escape hatch);
- ``run_available_now``: drain-everything-then-stop execution, the batch
  parity mode used by tests and backfills;
- ``foreach_batch_sinks``: one stream, N sinks per micro-batch (the
  streaming analogue of the splitter P2).

Scale posture: watermarks bound state size; key-partitioned state scales
with executors; ``availableNow`` backfills reuse the same query code as
the live stream.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_agg(
    stream: DataFrame,
    time_col: str,
    watermark: str,
    window: str,
    keys: list[str],
    aggs: list[Column],
    slide: str | None = None,
) -> DataFrame:
    """Event-time windowed aggregation with a watermark.

    One shuffle on (window, keys); state per open window is dropped once
    the watermark passes, so memory is bounded by (watermark / window) ×
    |keys| regardless of stream length."""
    w = F.window(time_col, window, slide) if slide else F.window(time_col, window)
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(w.alias("window"), *keys)
        .agg(*aggs)
    )


def sessionize(
    stream: DataFrame,
    time_col: str,
    watermark: str,
    gap: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Gap-based session windows (30-min-inactivity style). State closes
    when the watermark passes a session's gap — bounded like windowed_agg."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("session"), *keys)
        .agg(*aggs)
    )


def stateful_counts(
    stream: DataFrame,
    keys: list[str],
    timeout_duration: str = "NO_TIMEOUT",
) -> DataFrame:
    """Custom stateful operator: per-key running count maintained across
    micro-batches via applyInPandasWithState (Arrow-batched, executor-side
    state store). The template for arbitrary user state machines."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ", ".join(f"{k} string" for k in keys) + ", total long"
    state_schema = "total long"

    def fn(
        key: tuple, pdfs: Iterable["pd.DataFrame"], state: GroupState
    ) -> Iterable["pd.DataFrame"]:
        n = sum(len(p) for p in pdfs)
        (total,) = state.get if state.exists else (0,)
        total += n
        state.update((total,))
        yield pd.DataFrame(
            {**{k: [key[i]] for i, k in enumerate(keys)}, "total": [total]}
        )

    timeout = getattr(GroupStateTimeout, timeout_duration, GroupStateTimeout.NoTimeout)
    return stream.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", timeout
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    horizon: str,
    watermark: str,
) -> DataFrame:
    """Stream-stream inner join: pair each left row with right rows of the
    same key whose event time falls in ``[left_time, left_time +
    horizon]`` — the impression→click / order→event attribution join.

    Both sides carry watermarks and the join condition time-bounds the
    match window, which is exactly what lets Structured Streaming EVICT
    buffered state: each side holds at most watermark + horizon of data
    per key. Without the time bound a stream-stream join buffers forever.
    One shuffle per side on the key (standard streaming symmetric hash
    join).
    """
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = (
        (lw[on] == rw[right_on])
        & (rw[right_time] >= lw[left_time])
        & (rw[right_time] <= F.expr(f"{left_time} + INTERVAL {horizon}"))
    )
    return lw.join(rw, cond, "inner")


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    time_col: str,
    watermark: str,
) -> DataFrame:
    """Streaming exact dedup: drop rows repeating ``keys`` within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the streaming
    twin of the batch ``dedup_exact`` operator.

    State holds one entry per distinct key seen inside the horizon and is
    evicted once the watermark passes, so memory is bounded by key
    cardinality per horizon — the property plain ``dropDuplicates`` on a
    stream lacks (its state grows forever). Duplicates separated by more
    than the watermark interval are NOT caught; that is the documented
    trade for bounded state. Use the fingerprint column (functions.
    fingerprint) as the key for content-dedup of documents."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def curation_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    watermark: str = "10 minutes",
    allowed_langs: tuple[str, ...] = ("en",),
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    max_dup_word_frac: float = 0.6,
    max_top_word_frac: float = 0.12,
) -> DataFrame:
    """Streaming twin of the batch curation funnel
    (operators/curation.py::curation_flags): lang-ID and Gopher-quality
    stages are the SAME stateless column expressions (they compose on
    streams untouched); the canonical-dedup stage becomes keep-FIRST-
    ARRIVAL per content fingerprint within the watermark horizon
    (``dropDuplicatesWithinWatermark``). Streaming trades the batch
    min-id canonical for arrival-order canonical with bounded state —
    and the filters run UPSTREAM of the stateful dedup, so state holds
    one fingerprint per surviving (not raw) document inside the horizon.
    Emits only kept rows, with the quality signal columns attached."""
    from etl_tools_rs_spark.functions import fingerprint
    from etl_tools_rs_spark.operators.text import gopher_filter, lang_id

    flagged = gopher_filter(
        stream,
        text_col,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        max_dup_word_frac=max_dup_word_frac,
        max_top_word_frac=max_top_word_frac,
    ).withColumn("lang_pred", lang_id(text_col))
    surv = flagged.filter(
        F.col("lang_pred").isin(*allowed_langs) & F.col("keep")
    ).drop("keep")
    deduped = dedup_stream(
        surv.withColumn("_fp", fingerprint(text_col)),
        keys=["_fp"],
        time_col=time_col,
        watermark=watermark,
    )
    return deduped.drop("_fp")


def run_available_now(
    stream: DataFrame,
    checkpoint: str,
    query_name: str = "engine_stream",
    output_mode: str | None = None,
) -> None:
    """Drain all available input, then stop — batch-parity execution for
    tests/backfills. Results land in the in-memory table ``query_name``.
    ``output_mode`` overrides the default (update for a streaming frame):
    session-window aggregations require append/complete, and in append
    mode windowed aggregations emit only watermark-closed windows."""
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode or ("update" if stream.isStreaming else "append"))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_sinks(
    stream: DataFrame,
    sinks: list[Callable[[DataFrame, int], Any]],
    checkpoint: str,
) -> "Any":
    """One stream, N sinks: every micro-batch is persisted once and handed
    to each sink callable — the streaming splitter (reference P2) without
    the lock-step coupling. Exactly-once per sink requires idempotent
    writes keyed on (batch_id)."""

    def _dispatch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(_dispatch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def enrich_stream(
    stream: DataFrame,
    static: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes (user
    profile, experiment arm, geo of a key) to a stream. The static side
    is re-read per micro-batch (so a dim refresh is picked up without a
    restart) and broadcast when it fits — no stream-side shuffle, no
    state: unlike a stream-stream join this never buffers.

    Stream-static supports inner and left-outer with the stream on the
    left (Structured Streaming's rule, enforced here). At scale, keep the
    static side a compact pre-aggregated table — it is scanned every
    micro-batch.
    """
    if how not in ("inner", "left"):
        raise ValueError("stream-static joins support how='inner'|'left' only")
    return stream.join(F.broadcast(static), on, how)


def ema_stream(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    time_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-key exponential moving average maintained across micro-batches
    — one fixed (ema, n) struct per key, state bounded regardless of
    stream length; the shuffle is the standard per-key state partitioning.

    Rows are folded in ``time_col`` order within each batch
    (``ema ← α·v + (1−α)·ema``). Emits one ``(keys…, ema double,
    n_seen long)`` row per key per micro-batch — ``update`` semantics,
    last row wins. Runs as ``applyInPandasWithState`` with the
    ``(ema, n_seen)`` tuple as the group state.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha!r}")
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ", ".join(f"{k} string" for k in keys) + ", ema double, n_seen long"

    def fold_state(
        key: tuple, pdfs: Iterable["pd.DataFrame"], state: GroupState
    ) -> Iterable["pd.DataFrame"]:
        ema, n = state.get if state.exists else (None, 0)
        # a key's batch may arrive as several Arrow chunks — concatenate
        # BEFORE sorting so the fold order is the batch's global time
        # order, not per-chunk order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks).sort_values(time_col)
            for v in whole[value_col]:
                if v is None or pd.isna(v):
                    continue
                v = float(v)
                ema = v if ema is None else alpha * v + (1.0 - alpha) * ema
                n += 1
        state.update((ema, n))
        yield pd.DataFrame(
            {
                **{k: [key[i]] for i, k in enumerate(keys)},
                "ema": [ema],
                "n_seen": [n],
            }
        )

    return stream.groupBy(*keys).applyInPandasWithState(
        fold_state,
        out_schema,
        "ema double, n_seen long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming near-dup against a persisted LSH index (r7)
# ---------------------------------------------------------------------------


def near_dup_stream_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The DENORMALIZED stream-lookup form of the LSH index
    (lsh_index.py::minhash_band_index keeps the narrow persistable
    form): one row per (band, bucket) per doc, each row carrying the
    doc's FULL band array and distinct shingle set. The denormalization
    is what makes the streaming lookup completely stateless — candidate
    dedup (first-shared-band) and exact-Jaccard verification both
    evaluate row-locally on the joined row, so the stream side needs no
    aggregation, no watermark, no state store. md5 hash family
    throughout so the whole pipeline is oracle-portable.

    At 100 TB: rows = bands × corpus, carrying ~shingle-set payload —
    partition/bucket by ``bucket`` on write so the per-micro-batch
    equi-join co-locates; the width is the price of statelessness and
    is read back only for CANDIDATE rows (bucket equi-join prunes
    first)."""
    from etl_tools_rs_spark.functions import ngrams
    from etl_tools_rs_spark.operators.dedup import _band_bucket, minhash_table

    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rpb = num_hashes // bands
    # aggregate-based signature (explode → groupBy MIN): codegen +
    # map-side combine, and the _h columns land as PHYSICAL attributes —
    # the HOF form would re-evaluate the whole signature expression once
    # per band reference after projection collapse (measured 75s vs ~3s
    # for the sf0.1 corpus)
    sig = minhash_table(corpus, text_col, id_col, num_hashes, shingle_n, "md5")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _band_bucket(b, rpb, "md5").alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    sh = corpus.select(
        F.col(id_col),
        F.array_distinct(ngrams(F.col(text_col), shingle_n)).alias(
            "old_shingles"
        ),
    )
    return (
        sig.select(F.col(id_col), band_structs.alias("old_bands"))
        .join(sh, id_col)
        .select(
            F.col(id_col).alias("old_id"),
            F.explode("old_bands").alias("_bb"),
            "old_bands",
            "old_shingles",
        )
        .select(
            "old_id",
            F.col("_bb.band").alias("band"),
            F.col("_bb.bucket").alias("bucket"),
            "old_bands",
            "old_shingles",
        )
    )


def _md5_band_udf(num_hashes: int, bands: int):
    """Arrow-batched (shingle array → band array) for the STREAM side:
    hashlib md5 is bit-identical to Spark's md5() on UTF-8 strings, and
    the Python eval node MATERIALIZES its output, so the 16-hash
    signature is computed exactly once per row — the pure-expression HOF
    form re-evaluates it per band reference after projection collapse.
    Zero-shingle docs return [] (dropped downstream, the same contract
    as minhash_table's explode)."""
    import hashlib

    rpb = num_hashes // bands

    @F.pandas_udf("array<struct<band:int,bucket:string>>")
    def _bands(shingles: pd.Series) -> pd.Series:
        def one(arr):
            if arr is None or len(arr) == 0:
                return []
            sig = [
                min(
                    hashlib.md5(f"{i}:{s}".encode()).hexdigest()
                    for s in arr
                )
                for i in range(num_hashes)
            ]
            return [
                {
                    "band": b,
                    "bucket": hashlib.md5(
                        "|".join(sig[b * rpb:(b + 1) * rpb]).encode()
                    ).hexdigest(),
                }
                for b in range(bands)
            ]

        return shingles.map(one)

    return _bands


def near_dup_stream(
    stream_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """STREAMING near-dup lookup: which incoming documents duplicate the
    indexed corpus (the daily-crawl / live-ingest production shape —
    intra-delta pairs are the batch op's job,
    lsh_index.py::incremental_near_dup).

    Completely STATELESS: the stream side shingles each document, then
    minhashes and bands it in one Arrow UDF pass (evaluated once per
    row), explodes its bands,
    equi-joins the static denormalized index on (band, bucket), keeps
    each candidate pair exactly once WITHOUT a distinct — a pair is kept
    only on its lexicographically-first shared band
    (``struct(band,bucket) == array_min(array_intersect(new_bands,
    old_bands))`` — both full band arrays ride the joined row) — and
    verifies exact set-Jaccard row-locally from the two shingle arrays.
    No aggregation ⇒ append mode, no watermark, state-free; identical
    rows to the batch new-vs-old arm by construction."""
    from etl_tools_rs_spark.functions import ngrams
    from etl_tools_rs_spark.operators.dedup import shingle_jaccard

    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    base = stream_docs.select(
        F.col(id_col).alias("new_id"),
        F.array_distinct(ngrams(F.col(text_col), shingle_n)).alias("new_shingles"),
    )
    banded = (
        base.withColumn(
            "new_bands",
            _md5_band_udf(num_hashes, bands)(F.col("new_shingles")),
        )
        # explode_outer + a null filter on the element, not explode: for
        # explode, Spark infers a size(new_bands) > 0 filter and pushes it
        # below the projection, which evaluates _bands a second time per
        # row. Zero-shingle docs ([] bands) yield one null element here
        # and are dropped by the filter, as explode drops them.
        .select(
            "new_id",
            F.explode_outer("new_bands").alias("_bb"),
            "new_bands",
            "new_shingles",
        )
        .filter(F.col("_bb").isNotNull())
        .select(
            "new_id",
            F.col("_bb.band").alias("band"),
            F.col("_bb.bucket").alias("bucket"),
            "new_bands",
            "new_shingles",
        )
    )
    joined = banded.join(index, ["band", "bucket"]).filter(
        F.col("new_id") != F.col("old_id")
    )
    first_shared = F.array_min(
        F.array_intersect(F.col("new_bands"), F.col("old_bands"))
    )
    jacc = shingle_jaccard(F.col("new_shingles"), F.col("old_shingles"))
    return (
        # null-safe: the banded row shares this (band, bucket) with the
        # index row, so first_shared is never null and <=> keeps exactly
        # the == rows; a null-intolerant == would let Spark infer an
        # isnotnull(new_bands) filter and push it below the projection,
        # evaluating _bands a second time per row
        joined.filter(
            F.struct(F.col("band"), F.col("bucket")).eqNullSafe(first_shared)
        )
        .filter(jacc >= F.lit(threshold))  # raw ratio gates (oracle parity)
        .select(
            F.col("new_id").alias("id_a"),
            F.col("old_id").alias("id_b"),
            F.round(jacc, 4).alias("jaccard"),
        )
    )
