"""End-to-end example: the INCREMENTAL daily-crawl lifecycle the r5/r6
operators were built for, as resumable JobRunner steps.

A 100 TB near-dup pipeline never re-shingles the corpus: it keeps a
persisted LSH band index and scores each day's delta against it. This
example runs that lifecycle over two "days" of deltas (the two-delta
induction the equivalence law promises), then selects the curated
training set and packs shards:

  1. ``bootstrap``   — day-0 corpus → persisted band index
     (``lsh_index.minhash_band_index``) + corpus store;
  2. ``delta_day1``  — score day-1 docs against the index
     (``incremental_near_dup``, O(delta) work): new docs near-dupping an
     OLD doc are dropped (the archive wins), new-vs-new clusters keep
     their highest-token-count member (``keep_best_per_group``);
     survivors append to the corpus store, band rows to the index;
  3. ``delta_day2``  — same, against the UPDATED index — the induction
     step: state from day 1 must make day 2 exact;
  3b. ``retention``  — r8: the freshness sweep — docs crawled before
     the retention cutoff leave BOTH stores (``expire_index`` derives
     the expired ids from the corpus store's crawl dates and evicts
     their band rows with one broadcast anti-join — no rebuild);
  4. ``live_lookup`` — r7: the LIVE-ingest twin — stream incoming docs
     against a denormalized lookup index (``near_dup_stream``,
     stateless, availableNow) so archive re-crawls flag before they
     land in a delta;
  5. ``dsir_select`` — fit DSIR on the curated target slice (driver-
     sized integer model), Gumbel-top-k importance-resample the live
     corpus to the training budget;
  6. ``shards``      — content-addressed training shards + manifest.

Every step is a JobRunner command: re-running the script skips all six
via persisted job state (the reference's O3 idempotency semantics).

Run:  python examples/incremental_crawl_pipeline.py [workdir] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


# gate-family hashing so behavior matches the value-checked registry twin
LSH = dict(num_hashes=16, bands=4, shingle_n=3, threshold=0.5,
           hash_family="md5")


def main(workdir: str | None = None, sf_dir: str | None = None) -> int:
    from etl_tools_rs_spark.jobs.runner import JobRunner
    from etl_tools_rs_spark.functions import token_count
    from etl_tools_rs_spark.operators.dedup import (
        connected_components,
        keep_best_per_group,
    )
    from etl_tools_rs_spark.operators.dsir import dsir_sample
    from etl_tools_rs_spark.operators.lsh_index import (
        incremental_near_dup,
        minhash_band_index,
    )
    from etl_tools_rs_spark.session import get_spark
    from etl_tools_rs_spark.sinks.shards import write_training_shards
    from etl_tools_rs_spark.sinks.simple_store import SimpleStore

    work = workdir or tempfile.mkdtemp(prefix="incremental_crawl_")
    sf = sf_dir or "/root/testdata/sf0.001"
    spark = get_spark("incremental-crawl-example", shuffle_partitions=8)

    jr = JobRunner(
        "example-7", "incremental-crawl", SimpleStore(f"{work}/state"),
        max_errors=0, stop_on_error=True,
    )
    docs = spark.read.parquet(f"{sf}/documents.parquet").withColumn(
        # synthetic crawl date (the documents table has no timestamp):
        # deterministic per doc, spread over a 30-day window so the
        # retention sweep has a real age distribution to cut
        "crawl_date",
        F.date_add(
            F.lit("2026-01-01").cast("date"),
            (F.col("doc_id") % 30).cast("int"),
        ),
    )
    # three "days" of crawl: ids are globally unique and disjoint by
    # construction (the incremental contract — a re-crawl is a new id)
    day = F.col("doc_id") % 3

    def bootstrap(_jr):
        day0 = docs.filter(day == 0)
        day0.write.mode("overwrite").parquet(f"{work}/corpus")
        idx = minhash_band_index(
            day0, "text", "doc_id",
            num_hashes=LSH["num_hashes"], bands=LSH["bands"],
            shingle_n=LSH["shingle_n"], hash_family=LSH["hash_family"],
        )
        # real deployments bucket this by `bucket` for co-located joins
        idx.write.mode("overwrite").parquet(f"{work}/index")
        return day0.count()

    n_day0 = jr.run_cmd("bootstrap", bootstrap)

    def run_delta(tag: int):
        """One day's O(delta) cycle against the persisted state."""
        corpus = spark.read.parquet(f"{work}/corpus")
        index = spark.read.parquet(f"{work}/index")
        delta = docs.filter(day == tag)
        pairs, new_index = incremental_near_dup(
            index, corpus, delta, "text", "doc_id",
            num_hashes=LSH["num_hashes"], bands=LSH["bands"],
            shingle_n=LSH["shingle_n"], threshold=LSH["threshold"],
            hash_family=LSH["hash_family"],
        )
        pairs = pairs.localCheckpoint(eager=True)  # pair set reused 3×
        old_ids = corpus.select("doc_id")
        # archive wins: a new doc near-dupping ANY old doc is dropped
        vs_old = pairs.join(
            old_ids, pairs["id_b"] == old_ids["doc_id"], "left_semi"
        ).select(F.col("id_a").alias("doc_id")).distinct()
        # new-vs-new clusters keep their best (highest-token) member
        nn = pairs.join(
            old_ids, pairs["id_b"] == old_ids["doc_id"], "left_anti"
        )
        groups = connected_components(nn, "id_a", "id_b")
        slim = delta.withColumn(
            "n_tok", token_count("text").cast("bigint")
        )
        best = keep_best_per_group(slim, groups, "n_tok").drop(
            "n_tok", "n_merged"
        )
        survivors = best.join(vs_old, "doc_id", "left_anti")
        survivors.write.mode("append").parquet(f"{work}/corpus")
        # index rows persist for EVERY new doc (dropped dups included):
        # tomorrow's crawl must near-dup against what was seen, not
        # only what was kept
        new_index.write.mode("overwrite").parquet(f"{work}/index_next")
        spark.read.parquet(f"{work}/index_next").write.mode(
            "overwrite"
        ).parquet(f"{work}/index")
        return {
            "delta": delta.count(),
            "pairs": pairs.count(),
            "dropped_vs_old": vs_old.count(),
            "kept": survivors.count(),
        }

    d1 = jr.run_cmd("delta_day1", lambda _jr: run_delta(1))
    d2 = jr.run_cmd("delta_day2", lambda _jr: run_delta(2))

    def retention(_jr):
        # r8: the freshness sweep — everything crawled before the cutoff
        # leaves both stores. expire_index derives the expired ids from
        # the CORPUS store (one pruned scan; at scale the predicate
        # pushes into the store's date partitioning) and evicts their
        # band rows via one broadcast anti-join — no rebuild, no corpus
        # re-shingle. NOTE the store asymmetry: band rows of dup docs
        # that were never KEPT stay in the index until their own ids
        # are swept (the index remembers what was seen, the corpus only
        # what was kept).
        from etl_tools_rs_spark.operators.lsh_index import expire_index

        corpus = spark.read.parquet(f"{work}/corpus")
        index = spark.read.parquet(f"{work}/index")
        cutoff = "2026-01-06"  # keep the trailing 25 crawl days
        new_index, expired = expire_index(
            index, corpus, F.lit(cutoff).cast("date"), ts_col="crawl_date"
        )
        n_expired = expired.count()
        survivors = corpus.join(expired, "doc_id", "left_anti")
        # materialize BOTH derived outputs before swapping either store:
        # new_index's and survivors' lineage reads the current corpus
        # files, so an in-place overwrite must come only after every
        # dependent write has committed
        new_index.write.mode("overwrite").parquet(f"{work}/index_next")
        survivors.write.mode("overwrite").parquet(f"{work}/corpus_next")
        spark.read.parquet(f"{work}/index_next").write.mode(
            "overwrite"
        ).parquet(f"{work}/index")
        spark.read.parquet(f"{work}/corpus_next").write.mode(
            "overwrite"
        ).parquet(f"{work}/corpus")
        return {"expired": n_expired}

    ret = jr.run_cmd("retention", retention)

    def live_lookup(_jr):
        # r7: the LIVE-ingest twin — between batch delta runs, incoming
        # docs stream against a denormalized lookup index (stateless:
        # no watermark, no state store) and duplicates of the archive
        # are flagged before they ever land in a delta.
        from etl_tools_rs_spark.streaming.ops import (
            near_dup_stream,
            near_dup_stream_index,
            run_available_now,
        )
        from etl_tools_rs_spark.streaming.sources import file_stream

        live = spark.read.parquet(f"{work}/corpus")
        lookup_idx = near_dup_stream_index(live, num_hashes=16, bands=4)
        probe_dir = f"{work}/live_probe"
        os.makedirs(probe_dir, exist_ok=True)
        # two re-crawled archive docs (must flag) + one fresh doc
        probes = [
            {"doc_id": 90_000_001 + i, "text": r["text"]}
            for i, r in enumerate(live.orderBy("doc_id").limit(2).collect())
        ] + [{"doc_id": 90_000_009, "text": "entirely fresh never seen words"}]
        with open(f"{probe_dir}/probe.ndjson", "w") as f:
            f.write("\n".join(json.dumps(p) for p in probes) + "\n")
        stream = file_stream(
            spark, probe_dir, format="json",
            schema="doc_id long, text string",
        )
        flagged = near_dup_stream(
            stream, lookup_idx, num_hashes=16, bands=4, threshold=0.8
        )
        run_available_now(
            flagged, f"{work}/ckpt_live", "crawl_live_hits", output_mode="append"
        )
        hits = spark.table("crawl_live_hits")
        n_flagged = hits.select("id_a").distinct().count()
        assert n_flagged == 2, f"expected both re-crawls to flag, got {n_flagged}"
        return n_flagged

    n_live_flagged = jr.run_cmd("live_lookup", live_lookup)

    def dsir_select(_jr):
        live = spark.read.parquet(f"{work}/corpus")
        target = live.filter(F.col("lang") == "en")
        budget = max(1, live.count() // 2)
        picked = dsir_sample(live, target, k=budget)
        picked.select("doc_id").join(live, "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{work}/selected")
        return budget

    n_selected = jr.run_cmd("dsir_select", dsir_select)

    def shards(_jr):
        manifest = write_training_shards(
            spark.read.parquet(f"{work}/selected"),
            f"{work}/shards", 4, key_cols=["doc_id"],
        )
        return manifest.total_rows

    n_sharded = jr.run_cmd("shards", shards)

    jr.complete()
    state = jr.state
    print(
        json.dumps(
            {
                "day0_docs": n_day0,
                "day1": d1,
                "day2": d2,
                "retention": ret,
                "live_flagged": n_live_flagged,
                "selected": n_selected,
                "sharded_rows": n_sharded,
                "steps": {
                    k: s.status for k, s in state.step_history.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else None,
            sys.argv[2] if len(sys.argv) > 2 else None,
        )
    )
