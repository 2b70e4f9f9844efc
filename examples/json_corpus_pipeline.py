"""End-to-end example: the reference's canonical pipeline shape
(decode JSON lines → transform → dedup → validated write), engine-style.

Mirrors what `etl-tools-rs` users build with
``JobRunner::run_stream(CsvDecoder::new(...), output)`` + job state
(reference etl-job/src/job.rs:318-412): resumable steps, error budget
over corrupt records, per-step accounting — but each step is a Spark
action over a distributed frame, and re-running the script skips
completed steps via the persisted state document.

Run:  python examples/json_corpus_pipeline.py [workdir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def make_input(path: str) -> None:
    rows = [{"id": i, "text": f"document number {i % 40}"} for i in range(100)]
    rows.insert(7, {"id": "not-an-int-actually-fine-as-json"})
    with open(f"{path}/part-0.ndjson", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
        fh.write("{this is not json\n")  # corrupt record, counted not fatal


def main(workdir: str | None = None) -> int:
    from etl_tools_rs_spark.jobs.runner import JobRunner
    from etl_tools_rs_spark.operators import validate as v
    from etl_tools_rs_spark.operators.dedup import dedup_exact
    from etl_tools_rs_spark.operators.transform import transform
    from etl_tools_rs_spark.session import get_spark
    from etl_tools_rs_spark.sinks.simple_store import SimpleStore
    from etl_tools_rs_spark.sources.files import FileSource

    work = workdir or tempfile.mkdtemp(prefix="engine_example_")
    spark = get_spark("json-corpus-example", shuffle_partitions=8)

    src = f"{work}/in"
    os.makedirs(src, exist_ok=True)
    make_input(src)

    jr = JobRunner(
        "example-1",
        "json-corpus",
        SimpleStore(f"{work}/state"),
        max_errors=10,  # corrupt lines are records, not failures (SURVEY §1.1)
        stop_on_error=True,
    )

    def ingest(_jr):
        frame = FileSource(
            paths=[f"{src}/*.ndjson"], format="json", schema="id bigint, text string"
        ).to_df(spark)
        # Spark requires materializing parsed JSON before a query that
        # references ONLY _corrupt_record — cache covers both uses below
        raw = frame.cache()
        clean = raw.filter(F.col("_corrupt_record").isNull())
        n_bad = raw.filter(F.col("_corrupt_record").isNotNull()).count()
        if n_bad > 10:
            raise RuntimeError(f"too many corrupt records: {n_bad}")
        (
            clean.transform(
                transform,
                cols={"text": F.lower(F.col("text"))},
                where=F.col("id").isNotNull(),
            )
            .transform(dedup_exact, "text", "id")
            .write.mode("overwrite")
            .parquet(f"{work}/deduped")
        )
        return n_bad

    n_bad = jr.run_cmd("ingest_dedup", ingest, retries=2)

    def check(_jr):
        deduped = spark.read.parquet(f"{work}/deduped")
        v.assert_valid(deduped, [v.not_null("id"), v.unique("id")])
        return deduped.count()

    n_rows = jr.run_cmd("validate", check)

    def shard(_jr):
        from etl_tools_rs_spark.sinks.shards import write_training_shards

        return write_training_shards(
            spark.read.parquet(f"{work}/deduped"), f"{work}/shards", 4, key_cols=["id"]
        ).total_rows

    sharded = jr.run_cmd("shard", shard)
    state = jr.complete()
    print(
        json.dumps(
            {
                "corrupt_records": n_bad,
                "deduped_rows": n_rows,
                "sharded_rows": sharded,
                "steps": {k: s.status for k, s in state.step_history.items()},
                "workdir": work,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else None))
