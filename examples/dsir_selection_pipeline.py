"""End-to-end example: target-driven data selection for LLM training.

The round-5 surface composed as a real pipeline — the "make my crawl
look like the curated target" workflow (DSIR, Xie et al. 2023):

  1. near-dup grouping (MinHash-LSH → connected components) and
     QUALITY-AWARE canonical selection: each cluster keeps its
     highest-token-count member, not its first;
  2. fit the DSIR model on a small curated target (driver-sized integer
     array — the fit-once artifact);
  3. score the deduped corpus with the zero-shuffle `dsir_score` stage
     (same expression would score a live stream);
  4. Gumbel-top-k importance RESAMPLE down to the training budget;
  5. persist the LSH band index so tomorrow's delta is O(delta)
     (`incremental_near_dup`).

Run:  python examples/dsir_selection_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main(sf_dir: str = "/root/testdata/sf0.001") -> int:
    from etl_tools_rs_spark.operators.dedup import (
        connected_components,
        dedup_minhash_lsh,
        keep_best_per_group,
    )
    from etl_tools_rs_spark.operators.dsir import (
        dsir_model_vector,
        dsir_sample,
        dsir_score,
    )
    from etl_tools_rs_spark.operators.lsh_index import minhash_band_index
    from etl_tools_rs_spark.functions import token_count
    from etl_tools_rs_spark.session import get_spark

    spark = get_spark("dsir-selection-example", shuffle_partitions=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. near-dup groups → keep the best member of each cluster
    pairs = dedup_minhash_lsh(docs, threshold=0.5)
    groups = connected_components(pairs)
    slim = docs.select(
        "doc_id", "lang", "text",
        token_count("text").cast("bigint").alias("n_tok"),
    )
    deduped = slim.transform(keep_best_per_group, groups, "n_tok")
    print(f"corpus {docs.count()} -> deduped {deduped.count()}")

    # 2-3. fit on the curated target (here: the English slice), score all
    target = deduped.filter(F.col("lang") == "en")
    lr = dsir_model_vector(deduped, target, num_buckets=1024)
    scored = deduped.transform(dsir_score, lr)
    top = scored.orderBy(F.col("log_weight").desc()).limit(3).collect()
    print("most target-like:", [(r["doc_id"], r["log_weight"]) for r in top])

    # 4. weighted sample without replacement down to the budget
    budget = 64
    sample = dsir_sample(deduped, target, k=budget, num_buckets=1024)
    langs = (
        sample.join(deduped.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").count().orderBy(F.col("count").desc()).collect()
    )
    print(f"sampled {budget}; lang mix:", [(r["lang"], r["count"]) for r in langs])

    # 5. persist the band index for O(delta) daily increments
    idx = deduped.transform(minhash_band_index)
    print(f"band index rows: {idx.count()} (persist partitioned by bucket)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:]))
