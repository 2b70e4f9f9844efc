"""Multi-probe LSH experiment (VERDICT r8 task #5): can query-side
probing cut knn_cosine_lsh's 16-table union to ~8 tables at recall
>= 0.8? Measures recall@10 vs the exact brute-force reference on the
recall-pin corpus (sf0.01 embeddings, same protocol as
tests/test_ann_recall.py) and warm wall-time at sf0.1 for each config.

    python tools/lsh_probe_experiment.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_tools_rs_spark.operators.similarity import knn_brute, knn_lsh  # noqa: E402
from etl_tools_rs_spark.session import get_spark, load_tables  # noqa: E402

K = 10
CONFIGS = [
    # (num_tables, num_planes, num_probes)
    (16, 4, 0),  # r4 registry config
    (8, 4, 1),
    (8, 4, 2),
    (8, 4, 3),
    (6, 4, 3),  # r9-adopted registry config
    (8, 5, 2),
    # r10 (VERDICT r9 #6): check that neighbors of the adopted point
    # don't dominate it — fewer tables with more probes, and vice versa
    (4, 4, 3),
    (4, 4, 4),
    (6, 4, 2),
    (6, 4, 4),
]


def queries_frame(emb):
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def recall_at_sf001(spark):
    emb = load_tables(spark, "/root/testdata/sf0.01", ("embeddings",))[
        "embeddings"
    ]
    q = queries_frame(emb)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_brute(
            emb, q, k=K, corpus_id="vec_id", query_id="query_id"
        ).collect()
    }
    out = {}
    for tables, planes, probes in CONFIGS:
        got = {
            (r.query_id, r.neighbor_id)
            for r in knn_lsh(
                emb, q, k=K, num_planes=planes, num_tables=tables,
                num_probes=probes, corpus_id="vec_id", query_id="query_id",
            ).collect()
        }
        out[(tables, planes, probes)] = len(got & exact) / len(exact)
    return out


def time_at_sf01(spark, runs=3, sf_dir="/root/testdata/sf0.1"):
    emb = load_tables(spark, sf_dir, ("embeddings",))[
        "embeddings"
    ]
    q = queries_frame(emb)
    out = {}
    for tables, planes, probes in CONFIGS:
        def plan():
            return knn_lsh(
                emb, q, k=K, num_planes=planes, num_tables=tables,
                num_probes=probes, corpus_id="vec_id", query_id="query_id",
            )

        plan().write.format("noop").mode("overwrite").save()  # cold
        samples = []
        for _ in range(runs):
            t0 = time.time()
            plan().write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        out[(tables, planes, probes)] = round(statistics.median(samples), 2)
    return out


def main() -> int:
    # optional sf1 column (r10, VERDICT r9 #6): pass a generated sf1
    # dir (tools/gen_scale_data.py) to check the trade holds at scale
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark("lsh-probe-exp")
    spark.sparkContext.setLogLevel("ERROR")
    rec = recall_at_sf001(spark)
    tim = time_at_sf01(spark)
    tim1 = time_at_sf01(spark, sf_dir=sf1_dir) if sf1_dir else None
    hdr = f"{'tables':>7} {'planes':>7} {'probes':>7} {'recall@10':>10} {'sf0.1 s':>8}"
    if tim1:
        hdr += f" {'sf1 s':>8}"
    print(hdr)
    for cfg in CONFIGS:
        t, p, pr = cfg
        line = f"{t:>7} {p:>7} {pr:>7} {rec[cfg]:>10.2f} {tim[cfg]:>8.2f}"
        if tim1:
            line += f" {tim1[cfg]:>8.2f}"
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
