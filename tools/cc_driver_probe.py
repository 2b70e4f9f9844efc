"""Driver-side cost of connected_components' union-find path, by edge count.

For each edge count N, a fresh Python process builds a seeded random graph
of N edges over N nodes (``spark.range`` + ``rand``, checkpointed so the
input is materialized before the probe), warms the driver path on a
100-edge graph, then runs ``connected_components`` with the driver path
forced and counts the labels. It reports the growth of the driver
process's peak RSS (``ru_maxrss``) over the call and the wall time. The
peak covers the collected Rows, the union-find dict, the label list and
``createDataFrame`` over it — everything the driver path holds at once.
One process per N, because ``ru_maxrss`` is a high-water mark.

Usage (one JSON line per size on stdout):

    SPARK_GRAFT_CPUS=4 python tools/cc_driver_probe.py 10000 100000 1000000
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def probe(n: int, seed: int = 7) -> dict:
    from pyspark.sql import functions as F

    from etl_tools_rs_spark.operators.dedup import connected_components
    from etl_tools_rs_spark.session import get_spark

    spark = get_spark("cc-driver-probe", shuffle_partitions=4)

    def graph(m: int):
        return spark.range(m).select(
            F.floor(F.rand(seed) * m).cast("long").alias("id_a"),
            F.floor(F.rand(seed + 1) * m).cast("long").alias("id_b"),
        )

    connected_components(graph(100), driver_max_edges=100).count()
    pairs = graph(n).localCheckpoint(eager=True)
    edges = pairs.filter("id_a != id_b").distinct().count()
    before = _peak_mb()
    t0 = time.perf_counter()
    labels = connected_components(pairs, driver_max_edges=n).count()
    wall = time.perf_counter() - t0
    added = _peak_mb() - before
    spark.stop()
    return {
        "edges": edges,
        "labels": labels,
        "peak_before_mb": round(before, 1),
        "peak_added_mb": round(added, 1),
        "bytes_per_edge": round(added * 2**20 / edges),
        "wall_s": round(wall, 2),
    }


def main() -> int:
    if sys.argv[1:2] == ["--one"]:
        print(json.dumps(probe(int(sys.argv[2]))), flush=True)
        return 0
    sizes = [int(a) for a in sys.argv[1:]] or [10_000, 100_000, 1_000_000]
    for n in sizes:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", str(n)],
            cwd=_REPO_ROOT,
            env={**os.environ, "PYTHONPATH": _REPO_ROOT},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        print(out.strip().splitlines()[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
