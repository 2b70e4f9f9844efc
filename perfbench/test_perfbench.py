"""The benchmark's own test, at toy input size.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that a run prints every metric named in BENCHMARK.json with its
unit, that a corrupted output fails the correctness check, and that the
generated corpus keeps the sf0.1 shape recorded in NOTES.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import shape  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_its_unit(trace, section):
    res = _run("small_batches", trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()[section]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def _fake_job(con, root: str, outputs: dict[str, str]) -> None:
    """Write ``outputs`` where a small_batches job writes its outputs."""
    for name, sql in outputs.items():
        os.makedirs(f"{root}/{name}/000", exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{root}/{name}/000/part-0.parquet' (FORMAT parquet)")


def test_corrupted_output_fails_the_check(tmp_path):
    import duckdb

    from etl_tools_rs_spark.queries import _CURATION_STAGE_SQL

    in_dir = str(tmp_path / "inputs")
    manifest = gen.generate("small_batches", 3, in_dir, "toy")
    workload = WORKLOADS["small_batches"](SIZES["small_batches"]["toy"])
    con = duckdb.connect()
    views, expected = workload.expected(in_dir)
    for name, sql in views.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    outputs = {
        "docs": expected["docs"],
        # one passing document per fingerprint, as the drain keeps them
        "drain": f"WITH {_CURATION_STAGE_SQL} SELECT any_value(d.text) AS text "
                 "FROM s JOIN documents d USING (doc_id) "
                 "WHERE pass_lang AND pass_quality GROUP BY s.fp",
    }
    jobs = [{"job_id": j, "root": str(tmp_path / j)} for j in ("job0", "resume0")]
    for job in jobs:
        _fake_job(con, job["root"], outputs)

    checks = run.Checks()
    run.check_outputs(checks, workload, jobs, manifest)
    assert checks.failures == [] and checks.attempted == 5

    # one changed character in one row of the resumed job's docs output
    part = f"{jobs[1]['root']}/docs/000/part-0.parquet"
    con.execute(
        "COPY (SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN text || '.' "
        "ELSE text END AS text) FROM (SELECT *, row_number() OVER () AS rn "
        f"FROM read_parquet('{part}'))) TO '{part}.new' (FORMAT parquet)"
    )
    os.replace(f"{part}.new", part)
    checks = run.Checks()
    run.check_outputs(checks, workload, jobs, manifest)
    assert len(checks.failures) == 2  # resume0/docs, and resume0 vs job0
    assert checks.failures[0].startswith("resume0/docs")


# shape.py figures of the sf0.1 documents table, built as each workload
# builds its corpus: 2 replicas for curation, the case-mangled copy of
# every document for small_batches (NOTES.md, "Input shape")
SF01 = {
    "curation": {"lang_pred_en_share": 0.911, "pass_lang_quality_share": 0.390,
                 "keep_best_survivor_share": 0.480},
    "small_batches": {"lang_pred_en_share": 0.911, "pass_lang_quality_share": 0.351,
                      "exact_dedup_keep_share": 0.176, "keep_best_survivor_share": 0.951},
}


@pytest.mark.parametrize("workload", sorted(SF01))
def test_generated_corpus_has_the_sf01_shape(tmp_path, workload):
    import duckdb

    gen.generate(workload, 5, str(tmp_path), "full")
    con = duckdb.connect()
    shape.load(con, str(tmp_path))
    got = shape.shape(con)
    for name, want in SF01[workload].items():
        assert abs(got[name] - want) < 0.05, (name, got[name], want)
    # sf0.1: 10 to 100 tokens, uniform (p10, p50, p90 = 19, 54, 90)
    assert got["tokens_min_max"][0] == 10
    assert all(abs(g - w) <= 6 for g, w in zip(got["tokens_p10_p50_p90"], (19, 54, 90)))
