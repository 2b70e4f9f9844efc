"""JobRunner integration tests — same shape as the reference's tokio tests
(SURVEY §5): run a pipeline, assert the recorded JobState counters."""

from __future__ import annotations

import pytest

from etl_tools_rs_spark.jobs.manager import JobManager
from etl_tools_rs_spark.jobs.runner import JobRunner, TooManyErrors
from etl_tools_rs_spark.jobs.state import RUN_COMPLETED, RUN_FATAL
from etl_tools_rs_spark.sinks.noop import NoopSink
from etl_tools_rs_spark.sinks.simple_store import MemoryStore
from etl_tools_rs_spark.sources.files import FileSource
from etl_tools_rs_spark.sources.memory import JsonLinesSource
from tests.conftest import F1_LINES

F1_SCHEMA = "name string, todo array<string>, id string"


def test_run_stream_counts_ndjson(spark, fixture_dir):
    # decoder_fs.rs:71-72 parity: 9 ok / 1 err recorded in job state
    store = MemoryStore()
    jr = JobRunner("j1", "decode_ndjson", store)
    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string",
    ).to_df(spark)
    step = jr.run_stream("load", df, NoopSink())
    state = jr.complete()
    assert step.total_lines_scanned == 10
    assert step.num_errors == 1
    assert sum(step.outputs.values()) == 9
    assert state.run_status == RUN_COMPLETED
    # per-input-file accounting (stream.rs:266-308)
    assert len(step.inputs) == 1 and sum(step.inputs.values()) == 10
    # persisted document exists under the reference naming contract
    assert store.exists("j1.decode_ndjson.job.json")


def test_run_stream_skip_on_rerun(spark, fixture_dir):
    # O3: a Complete step is skipped on re-run (job.rs:331-338)
    store = MemoryStore()
    df = FileSource(
        [str(fixture_dir / "14_good_lines.csv")],
        format="csv",
        schema="index string, words string",
    ).to_df(spark)

    jr1 = JobRunner("j2", "csv_load", store)
    step1 = jr1.run_stream("load", df, NoopSink())
    jr1.complete()
    assert step1.total_lines_scanned == 14 and step1.num_errors == 0

    jr2 = JobRunner("j2", "csv_load", store)
    step2 = jr2.run_stream("load", df, NoopSink())
    assert step2 is None  # skipped
    # history retains the original completion
    assert jr2.state.step_history["load"].status == "Complete"


def test_error_budget_breach(spark):
    # simple-pipeline.rs:176-214 parity: errors > max_errors → TooManyErrors
    store = MemoryStore()
    jr = JobRunner("j3", "budget", store, max_errors=1)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)  # 3 ok / 2 err
    with pytest.raises(TooManyErrors):
        jr.run_stream("load", df, NoopSink())
    assert jr.state.run_status == RUN_FATAL
    assert jr.state.step_history["load"].status == "Error"


def test_error_budget_within(spark):
    # 3 ok / 2 err passes when the budget allows it (simple-pipeline.rs:61-63)
    store = MemoryStore()
    jr = JobRunner("j4", "budget_ok", store, max_errors=2)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)
    step = jr.run_stream("load", df, NoopSink())
    assert step.num_errors == 2
    assert sum(step.outputs.values()) == 3
    assert step.step_index == 0


def test_manager_global_budget(spark):
    # O5: JobManager broadcasts TooManyErrors fleet-wide
    # (job_manager.rs:82-90,216-228)
    store = MemoryStore()
    mgr = JobManager(max_errors=100)
    jr_a = JobRunner("jm", "job_a", store, max_errors=0, manager=mgr)
    JobRunner("jm", "job_b", store, manager=mgr)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)
    with pytest.raises(TooManyErrors):
        jr_a.run_stream("load", df, NoopSink())
    assert mgr.tripped
    assert len(mgr.runners) == 2


def test_run_stream_file_to_file(spark, fixture_dir, tmp_path):
    # P1 end-to-end: json file source → parquet sink, errors filtered,
    # written count recorded from the materialized sink
    from etl_tools_rs_spark.sinks.files import FileSink

    store = MemoryStore()
    jr = JobRunner("j6", "file2file", store)
    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string",
    ).to_df(spark)
    out_path = str(tmp_path / "out")
    step = jr.run_stream("load", df, FileSink(out_path, format="parquet"))
    jr.complete()
    back = spark.read.parquet(out_path)
    assert back.count() == 9  # corrupt row did not reach the sink
    assert "_corrupt_record" not in back.columns
    assert "_source" not in back.columns  # engine columns stripped at the sink
    assert step.total_lines_scanned == 10 and step.num_errors == 1


def test_manager_budget_stops_fleet(spark):
    # two runners, each within its own budget, whose combined errors
    # exceed the manager's: the second to count its errors is stopped,
    # and the tripped manager stops the first runner's next step
    store = MemoryStore()
    mgr = JobManager(max_errors=3)
    jr_a = JobRunner("jf", "job_a", store, max_errors=2, manager=mgr)
    jr_b = JobRunner("jf", "job_b", store, max_errors=2, manager=mgr)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)  # 3 ok / 2 err
    assert jr_a.run_stream("load", df, NoopSink()).num_errors == 2
    with pytest.raises(TooManyErrors, match="manager"):
        jr_b.run_stream("load", df, NoopSink())
    assert mgr.tripped and mgr.total_errors() == 4
    assert jr_b.state.run_status == RUN_FATAL
    assert jr_b.state.step_history["load"].status == "Error"
    clean = JsonLinesSource([F1_LINES[0]], schema=F1_SCHEMA).to_df(spark)
    with pytest.raises(TooManyErrors):
        jr_a.run_stream("again", clean, NoopSink())


def test_run_stream_one_aggregate_spark_jobs(spark, tmp_path):
    # one counting aggregate gives ok, err and per-file counts before the
    # write: four Spark jobs per step into a FileSink (three for the
    # aggregate over the cached frame, one for the write)
    import os

    from etl_tools_rs_spark.sinks.files import FileSink

    paths = []
    for f in range(3):
        p = tmp_path / f"part{f}.ndjson"
        lines = [
            "{not json" if i % 10 == f else f'{{"index": "{i}", "words": "w{i}"}}'
            for i in range(40 + 10 * f)
        ]
        p.write_text("\n".join(lines) + "\n")
        paths.append(str(p))
    src = FileSource(paths, format="json", schema="index string, words string")
    sc = spark.sparkContext
    group = "test_run_stream_one_aggregate_spark_jobs"
    out = str(tmp_path / "out")
    sc.setJobGroup(group, "one run_stream step")
    try:
        step = JobRunner("jc", "jobs", MemoryStore()).run_stream(
            "load", src.to_df(spark), FileSink(out)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    assert {os.path.basename(k): v for k, v in step.inputs.items()} == {
        "part0.ndjson": 40, "part1.ndjson": 50, "part2.ndjson": 60
    }
    assert step.num_errors == 4 + 5 + 6
    assert step.total_lines_scanned == 150
    assert step.outputs == {out: 135}
    assert spark.read.parquet(out).count() == 135

    # a breached budget writes nothing
    out2 = str(tmp_path / "out2")
    jr = JobRunner("jc2", "jobs", MemoryStore(), max_errors=14)
    with pytest.raises(TooManyErrors):
        jr.run_stream("load", src.to_df(spark), FileSink(out2))
    assert not os.path.exists(out2)
