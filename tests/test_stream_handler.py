"""StreamHandler: init/process_item/shutdown with Start/Skip/Resume
(reference run-stream-handler.rs, job.rs:457-602,674-682)."""

from __future__ import annotations

from etl_tools_rs_spark.jobs.runner import HandlerInit, JobRunner, StreamHandler
from etl_tools_rs_spark.sinks.simple_store import MemoryStore
from etl_tools_rs_spark.sources.memory import CsvLinesSource


class CollectingHandler(StreamHandler):
    def __init__(self, init=None, fail_on=()):
        self._init = init or HandlerInit.start()
        self.fail_on = set(fail_on)
        self.seen: list[tuple[int, str]] = []
        self.shutdown_called = False

    def init(self, runner):
        return self._init

    def process_item(self, index, item, runner):
        if item["id"] in self.fail_on:
            raise ValueError(f"bad row {item['id']}")
        self.seen.append((index, item["id"]))

    def shutdown(self, runner):
        self.shutdown_called = True


CSV = ["id,name,notes", "a,Alice,x", "b,\"McDonald, John\",", "c,Carol,y", "d,Dave,"]


def test_handler_processes_in_order(spark):
    store = MemoryStore()
    jr = JobRunner("h1", "handler", store)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = CollectingHandler()
    step = jr.run_stream_handler("consume", df, h, order_by=["id"])
    assert [x for _, x in h.seen] == ["a", "b", "c", "d"]
    assert [i for i, _ in h.seen] == [0, 1, 2, 3]
    assert h.shutdown_called
    assert step.total_lines_scanned == 4 and step.num_errors == 0


def test_handler_rows_fail_counted(spark):
    # run-stream-handler.rs:70-71 analogue: failing rows are in-band errors
    store = MemoryStore()
    jr = JobRunner("h2", "handler_err", store, max_errors=10)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = CollectingHandler(fail_on={"a", "b", "c", "d"})
    step = jr.run_stream_handler("consume", df, h, order_by=["id"])
    assert h.seen == []
    assert step.num_errors == 4
    assert step.status == "Complete"  # tolerated within budget


def test_handler_resume_skips_prefix(spark):
    # O4: Resume{index} skips the first `index` records deterministically
    store = MemoryStore()
    jr = JobRunner("h3", "resume", store)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = CollectingHandler(init=HandlerInit.resume(2))
    jr.run_stream_handler("consume", df, h, order_by=["id"])
    # indices continue from the resume point (job.rs:484-511)
    assert h.seen == [(2, "c"), (3, "d")]


def test_handler_resume_without_order_by_saves_failure(spark):
    """Resume with no ``order_by`` is refused, and the saved state says
    so: the step is Error and the run FatalError, not InProgress."""
    import pytest

    from etl_tools_rs_spark.jobs.runner import JobRunnerError
    from etl_tools_rs_spark.jobs.state import RUN_FATAL

    store = MemoryStore()
    jr = JobRunner("h3b", "resume_unordered", store)
    h = CollectingHandler(init=HandlerInit.resume(1))
    with pytest.raises(JobRunnerError, match="order_by"):
        jr.run_stream_handler("consume", spark.range(3), h)
    saved = store.load(jr.state.file_name)
    assert saved["run_status"] == RUN_FATAL
    assert saved["step_history"]["consume"]["status"] == "Error"
    assert h.seen == []


def test_handler_skip(spark):
    store = MemoryStore()
    jr = JobRunner("h4", "skip", store)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = CollectingHandler(init=HandlerInit.skip())
    step = jr.run_stream_handler("consume", df, h, order_by=["id"])
    assert h.seen == [] and not h.shutdown_called
    assert step.status == "Complete"


def test_handler_fn_form(spark):
    # F6/task-apply parity: closure foreach over 4 records
    store = MemoryStore()
    jr = JobRunner("h5", "apply", store)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    count = []
    jr.run_stream_handler_fn("apply", df, lambda i, row, r: count.append(1))
    assert len(count) == 4


class PartitionWritingHandler(StreamHandler):
    """Executor-side handler: one output file per non-empty partition,
    rows with id == fail_id counted as errors. Picklable (plain attrs)."""

    def __init__(self, outdir: str, fail_id: str | None = None):
        self.outdir = outdir
        self.fail_id = fail_id
        self.shutdown_called = False

    def process_partition(self, rows):
        import os
        import uuid

        n_ok = n_err = 0
        ids = []
        for row in rows:
            if row["id"] == self.fail_id:
                n_err += 1
                continue
            ids.append(row["id"])
            n_ok += 1
        if ids:
            p = os.path.join(self.outdir, uuid.uuid4().hex + ".txt")
            with open(p, "w") as f:
                f.write("\n".join(ids))
        return (n_ok, n_err)

    def shutdown(self, runner):
        self.shutdown_called = True


def _no_local_iter(self, *a, **k):  # pragma: no cover - should never run
    raise AssertionError("toLocalIterator used on the executor path")


def test_partition_handler_runs_on_executors(spark, tmp_path, monkeypatch):
    """Scalable path: process_partition ships to executors; the driver
    never iterates rows (toLocalIterator is poisoned for the duration)."""
    from pyspark.sql import DataFrame

    monkeypatch.setattr(DataFrame, "toLocalIterator", _no_local_iter)
    store = MemoryStore()
    jr = JobRunner("hp1", "part_handler", store)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = PartitionWritingHandler(str(tmp_path))
    step = jr.run_stream_handler("consume", df, h)
    seen = set()
    for p in tmp_path.glob("*.txt"):
        seen.update(p.read_text().splitlines())
    assert seen == {"a", "b", "c", "d"}
    assert step.total_lines_scanned == 4 and step.num_errors == 0
    assert h.shutdown_called  # shutdown still runs driver-side


def test_partition_handler_error_accounting(spark, tmp_path):
    store = MemoryStore()
    jr = JobRunner("hp2", "part_err", store, max_errors=10)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = PartitionWritingHandler(str(tmp_path), fail_id="c")
    step = jr.run_stream_handler("consume", df, h)
    seen = set()
    for p in tmp_path.glob("*.txt"):
        seen.update(p.read_text().splitlines())
    assert seen == {"a", "b", "d"}
    assert step.num_errors == 1 and step.total_lines_scanned == 4


def test_partition_handler_budget_breach(spark, tmp_path):
    import pytest

    from etl_tools_rs_spark.jobs.runner import TooManyErrors

    store = MemoryStore()
    jr = JobRunner("hp3", "part_budget", store, max_errors=0)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = PartitionWritingHandler(str(tmp_path), fail_id="a")
    with pytest.raises(TooManyErrors):
        jr.run_stream_handler("consume", df, h)


class SilentPartitionHandler(StreamHandler):
    """Returns None (no counts) — runner falls back to count() for ok."""

    def __init__(self, outdir: str):
        self.outdir = outdir

    def process_partition(self, rows):
        import os
        import uuid

        ids = [row["id"] for row in rows]
        if ids:
            p = os.path.join(self.outdir, uuid.uuid4().hex + ".txt")
            with open(p, "w") as f:
                f.write("\n".join(ids))
        return None


def test_partition_handler_none_counts(spark, tmp_path):
    store = MemoryStore()
    jr = JobRunner("hp4", "part_none", store)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    step = jr.run_stream_handler("consume", df, SilentPartitionHandler(str(tmp_path)))
    assert step.total_lines_scanned == 4 and step.num_errors == 0


def test_partition_handler_ordered_falls_back_to_driver(spark, tmp_path):
    """order_by forces the ordered driver loop even when process_partition
    exists — Resume needs a global order that executors can't provide."""

    class Both(PartitionWritingHandler):
        def __init__(self, outdir):
            super().__init__(outdir)
            self.items = []

        def process_item(self, index, item, runner):
            self.items.append((index, item["id"]))

    store = MemoryStore()
    jr = JobRunner("hp5", "part_ordered", store)
    df = CsvLinesSource(CSV, schema="id string, name string, notes string").to_df(spark)
    h = Both(str(tmp_path))
    jr.run_stream_handler("consume", df, h, order_by=["id"])
    assert h.items == [(0, "a"), (1, "b"), (2, "c"), (3, "d")]
    assert list(tmp_path.glob("*.txt")) == []  # partition path not used
