"""JobRunner — sequential step executor around Spark actions.

Reference parity (etl-job/src/job.rs:27-643):
- ``run_stream(name, source, sink)`` — the canonical pipeline step with
  ok/err accounting and skip-if-complete (job.rs:318-412);
- ``run_stream_handler(name, df, handler)`` — custom per-record consumer
  with Start/Skip/Resume{index} init and shutdown hooks (job.rs:457-602);
- ``run_cmd(name, fn)`` — arbitrary side-effect command step
  (job.rs:606-643);
- ``run_output_task`` — detached parallel pipelines awaited at ``complete``
  (job.rs:433-451, job.rs:280-314);
- ``max_errors`` budget → TooManyErrors (job.rs:44-46,258-263,694-695),
  per runner and, through a ``JobManager``, fleet-wide;
- per-input-file accounting (stream.rs:266-308) via ``_source``.

Engine semantics (clean, per SURVEY §7.4): ok = parsed rows, err = corrupt
rows. The pump loop and channels collapse into one step lifecycle shared
by ``run_stream`` and ``run_stream_handler``: cache the frame, run ONE
counting aggregate (``groupBy([_source,] is_err).count()``) that gives the
error, ok and per-file counts, check the error budget, and only then hand
the ok rows to the consumer (the sink write or the handler). Stats
finalize after the consumer returns (§4.3).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_tools_rs_spark.session import is_connect

from etl_tools_rs_spark.jobs.state import (
    RUN_COMPLETED,
    RUN_FATAL,
    JobState,
    StepStatus,
)
from etl_tools_rs_spark.sinks.simple_store import SimpleStore
from etl_tools_rs_spark.sources.files import SOURCE_COL, is_error, split_ok_err


class JobRunnerError(Exception):
    pass


class TooManyErrors(JobRunnerError):
    """Error budget breached (reference JobRunnerError::TooManyErrors,
    job.rs:694-695)."""


class JobStepError(JobRunnerError):
    """A command step failed fatally (reference JobStepError)."""


@dataclass
class HandlerInit:
    """StreamHandler::init outcome (job.rs:674-682)."""

    action: str = "start"  # start | skip | resume
    index: int = 0

    @classmethod
    def start(cls) -> "HandlerInit":
        return cls("start")

    @classmethod
    def skip(cls) -> "HandlerInit":
        return cls("skip")

    @classmethod
    def resume(cls, index: int) -> "HandlerInit":
        return cls("resume", index)


class StreamHandler:
    """User hook: init/process_item/shutdown (etl-job/src/job/handler.rs:14-31).

    Two consumption modes:

    - ``process_partition(rows)`` — the SCALABLE path. Override it and the
      runner ships the handler to executors via ``DataFrame.foreachPartition``;
      each task receives an iterator of Rows for one partition, so the handler
      can open one connection/file per partition (the reference handler's
      typical use, handler.rs:14-31) without any driver round-trip. The
      handler instance is pickled into the task closure: executor-side
      mutations do NOT propagate back to the driver object — report per-row
      outcomes by returning ``(n_ok, n_err)`` (counted into step stats and
      the error budget via accumulators) or ``None`` (all rows counted ok).
    - ``process_item(index, row, runner)`` — the driver-side ordered loop,
      kept for Resume{index} semantics and handlers that must mutate
      driver state per row. It is a deliberate driver bottleneck; only use
      it when ordering/resume genuinely matters.

    The runner picks ``process_partition`` whenever it is overridden, init
    returned Start, and no ``order_by`` was requested; otherwise it falls
    back to the ordered driver loop."""

    def init(self, runner: "JobRunner") -> HandlerInit:
        return HandlerInit.start()

    def process_item(self, index: int, item: Row, runner: "JobRunner") -> None:
        raise NotImplementedError

    def process_partition(self, rows: "Any") -> "tuple[int, int] | None":
        raise NotImplementedError

    def shutdown(self, runner: "JobRunner") -> None:
        pass

    def has_partition_path(self) -> bool:
        """True when the subclass overrides ``process_partition``."""
        return type(self).process_partition is not StreamHandler.process_partition


class JobRunner:
    def __init__(
        self,
        job_id: str,
        name: str,
        store: SimpleStore,
        max_errors: int = 1000,
        stop_on_error: bool = True,
        manager: "Any | None" = None,
    ):
        self.store = store
        self.max_errors = max_errors
        self.stop_on_error = stop_on_error
        self.manager = manager
        self.state = JobState.load_or_new(store, job_id, name)
        self.num_errors = 0
        self._output_tasks: list[tuple[str, Future]] = []
        self._pool: ThreadPoolExecutor | None = None
        if manager is not None:
            manager.register(self)

    # -- internals ----------------------------------------------------------
    def _save(self) -> None:
        self.state.save(self.store)

    def _add_errors(self, step: StepStatus, n: int) -> None:
        """Count ``n`` errors against ``step`` and check the error budgets.

        Raises TooManyErrors when this runner's total exceeds its
        ``max_errors``, or when it has a manager whose fleet-wide total
        exceeds the manager's ``max_errors`` or which already tripped
        (job_manager.rs:82-90). The step is recorded Error and the run
        Fatal before the raise."""
        self.num_errors += n
        step.num_errors += n
        own = self.num_errors > self.max_errors
        fleet = self.manager is not None and self.manager.check_global_budget()
        if not (own or fleet):
            return
        self._fail(step.name, "TooManyErrors")
        if own and self.manager is not None:
            self.manager.broadcast_too_many_errors(self)
        raise TooManyErrors(
            f"{self.state.name}: {self.num_errors} errors > budget {self.max_errors}"
            if own
            else f"{self.state.name}: job manager budget {self.manager.max_errors} tripped"
        )

    def _fail(self, name: str, message: str) -> None:
        """Record step ``name`` Error and the run Fatal, and save."""
        self.state.error_step(name, message)
        self.state.run_status = RUN_FATAL
        self._save()

    def _skip_or_start(self, name: str, kind: str) -> StepStatus | None:
        if self.state.step_is_complete(name):
            # idempotent re-run: completed step skipped (job.rs:331-338)
            self.state.advance_skipped()
            self._save()
            return None
        step = self.state.start_step(name, kind)
        self._save()
        return step

    def _count(self, step: StepStatus, df: DataFrame) -> int:
        """The step's one counting action: ``groupBy([_source,] is_err)
        .count()`` gives the error count, the ok count (returned) and the
        per-input-file counts (stream.rs:266-308) together. The error
        budgets are checked here, before any consumer runs."""
        keys = [SOURCE_COL] if SOURCE_COL in df.columns else []
        rows = df.groupBy(*keys, is_error(df).alias("is_err")).count().collect()
        if keys:
            for r in rows:
                step.inputs[r[SOURCE_COL]] = step.inputs.get(r[SOURCE_COL], 0) + r["count"]
        n_err = sum(r["count"] for r in rows if r["is_err"])
        self._add_errors(step, n_err)
        return sum(r["count"] for r in rows) - n_err

    def _stream_step(
        self,
        name: str,
        df: DataFrame,
        consume: Callable[[DataFrame, StepStatus, int], int],
        prepare: Callable[[DataFrame], DataFrame | None] | None = None,
    ) -> StepStatus | None:
        """The lifecycle of both stream steps, in order: skip a Complete
        step or start it; ``prepare`` the frame (a handler's init: None
        means Skip, and the step completes untouched); cache it; run the
        one counting aggregate, which records ``num_errors`` and ``inputs``
        and checks the error budgets; hand the ok rows and their count to
        ``consume``, which returns the rows it accepted. Stats finalize
        only after ``consume`` returns (SURVEY §4.3). Any failure, in
        ``prepare`` too, leaves the step Error and the run Fatal in the
        saved state (a JobRunnerError has recorded that before it is
        raised)."""
        step = self._skip_or_start(name, "stream")
        if step is None:
            return None
        cached = None
        try:
            if prepare is not None:
                df = prepare(df)
                if df is None:
                    self.state.complete_step(name)
                    self._save()
                    return step
            # cache the PARSED frame: (a) the count and the consumer reuse
            # one scan+parse; (b) Spark disallows querying only the corrupt
            # column straight off a raw file scan
            # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the cache boundary is
            # the documented remedy
            cached = df.cache()
            n_ok = self._count(step, cached)
            n_ok = consume(split_ok_err(cached)[0], step, n_ok)
            step.total_lines_scanned = n_ok + step.num_errors
            self.state.complete_step(name)
            self._save()
            return step
        except JobRunnerError:
            raise
        except Exception as e:
            self._fail(name, str(e))
            raise
        finally:
            if cached is not None:
                cached.unpersist()

    # -- run_stream (job.rs:318-412) ----------------------------------------
    def run_stream(self, name: str, df: DataFrame, sink: Any) -> StepStatus | None:
        """Source→sink step. One counting aggregate records the ok, error
        and per-file counts and checks the error budget; only then are the
        ok rows, without ``_source``, written to ``sink`` — a breached
        budget writes nothing. ``outputs`` keys the sink's ``path`` (or its
        class name) to the row count ``sink.write`` returns, or to the ok
        count when it returns none. Into a ``FileSink`` a step runs four
        Spark jobs: three for the aggregate over the cached frame, one for
        the write."""

        def write(ok: DataFrame, step: StepStatus, n_ok: int) -> int:
            result = sink.write(ok.drop(SOURCE_COL))
            written = result if isinstance(result, int) else n_ok
            step.outputs[getattr(sink, "path", type(sink).__name__)] = written
            return n_ok

        return self._stream_step(name, df, write)

    # -- run_stream_handler (job.rs:457-602) --------------------------------
    def run_stream_handler(
        self,
        name: str,
        df: DataFrame,
        handler: StreamHandler,
        order_by: list[str] | None = None,
    ) -> StepStatus | None:
        """Custom consumer with Start/Skip/Resume{index} semantics, on the
        same lifecycle as ``run_stream``: ``handler.init`` runs once the
        step starts; one counting aggregate records the decode errors and
        per-file counts, and the error budget is checked before the
        handler sees a row. The handler receives only ok rows, and the
        errors it reports count against the budget as they arrive.

        Which path runs:

        - ``process_partition`` overridden, init Start, no ``order_by``,
          classic session: on executors via ``foreachPartition``; counts
          return through accumulators (one Spark action, no per-row driver
          traffic);
        - the same on Spark Connect (no accumulators): driver-side as one
          pseudo-partition over ``toLocalIterator``, with a RuntimeWarning;
        - otherwise the ordered driver loop over ``process_item``; a row
          that raises counts as one error.

        Resume contract: the reference relies on stable source order
        (job.rs:677-679); the engine makes it explicit — ``order_by``
        defines the ordering that ``Resume{index}`` filters against via
        row_number (SURVEY §7.3). Without order_by, resume is refused (no
        deterministic order exists in a distributed scan)."""
        init = HandlerInit.start()

        def prepare(frame: DataFrame) -> DataFrame | None:
            nonlocal init
            init = handler.init(self)
            if init.action == "skip":
                return None
            if init.action == "resume":
                if not order_by:
                    msg = "resume requires order_by for deterministic order"
                    self._fail(name, msg)
                    raise JobRunnerError(msg)
                rn = F.row_number().over(Window.orderBy(*order_by))
                frame = frame.withColumn("_rn", rn).filter(F.col("_rn") > init.index).drop("_rn")
            return frame

        def consume(ok: DataFrame, step: StepStatus, n_ok: int) -> int:
            partition_mode = (
                handler.has_partition_path() and init.action == "start" and order_by is None
            )
            if partition_mode and not is_connect(ok.sparkSession):
                n_ok = self._run_partition_handler(ok, handler, step, n_ok)
            elif partition_mode:
                warnings.warn(
                    "Spark Connect session: process_partition runs "
                    "driver-side as a single pseudo-partition (no "
                    "foreachPartition accumulators on Connect)",
                    RuntimeWarning,
                    stacklevel=4,
                )
                res = handler.process_partition(ok.toLocalIterator())
                if res is not None:
                    n_ok = int(res[0])
                    self._add_errors(step, int(res[1]))
            else:
                rows = ok.orderBy(*order_by) if order_by else ok
                base = init.index if init.action == "resume" else 0
                n_ok = 0
                for i, row in enumerate(rows.toLocalIterator()):
                    try:
                        handler.process_item(base + i, row, self)
                        n_ok += 1
                    except Exception:
                        self._add_errors(step, 1)
            handler.shutdown(self)
            return n_ok

        return self._stream_step(name, df, consume, prepare)

    def _run_partition_handler(
        self, ok: DataFrame, handler: StreamHandler, step: StepStatus, n_ok: int
    ) -> int:
        """Executor-side dispatch: one ``foreachPartition`` action runs
        ``handler.process_partition`` per task; ok/err counts flow back via
        accumulators. When a partition returns ``None`` (no counts), ok is
        the aggregate's ``n_ok`` less the errors the others reported."""
        sc = ok.sparkSession.sparkContext
        ok_acc = sc.accumulator(0)
        err_acc = sc.accumulator(0)
        silent_acc = sc.accumulator(0)  # partitions that returned None

        def _part(rows: Any) -> None:
            res = handler.process_partition(rows)
            if res is not None:
                n_ok, n_err = res
                ok_acc.add(int(n_ok))
                err_acc.add(int(n_err))
            else:
                silent_acc.add(1)
                # drain so lazy handlers that merely yield still consume
                for _ in rows:
                    pass

        ok.foreachPartition(_part)
        self._add_errors(step, err_acc.value)
        return ok_acc.value if silent_acc.value == 0 else n_ok - err_acc.value

    def run_stream_handler_fn(
        self, name: str, df: DataFrame, fn: Callable[[int, Row, "JobRunner"], None]
    ) -> StepStatus | None:
        """Closure form (job.rs:414-430)."""

        runner = self

        class _H(StreamHandler):
            def process_item(self, index: int, item: Row, r: "JobRunner") -> None:
                fn(index, item, runner)

        return self.run_stream_handler(name, df, _H())

    # -- run_cmd (job.rs:606-643) -------------------------------------------
    def run_cmd(
        self,
        name: str,
        fn: Callable[["JobRunner"], Any],
        retries: int = 0,
        backoff_s: float = 0.1,
        backoff_cap_s: float = 10.0,
        retry_on: type[Exception] | tuple[type[Exception], ...] = Exception,
        sleep: Callable[[float], None] | None = None,
    ) -> Any:
        """Command step: arbitrary side effect (DDL/cleanup/spark.sql),
        recorded in step history with timestamps; subsumes the reference's
        AthenaQueryJobCommand (athena.rs:47-156) since ``spark.sql`` runs
        inline.

        ``retries`` re-runs the callable on ``retry_on`` exceptions with
        exponential backoff doubling from ``backoff_s`` up to
        ``backoff_cap_s`` — the reference's transient-failure policy
        (100-retry exp backoff on S3 503s, s3_datastore.rs:422-448)
        generalized to any step. Only the FINAL failure reaches the step
        history / error budget; a step that succeeds on retry is simply
        Complete. ``sleep`` is injectable for tests."""
        import time as _time

        step = self._skip_or_start(name, "command")
        if step is None:
            return None
        do_sleep = sleep if sleep is not None else _time.sleep
        attempt = 0
        while True:
            try:
                result = fn(self)
                self.state.complete_step(name)
                self._save()
                return result
            except Exception as e:
                if isinstance(e, retry_on) and attempt < retries:
                    do_sleep(min(backoff_s * (2**attempt), backoff_cap_s))
                    attempt += 1
                    continue
                if self.stop_on_error:
                    self._fail(name, str(e))
                    raise JobStepError(f"step {name!r}: {e}") from e
                self.state.error_step(name, str(e))
                self._save()
                return None

    # -- parallel output tasks (job.rs:433-451, awaited :280-314) ------------
    def run_output_task(self, name: str, fn: Callable[[], Any]) -> Future:
        """Detached task running concurrently with subsequent steps; Spark's
        scheduler is thread-safe, so concurrent actions interleave. Awaited
        (and stats-recorded) at ``complete()``."""
        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=8, thread_name_prefix="output-task")
        fut = self._pool.submit(fn)
        self._output_tasks.append((name, fut))
        return fut

    # -- complete (job.rs:280-314) ------------------------------------------
    def complete(self) -> JobState:
        errors: list[str] = []
        for name, fut in self._output_tasks:
            try:
                result = fut.result()
                st = StepStatus(name=name, step_index=self.state.cur_step_index, kind="output_task")
                st.status = "Complete"
                if isinstance(result, int):
                    st.outputs[name] = result
                self.state.step_history[name] = st
            except Exception as e:  # noqa: BLE001 — recorded, not raised mid-await
                errors.append(f"{name}: {e}")
        if self._pool is not None:
            self._pool.shutdown(wait=True)
        if errors:
            self.state.run_status = RUN_FATAL
            self._save()
            raise JobStepError("; ".join(errors))
        self.state.run_status = RUN_COMPLETED
        self._save()
        if self.manager is not None:
            self.manager.finish(self)
        return self.state
