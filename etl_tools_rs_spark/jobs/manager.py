"""JobManager — multi-runner registry with a global error budget.

Reference parity (etl-job/src/job_manager.rs:102-337): central actor doing
log aggregation, job registry, task start/finish accounting, and a *global*
max_errors that broadcasts TooManyErrors to every runner
(job_manager.rs:82-90,216-228).

Engine: the actor collapses to a thread-safe registry + Python logging
(Spark's own UI/event log covers the rest, SURVEY §2.6 O6). The global
budget is checked whenever any runner counts errors (``JobRunner`` checks
it with its own budget), and once tripped it stops every runner's next
stream step.
"""

from __future__ import annotations

import logging
import threading

logger = logging.getLogger("etl_tools_rs_spark.jobs")


class JobManager:
    def __init__(self, max_errors: int = 1000, log_path: str | None = None):
        self.max_errors = max_errors
        self._lock = threading.Lock()
        self.runners: list = []
        self.finished: list = []
        self.tripped = False
        if log_path:
            handler = logging.FileHandler(log_path)
            handler.setFormatter(
                logging.Formatter("%(asctime)s,%(name)s,%(levelname)s,%(message)s")
            )
            logger.addHandler(handler)

    def register(self, runner) -> None:
        with self._lock:
            self.runners.append(runner)
            logger.info("registered job %s", runner.state.name)

    def total_errors(self) -> int:
        with self._lock:
            return sum(r.num_errors for r in self.runners)

    def check_global_budget(self) -> bool:
        """True once the budget is tripped: the fleet-wide error total
        exceeds ``max_errors`` now, or a runner broadcast TooManyErrors
        before. Runners call this whenever they count errors and abort via
        TooManyErrors when it is True."""
        if self.total_errors() > self.max_errors:
            self.tripped = True
        return self.tripped

    def broadcast_too_many_errors(self, source_runner) -> None:
        with self._lock:
            self.tripped = True
            logger.error(
                "TooManyErrors from job %s broadcast to %d runners",
                source_runner.state.name,
                len(self.runners),
            )

    def finish(self, runner) -> None:
        with self._lock:
            self.finished.append(runner)
            logger.info("job %s completed", runner.state.name)

    @property
    def all_done(self) -> bool:
        with self._lock:
            return len(self.finished) == len(self.runners)
