"""Spark side of one benchmark run (one process, one SparkSession).

Started by ``run.py`` after the inputs exist. In order it: builds and
warms the session (``setup_s`` runs from the process start that
``run.py`` recorded to the end of the warm-up); runs the workload's
uninterrupted job until ``--seconds`` have passed (at least once);
twice runs the job under a new id with the benchmark's ``checkpoint``
step armed to fail, then re-runs that job id (``resume_s`` is the faster
re-run); with ``--trace 1`` runs one more job with spans, job groups and
wrapped sink and state store, followed by standalone decode and operator
executions. Writes
every measurement to ``--result`` as JSON; the output checks are
``run.py``'s.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pandas as pd  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

from etl_tools_rs_spark.jobs.runner import JobRunner, JobStepError  # noqa: E402
from etl_tools_rs_spark.session import get_spark  # noqa: E402
from etl_tools_rs_spark.sinks import FileSink, SimpleStore  # noqa: E402
from etl_tools_rs_spark.sources.files import CORRUPT_COL  # noqa: E402

from tracing import Tracer, spark_counts  # noqa: E402
from workloads import SIZES, WORKLOADS, Step  # noqa: E402

MAX_ERRORS = 100_000  # error budget per job; above any injected count
# layers with spans, reported as trace.self_s.<layer>; a layer a workload
# does not exercise reports 0
TRACE_LAYERS = ("jobs", "sinks", "sources", "operators", "streaming")


class InjectedCrash(Exception):
    """The failure the benchmark's own checkpoint step raises."""


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


class TracedSink:
    """Times a sink's ``write`` as a ``sinks`` span in its own job group."""

    def __init__(self, inner, ctx, name: str):
        self.inner, self.ctx, self.name = inner, ctx, name
        self.path = inner.path  # JobRunner keys step outputs by sink path

    def write(self, df):
        t = time.perf_counter()
        tr = self.ctx.tracer
        with tr.span(f"write:{self.name}", "sinks", group=f"{tr.run_id}/sink/{self.name}"):
            result = self.inner.write(df)
        step = self.ctx.current_step
        self.ctx.sink_s[step] = self.ctx.sink_s.get(step, 0.0) + time.perf_counter() - t
        return result


class TracedStore(SimpleStore):
    """Counts and times job-state writes."""

    def __init__(self, home: str, tracer: Tracer):
        super().__init__(home)
        self.tracer = tracer
        self.writes = 0
        self.write_s = 0.0

    def write(self, key, doc):
        t = time.perf_counter()
        with self.tracer.span("state_write", "jobs"):
            super().write(key, doc)
        self.writes += 1
        self.write_s += time.perf_counter() - t


class Ctx:
    """What a step needs besides the runner: the session, the output root
    of this job id, a sink factory and (traced run only) the tracer."""

    def __init__(self, spark, root: str, tracer: Tracer | None = None):
        self.spark, self.root, self.tracer = spark, root, tracer
        self.queries: list = []  # finished streaming queries
        self.current_step = ""
        self.sink_s: dict[str, float] = {}

    def sink(self, name: str):
        s = FileSink(f"{self.root}/{name}")
        return TracedSink(s, self, name) if self.tracer else s

    def span(self, name: str, layer: str, group: str | None = None):
        return self.tracer.span(name, layer, group) if self.tracer else nullcontext()

    def streaming_done(self, query) -> None:
        self.queries.append(query)


def run_job(workload, spark, in_dir, work, job_id, crash=False, tracer=None) -> dict:
    """One run of the workload's job under ``job_id``. Returns per-step
    records and ``job_s`` (first step call until ``complete()`` returns);
    with ``crash`` the checkpoint step fails and ``crashed`` is set."""
    root = f"{work}/out/{job_id}"
    store_home = f"{work}/state"
    store = TracedStore(store_home, tracer) if tracer else SimpleStore(store_home)
    ctx = Ctx(spark, root, tracer)
    runner = JobRunner(job_id, workload.name, store=store, max_errors=MAX_ERRORS)

    def checkpoint(runner_, ctx_):
        def cmd(_r):
            if crash:
                raise InjectedCrash(f"injected crash at step {workload.crash_index}")
        runner_.run_cmd("checkpoint", cmd)

    steps = workload.steps(in_dir)
    steps.insert(workload.crash_index, Step("checkpoint", checkpoint))
    sources = workload.sources(in_dir)
    records, crashed = [], False
    t_job = time.perf_counter()
    for step in steps:
        skipped = runner.state.step_is_complete(step.name)
        ctx.current_step = step.name
        t = time.perf_counter()
        try:
            group = f"{tracer.run_id}/step/{step.name}" if tracer else None
            with ctx.span(step.name, "jobs", group):
                step.run(runner, ctx)
        except JobStepError as e:
            if isinstance(e.__cause__, InjectedCrash):
                crashed = True
                break
            raise
        finally:
            st = runner.state.step_history.get(step.name)
            records.append({
                "name": step.name, "wall_s": time.perf_counter() - t, "skipped": skipped,
                "status": st.status if st else "New",
                "ok": (st.total_lines_scanned - st.num_errors) if st else 0,
                "err": st.num_errors if st else 0,
                "inputs": dict(st.inputs) if st else {},
                "source_files": [p for s in step.sources for p in sources[s].paths],
                "sources": step.sources, "operators": step.operators,
            })
    if not crashed:
        runner.complete()
    job_s = time.perf_counter() - t_job
    rec = {"job_id": job_id, "root": root, "job_s": job_s, "crashed": crashed,
           "steps": records}
    if tracer:
        rec.update(ctx=ctx, store=store)
    return rec


def warm(spark, workload, in_dir) -> None:
    """Touch every input table and run one pandas UDF on every core, so
    the reader classes are loaded and the Python workers exist."""
    for src in workload.sources(in_dir).values():
        src.to_df(spark).limit(1).collect()
    n = spark.sparkContext.defaultParallelism
    plus_one = pandas_udf(_plus_one, "long")
    spark.range(0, 64 * n, numPartitions=n).select(plus_one("id").alias("x")).agg(
        F.sum("x")).collect()


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _parquet_stats(root: str) -> tuple[int, int, float]:
    """(rows, files, MiB) of the parquet part files under ``root``."""
    import pyarrow.parquet as pq

    rows = files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        if "_checkpoint" in dirpath:
            continue
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                rows += pq.read_metadata(p).num_rows
                files += 1
                size += os.path.getsize(p)
    return rows, files, size / 2**20


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else p)
    return out


def per_layer(workload, spark, in_dir, spans_path, rec, untraced_job_s, resume, session) -> dict:
    """Per-layer metrics from the traced job ``rec`` plus standalone
    decode and operator executions, which are also traced."""
    tracer: Tracer = rec["tracer"]
    ctx: Ctx = rec["ctx"]
    sc = spark.sparkContext
    run = tracer.run_id
    m: dict[str, float] = {}
    m.update({f"session.{k}": v for k, v in session.items()})

    # sources: standalone noop decode of every input, with row counts
    decode_s: dict[str, float] = {}
    ok_by_source: dict[str, int] = {}
    rows_bad = 0
    for name, src in workload.sources(in_dir).items():
        df = src.to_df(spark)
        bad = (F.sum(F.col(CORRUPT_COL).isNotNull().cast("long"))
               if CORRUPT_COL in df.columns else F.sum(F.lit(0)))
        obs = Observation(f"decode_{len(decode_s)}")
        t = time.perf_counter()
        with tracer.span(f"decode:{name}", "sources", group=f"{run}/decode/{name}"):
            df.observe(obs, F.count(F.lit(1)).alias("n"), bad.alias("bad")).write.format(
                "noop").mode("overwrite").save()
        decode_s[name] = time.perf_counter() - t
        counts = obs.get
        ok_by_source[name] = counts["n"] - (counts["bad"] or 0)
        rows_bad += counts["bad"] or 0
    rows_ok = sum(ok_by_source.values())
    input_bytes = sum(os.path.getsize(p) for s in workload.sources(in_dir).values()
                      for p in s.paths)
    m.update({"sources.decode_s": sum(decode_s.values()), "sources.rows_ok": rows_ok,
              "sources.rows_corrupt": rows_bad, "sources.input_mb": input_bytes / 2**20})

    # operators: standalone noop execution of each operator frame
    op_s: dict[str, float] = {}
    for name, df in workload.operator_frames(spark, in_dir).items():
        t = time.perf_counter()
        with tracer.span(f"operator:{name}", "operators", group=f"{run}/operator/{name}"):
            df.write.format("noop").mode("overwrite").save()
        op_s[name] = time.perf_counter() - t
    ops = spark_counts(sc, tracer.groups("operators"))
    survivors = 0.0
    if workload.survivors:
        output, inputs = workload.survivors
        kept = _parquet_stats(f"{rec['root']}/{output}")[0]
        survivors = kept / max(1, sum(ok_by_source[s] for s in inputs or ok_by_source))
    m.update({"operators.flags_s": op_s.get("flags", 0.0),
              "operators.near_dup_s": op_s.get("near_dup", 0.0),
              "operators.knn_s": op_s.get("knn", 0.0),
              "operators.shuffle_mb": ops["shuffle_write_mb"],
              "operators.cpu_s": ops["executor_cpu_s"],
              "operators.spark_jobs": ops["jobs"],
              "operators.survivor_frac": survivors})

    # sinks
    rows, files, mb = _parquet_stats(rec["root"])
    sinks = spark_counts(sc, tracer.groups("sinks"))
    m.update({"sinks.write_s": tracer.layer_time("sinks"), "sinks.spark_jobs": sinks["jobs"],
              "sinks.rows_written": rows, "sinks.files_written": files, "sinks.output_mb": mb})

    # jobs
    ran = [s for s in rec["steps"] if not s["skipped"]]
    step_groups = [f"{run}/step/{s['name']}" for s in ran]
    jobs = spark_counts(sc, step_groups)
    overhead = sum(
        s["wall_s"] - ctx.sink_s.get(s["name"], 0.0)
        - sum(decode_s.get(x, 0.0) for x in s["sources"])
        - sum(op_s.get(x, 0.0) for x in s["operators"])
        for s in ran
    )
    m.update({"jobs.steps": len(ran),
              "jobs.steps_failed": sum(s["status"] == "Error" for s in ran),
              "jobs.spark_jobs": jobs["jobs"],
              "jobs.spark_jobs_per_step": jobs["jobs"] / max(1, len(ran)),
              "jobs.stages": jobs["stages"],
              "jobs.overhead_s": overhead,
              "jobs.state_writes": rec["store"].writes,
              "jobs.state_write_s": rec["store"].write_s,
              "jobs.skip_s": sum(s["wall_s"] for s in resume["steps"] if s["skipped"])})

    # streaming
    progress = [p for q in ctx.queries for p in _progress(q)]
    durations = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
    m.update({"streaming.batches": len(progress),
              "streaming.batch_p50_s": statistics.median(durations) if durations else 0.0,
              "streaming.batch_max_s": max(durations, default=0.0),
              "streaming.rows_in": sum(p.get("numInputRows", 0) for p in progress)})

    # engine-wide over the traced job: steps, sinks and streaming batches
    stream_groups = [str(q.runId) for q in ctx.queries]
    total = spark_counts(sc, step_groups + tracer.groups("sinks") + stream_groups)
    m.update({f"spark.{k}": v for k, v in total.items()})

    m["trace.job_s"] = rec["job_s"]
    m["trace.untraced_job_s"] = untraced_job_s
    m["trace.overhead_s"] = rec["job_s"] - untraced_job_s
    self_s = tracer.self_times()
    for layer in TRACE_LAYERS:
        m[f"trace.self_s.{layer}"] = self_s.get(layer, 0.0)

    with open(spans_path, "w", encoding="utf-8") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s) + "\n")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="one benchmark run (Spark side)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--size", default="full")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when the parent started this process")
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", help="where the traced run writes its spans (JSON lines)")
    args = ap.parse_args()
    workload = WORKLOADS[args.workload](SIZES[args.workload][args.size])
    in_dir, work = args.inputs, args.work

    spark = get_spark(
        app_name=f"perfbench-{workload.name}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    t_spark = time.monotonic()
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, workload, in_dir)
    t_warm = time.monotonic()
    out = {"setup_s": t_warm - args.t0,
           "session": {"get_spark_s": t_spark - args.t0, "warm_s": t_warm - t_spark}}

    jobs = []
    t_loop = time.monotonic()
    while not jobs or time.monotonic() - t_loop < args.seconds:
        jobs.append(run_job(workload, spark, in_dir, work, f"job{len(jobs)}"))
    # resume_s is the faster of two re-runs: the first also warms the code
    # paths the resumed steps take (JIT, generated code), which the cold
    # job does not finish, and other guests on a shared host only ever
    # add time (NOTES.md, "Measured spreads")
    crashes, resumes = [], []
    for i in range(2):
        crashes.append(run_job(workload, spark, in_dir, work, f"resume{i}", crash=True))
        if not crashes[-1]["crashed"]:
            raise RuntimeError("the armed checkpoint step did not fail")
        resumes.append(run_job(workload, spark, in_dir, work, f"resume{i}"))
    out.update(jobs=jobs, crashes=crashes, resumes=resumes)
    e2e = {"setup_s": out["setup_s"],
           "job_s": statistics.median(j["job_s"] for j in jobs),
           "resume_s": min(r["job_s"] for r in resumes)}

    if args.trace:
        # the traced job runs in a warm JVM, so its overhead is taken
        # against an untraced job run just before it, not the cold job_s
        untraced = run_job(workload, spark, in_dir, work, "untraced")
        tracer = Tracer(spark.sparkContext, f"{workload.name}-{args.seed}-traced")
        traced = run_job(workload, spark, in_dir, work, "traced", tracer=tracer)
        traced["tracer"] = tracer
        session = dict(out["session"], jvm_hwm_mb=jvm_hwm_mb(spark))
        out["per_layer"] = per_layer(workload, spark, in_dir, args.spans, traced,
                                     untraced["job_s"], resumes[-1], session)
        out["untraced"] = untraced
        out["self_s"] = tracer.self_times()
        for k in ("tracer", "ctx", "store"):
            traced.pop(k)
        out["traced"] = traced
    e2e["driver_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    out["end_to_end"] = e2e
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, default=str)
    stop(spark)
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit; the JVM exits when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
