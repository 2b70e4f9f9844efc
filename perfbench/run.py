"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 1 --trace 0

Run from the repository root. Steps:

1. generate the workload's inputs from ``--seed`` in a separate process
   (``gen.py``; cached under ``.perfbench/inputs`` by workload and seed);
2. start the Spark driver process (``worker.py``), which sets up and
   warms the session, runs the job, the crash and resume pairs, and with
   ``--trace 1`` the traced job and standalone layer executions;
3. check the outputs: ok/err counts per step and per file against the
   generator's counts, every written output against the expected digest
   computed with DuckDB, and the uninterrupted output against each
   resumed one;
4. print the environment, (traced) the per-layer self-time table, and
   last one JSON line ``{"correct", "attempted", "failed", "metrics"}``:
   the end-to-end metrics with ``--trace 0``, the per-layer ones with
   ``--trace 1``, named with their units as ``BENCHMARK.json`` lists them.

Everything the run writes stays under ``.perfbench/`` in the current
directory. Exits non-zero without a result line when the engine package
is missing or a process fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from workloads import SIZES, WORKLOADS  # noqa: E402

SPEC = f"{os.path.dirname(HERE)}/BENCHMARK.json"  # metric names and units

DRIVER_MEM = "4g"  # fixed; the engine's 16g default exceeds small hosts' RAM
RUN_BUDGET_S = 175  # the whole run, generation included, ends within this
KEEP_SEEDS = 12  # cached input sets kept per workload


def environment(work: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=f"{work}/tmp",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("OMP_NUM_THREADS", None)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def _run(cmd: list[str], env: dict, log: str, timeout: float) -> None:
    """Run ``cmd`` in its own process group (the worker's JVM and Python
    workers join it) and make sure the whole group has ended on return."""
    with open(log, "w", encoding="utf-8") as fh:
        proc = subprocess.Popen(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"{os.path.basename(cmd[1])} timed out; log: {log}")
        finally:
            _kill_group(proc)
    if rc != 0:
        with open(log, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{os.path.basename(cmd[1])} exited {rc}; log {log}:\n{tail}")


def _kill_group(proc: subprocess.Popen) -> None:
    """SIGKILL what is left of ``proc``'s process group and reap ``proc``."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def inputs(work: str, workload, size: str, seed: int, env: dict,
           timeout: float) -> tuple[str, dict]:
    """The generated input directory and its manifest, cached by seed and
    by a hash of the size parameters, the generating code and the text of
    the expected-output SQL (the engine's oracles among it)."""
    h = hashlib.sha1(json.dumps(workload.size, sort_keys=True).encode())
    h.update(json.dumps(workload.expected("<inputs>"), sort_keys=True).encode())
    for f in ("gen.py", "workloads.py", "digest.py"):
        with open(f"{HERE}/{f}", "rb") as fh:
            h.update(fh.read())
    base = f"{work}/inputs/{workload.name}-{size}-{h.hexdigest()[:12]}"
    path = f"{base}/{seed}"
    if not os.path.exists(f"{path}/manifest.json"):
        os.makedirs(base, exist_ok=True)
        old = sorted((d for d in os.listdir(base) if not d.endswith(".tmp")),
                     key=lambda d: os.path.getmtime(f"{base}/{d}"))
        for d in old[: max(0, len(old) - KEEP_SEEDS + 1)]:
            shutil.rmtree(f"{base}/{d}", ignore_errors=True)
        _run([sys.executable, f"{HERE}/gen.py", "--workload", workload.name, "--seed", str(seed),
              "--out", path, "--size", size], env, f"{work}/gen.log", timeout)
    with open(f"{path}/manifest.json", encoding="utf-8") as fh:
        return path, json.load(fh)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (field 8 of
    the ``cpu`` line of /proc/stat) while the run was going."""
    delta = [a - b for a, b in zip(after, before)]
    return 100.0 * delta[7] / max(1, sum(delta[:8]))


class Checks:
    """Counts operations and failures; keeps the failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok


def check_steps(checks: Checks, job: dict, in_dir: str, manifest: dict, crash_run: bool) -> None:
    """Every step that ran is an operation; a run_stream step's ok/err
    counts, overall and per input file, must equal the generator's."""
    for s in job["steps"]:
        if s["skipped"]:
            continue
        if s["name"] == "checkpoint" and crash_run:
            continue  # the injected failure is expected
        checks.check(s["status"] == "Complete", f"{job['job_id']}/{s['name']}: {s['status']}")
        if not s["source_files"]:
            continue
        files = {os.path.relpath(p, in_dir): manifest["files"][os.path.relpath(p, in_dir)]
                 for p in s["source_files"]}
        want_err = sum(f["malformed"] for f in files.values())
        want_ok = sum(f["rows"] for f in files.values()) - want_err
        got_files = {os.path.relpath(k.removeprefix("file://"), in_dir): v
                     for k, v in s["inputs"].items()}
        checks.check(
            (s["ok"], s["err"]) == (want_ok, want_err)
            and got_files == {k: f["rows"] for k, f in files.items()},
            f"{job['job_id']}/{s['name']}: ok/err {s['ok']}/{s['err']} per-file "
            f"{got_files}, generated {want_ok}/{want_err}",
        )


def check_outputs(checks: Checks, workload, jobs: list[dict], manifest: dict) -> None:
    """Each job's outputs against the expected digests, and the
    uninterrupted job's outputs against each resumed job's."""
    import duckdb

    from digest import relation_digest

    con = duckdb.connect()
    digests = {}
    for job in jobs:
        digests[job["job_id"]] = {}
        for name, sql in workload.outputs(job["root"]).items():
            got = relation_digest(con, sql)
            digests[job["job_id"]][name] = got
            want = manifest["expected"][name]
            checks.check(got == want, f"{job['job_id']}/{name}: {got} != expected {want}")
    first = jobs[0]["job_id"]
    for job_id in digests:
        if job_id.startswith("resume"):
            checks.check(digests[first] == digests[job_id],
                         f"uninterrupted {first} and resumed {job_id} outputs differ")


def metrics(section: str, values: dict) -> dict:
    """``values`` with the units of ``BENCHMARK.json``'s ``section``, in
    its order; the names measured must be exactly the names listed."""
    with open(SPEC, encoding="utf-8") as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    if set(values) != set(units):
        raise RuntimeError(f"measured {section} metrics differ from {SPEC}: "
                           f"{sorted(set(values) ^ set(units))}")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="run one benchmark workload")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="the uninterrupted job repeats until this much time has passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "toy"))
    args = ap.parse_args(argv)

    deadline = time.monotonic() + RUN_BUDGET_S
    steal0 = _cpu_ticks()
    root = os.getcwd()
    if not os.path.isfile(f"{root}/etl_tools_rs_spark/__init__.py"):
        print("perfbench: no etl_tools_rs_spark package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload](SIZES[args.workload][args.size])
    work = f"{root}/.perfbench"
    load = os.getloadavg()
    env = environment(work)
    in_dir, manifest = inputs(work, workload, args.size, args.seed, env,
                              deadline - time.monotonic())
    os.sync()  # no writeback of fresh inputs during the timed run

    run_dir = f"{work}/run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = f"{run_dir}/result.json"
    os.makedirs(f"{work}/results", exist_ok=True)
    try:
        t0 = time.monotonic()
        _run([sys.executable, f"{HERE}/worker.py", "--workload", args.workload,
              "--size", args.size, "--seed", str(args.seed), "--inputs", in_dir,
              "--work", run_dir, "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--t0", repr(t0), "--result", result_path,
              "--spans", f"{work}/results/{args.workload}-{args.seed}-spans.jsonl"],
             env, f"{work}/worker-{args.workload}.log", deadline - time.monotonic())
        with open(result_path, encoding="utf-8") as fh:
            res = json.load(fh)
        checks = Checks()
        traced = [res["untraced"], res["traced"]] if args.trace else []
        jobs = res["jobs"] + res["resumes"] + traced
        for job in res["jobs"] + res["crashes"] + res["resumes"] + traced:
            check_steps(checks, job, in_dir, manifest,
                        crash_run=any(job is c for c in res["crashes"]))
        check_outputs(checks, workload, jobs, manifest)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "seconds": args.seconds,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                     "SPARK_LOCAL_DIRS")},
        "loadavg_start": load, "job_runs": len(res["jobs"]),
        "generated_rows": manifest["rows"], "generated_malformed": manifest["malformed"],
        "cpu_steal_pct": _steal_pct(steal0, _cpu_ticks()),
        "failures": checks.failures,
    }
    with open(f"{work}/results/{args.workload}-{args.seed}-trace{args.trace}.json", "w",
              encoding="utf-8") as fh:
        json.dump(dict(record, result=res), fh, indent=1)
    print("perfbench env: " + json.dumps(record))
    for f in checks.failures:
        print(f"perfbench check failed: {f}")
    if args.trace:
        printed = metrics("per_layer", res["per_layer"])
        print("perfbench self time by layer (traced job + standalone layer runs):")
        for layer, v in sorted(res["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<12} {v:9.3f} s")
        print(f"  tracing overhead (traced - untraced job_s): "
              f"{res['per_layer']['trace.overhead_s']:+.3f} s")
        zero = [k for k, v in res["per_layer"].items() if v == 0]
        if zero:
            print("perfbench per-layer metrics at 0 (layer not exercised by this "
                  "workload, or nothing of that kind happened): " + ", ".join(zero))
    else:
        printed = metrics("end_to_end", res["end_to_end"])
    print(json.dumps({"correct": not checks.failures, "attempted": checks.attempted,
                      "failed": len(checks.failures), "metrics": printed}))
    return 0


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through _run, which kills the worker


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    raise SystemExit(main())
