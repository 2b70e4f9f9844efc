"""The benchmark workloads, each one ``JobRunner`` job.

A workload names its inputs, its job steps and its outputs. Steps call
the engine's public ``sources``, ``operators``, ``sinks`` and
``streaming`` entry points the way a pipeline author would; the harness
(``worker.py``) runs them, inserts the benchmark's own ``checkpoint``
step at ``crash_index`` (it fails in the crash run and passes
otherwise), and times everything. Expected outputs are DuckDB queries
over the generated files (``gen.py`` digests them once per seed); actual
outputs are DuckDB reads of what the job wrote.

Engine modules are imported inside the step and frame builders only, so
``gen.py`` and ``run.py`` import this file without loading Spark.
"""

from __future__ import annotations

import glob
import os
import re
from dataclasses import dataclass, field
from typing import Callable

SIZES: dict[str, dict[str, dict]] = {
    "curation": {
        "full": {"documents": 600, "embeddings": 500, "replicas": 2},
        "toy": {"documents": 300, "embeddings": 200, "replicas": 2},
    },
    "small_batches": {
        "full": {"files": 8, "docs_per_file": 150, "malformed_rate": 0.005,
                 "max_files_per_trigger": 2},
        "toy": {"files": 4, "docs_per_file": 30, "malformed_rate": 0.005,
                "max_files_per_trigger": 2},
    },
}

DOCS_DDL = "doc_id bigint, text string, lang string, ts timestamp"

# Spark DDL type -> DuckDB type, for reading the generated files in DuckDB
_DUCK_TYPES = {"bigint": "BIGINT", "string": "VARCHAR", "timestamp": "TIMESTAMP"}

# the content fingerprint of the registry's curation stage SQL
FINGERPRINT_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


def _duck_columns(ddl: str) -> str:
    pairs = [c.strip().split() for c in ddl.split(",")]
    return "{" + ", ".join(f"'{n}': '{_DUCK_TYPES[t]}'" for n, t in pairs) + "}"


def duck_json(paths: list[str], ddl: str) -> str:
    """DuckDB read of the good lines of the generated NDJSON files: each
    line is read as text, and only valid JSON objects are parsed."""
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    lines = (
        f"read_csv({files}, columns={{'line': 'VARCHAR'}}, "
        "header=false, delim=chr(1), quote='', escape='', auto_detect=false)"
    )
    return (
        f"SELECT unnest(json_transform(line, '{_duck_columns(ddl).replace(chr(39), chr(34))}')) "
        f"FROM {lines} WHERE json_valid(line)"
    )


def materialized(sql: str) -> str:
    """Ask DuckDB to evaluate each (non-recursive) CTE of an oracle once.
    Same result; the near-dup oracle drops from ~16 s to under 1 s on
    2.5k documents because its shared CTEs stop being re-evaluated."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def duck_parquet(path: str, cols: str = "*") -> str:
    return f"SELECT {cols} FROM read_parquet('{path}')"


@dataclass
class Step:
    """One job step. ``run(runner, ctx)`` calls into the engine.
    ``sources`` and ``operators`` name the standalone measurements (see
    ``Workload.sources`` and ``Workload.operator_frames``) whose time is
    this step's decode or operator work, for ``jobs.overhead_s``."""

    name: str
    run: Callable
    sources: list[str] = field(default_factory=list)
    operators: list[str] = field(default_factory=list)


class Workload:
    name: str
    crash_index: int  # the checkpoint step sits at this index of the job
    # outputs that are the good rows of the input files under a directory
    copies: dict[str, str] = {}
    # (output, input sources or None for all): operators.survivor_frac is
    # the output's rows over the inputs' good rows
    survivors: tuple[str, list[str] | None] | None = None

    def __init__(self, size: dict):
        self.size = size

    def sources(self, in_dir: str) -> dict:
        """``{name: FileSource}``: every input the job decodes."""
        raise NotImplementedError

    def steps(self, in_dir: str) -> list[Step]:
        raise NotImplementedError

    def operator_frames(self, spark, in_dir: str) -> dict:
        """``{name: DataFrame}`` of the job's operator work, run alone
        in the traced run to time the operators layer."""
        return {}

    def expected(self, in_dir: str) -> tuple[dict[str, str], dict[str, str]]:
        """``({view: DuckDB SQL}, {output: DuckDB SQL})``: the views over
        the generated files to create first, then each expected output."""
        raise NotImplementedError

    def outputs(self, root: str) -> dict[str, str]:
        """``{output: DuckDB SQL}`` reading what a job under ``root`` wrote."""
        raise NotImplementedError


def _file_source(paths: list[str], fmt: str, ddl: str | None = None, with_source=True):
    from etl_tools_rs_spark.sources import FileSource

    return FileSource(paths=paths, format=fmt, schema=ddl, with_source=with_source)


class Curation(Workload):
    """The LLM-data path over a replicated documents/embeddings corpus:
    the curation funnel, MinHash-LSH near-dup groups with keep-best, and
    LSH k-NN, each a registry query written through ``run_stream``.
    Crashes before the near-dup step."""

    name = "curation"
    crash_index = 1
    survivors = ("near_dup", ["documents"])
    QUERIES = {
        "flags": "curation_flags_documents",
        "near_dup": "dedup_keep_best_documents",
        "knn": "knn_cosine_lsh",
    }

    def sources(self, in_dir):
        return {t: _file_source([f"{in_dir}/{t}.parquet"], "parquet", with_source=False)
                for t in ("documents", "embeddings")}

    def _frame(self, spark, in_dir, out):
        from etl_tools_rs_spark.queries import REGISTRY

        return REGISTRY[self.QUERIES[out]].fn(spark, in_dir)

    def steps(self, in_dir):
        def step(out):
            def run(runner, ctx):
                runner.run_stream(out, self._frame(ctx.spark, in_dir, out), ctx.sink(out))
            return Step(out, run, operators=[out])

        return [step(out) for out in self.QUERIES]

    def operator_frames(self, spark, in_dir):
        return {out: self._frame(spark, in_dir, out) for out in self.QUERIES}

    def expected(self, in_dir):
        from etl_tools_rs_spark.queries import REGISTRY

        views = {t: duck_parquet(f"{in_dir}/{t}.parquet") for t in ("documents", "embeddings")}
        return views, {out: materialized(REGISTRY[q].oracle) for out, q in self.QUERIES.items()}

    def outputs(self, root):
        return {out: duck_parquet(f"{root}/{out}/*.parquet") for out in self.QUERIES}


class SmallBatches(Workload):
    """The fixed-cost floor: one ``run_stream`` step per small NDJSON
    file, as in per-file jobs, then a drain of the same files through
    ``streaming.ops.curation_stream`` with ``maxFilesPerTrigger`` (many
    micro-batches, each written by a ``FileSink`` from
    ``foreach_batch_sinks``). Crashes half way through the files.

    Every file after the first re-delivers the previous file's documents
    (``gen.py``), so the drain's keep-first-arrival dedup has work. Which
    copy of a document it keeps depends on arrival order inside a
    micro-batch, so the drain's output is checked by content
    fingerprint: each fingerprint that passes the language and quality
    stages appears exactly once."""

    name = "small_batches"
    copies = {"docs": "docs"}
    survivors = ("drain", None)

    def __init__(self, size):
        super().__init__(size)
        self.crash_index = size["files"] // 2

    def _files(self, in_dir):
        return sorted(glob.glob(f"{in_dir}/docs/*.json"))

    def sources(self, in_dir):
        return {os.path.basename(p): _file_source([p], "json", DOCS_DDL)
                for p in self._files(in_dir)}

    def steps(self, in_dir):
        srcs = self.sources(in_dir)

        def ingest(key, i):
            def run(runner, ctx):
                runner.run_stream(f"ingest_{i:03d}", srcs[key].to_df(ctx.spark),
                                  ctx.sink(f"docs/{i:03d}"))
            return Step(f"ingest_{i:03d}", run, sources=[key])

        def drain(runner, ctx):
            def cmd(_runner):
                from etl_tools_rs_spark.streaming import ops
                from etl_tools_rs_spark.streaming.sources import file_stream

                stream = file_stream(
                    ctx.spark, f"{in_dir}/docs", format="json", schema=DOCS_DDL,
                    max_files_per_trigger=self.size["max_files_per_trigger"],
                )

                def write_batch(batch_df, batch_id):
                    ctx.sink(f"drain/batch={batch_id:04d}").write(batch_df)

                q = ops.foreach_batch_sinks(
                    ops.curation_stream(stream), [write_batch],
                    checkpoint=f"{ctx.root}/_drain_checkpoint",
                )
                with ctx.span("drain_query", "streaming"):
                    q.awaitTermination()
                ctx.streaming_done(q)
            runner.run_cmd("drain", cmd)

        steps = [ingest(k, i) for i, k in enumerate(srcs)]
        return steps + [Step("drain", drain, operators=["flags"])]

    def operator_frames(self, spark, in_dir):
        # the drain's operator work, as its batch twin (streaming dedup
        # has no batch form)
        from etl_tools_rs_spark.operators.curation import curation_flags

        batch = spark.read.schema(DOCS_DDL).json(self._files(in_dir))
        return {"flags": curation_flags(batch)}

    def expected(self, in_dir):
        from etl_tools_rs_spark.queries import _CURATION_STAGE_SQL

        docs = duck_json(self._files(in_dir), DOCS_DDL)
        return {"documents": docs}, {
            "docs": docs,
            "drain": materialized(
                f"WITH {_CURATION_STAGE_SQL} "
                "SELECT DISTINCT fp FROM s WHERE pass_lang AND pass_quality"
            ),
        }

    def outputs(self, root):
        return {
            "docs": duck_parquet(f"{root}/docs/*/*.parquet"),
            "drain": duck_parquet(f"{root}/drain/*/*.parquet", f"{FINGERPRINT_SQL} AS fp"),
        }


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (Curation, SmallBatches)
}
