"""In-memory sources (test/mock surface).

Reference parity:
- ``String`` as a source of its lines (etl-core/src/datastore/sources/string.rs:5-29)
- ``MockJsonDataSource`` — vector of JSON strings → typed records, bad lines
  as in-band errors (etl-core/src/datastore/mock.rs:80-142)
- ``MockCsvDataSource`` — in-memory CSV lines with header + dialect
  (etl-core/src/datastore/mock/mock_csv.rs:5-98)

Spark-first: createDataFrame of the raw lines, then the same PERMISSIVE
decode path as file sources — identical error-as-record semantics. No
``.rdd`` anywhere (RDD-bridged reads break under Spark Connect and skip
Arrow): where the reader API needs a scan, the mock lines spill to a
session-scoped temp file and go through the standard file reader.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_tools_rs_spark.sources.files import (
    CORRUPT_COL,
    CsvOptions,
    with_corrupt_column,
)

_TMP_ROOT: str | None = None


def _lines_path(lines: list[str], suffix: str) -> str:
    """Spill mock lines to a temp file (cleaned at interpreter exit) so the
    standard reader path handles them — Connect-safe, Arrow-enabled."""
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="etl_mock_src_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    fd, path = tempfile.mkstemp(dir=_TMP_ROOT, suffix=suffix)
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(lines) + ("\n" if lines else ""))
    return path


def _lines_df(spark: SparkSession, lines: list[str]) -> DataFrame:
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


@dataclass
class StringSource:
    """A string is a source of its lines (reference sources/string.rs)."""

    text: str

    def to_df(self, spark: SparkSession) -> DataFrame:
        return _lines_df(spark, self.text.splitlines())


@dataclass
class JsonLinesSource:
    """NDJSON lines → rows; malformed lines land in ``_corrupt_record``."""

    lines: list[str]
    schema: str | None = None

    def to_df(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql.types import StructType

        raw = _lines_df(spark, self.lines)
        if self.schema is None:
            # infer from the good lines via the standard json reader over a
            # temp spill (no .rdd bridge — Connect-safe)
            sample = spark.read.json(_lines_path(self.lines, ".ndjson"))
            inferred = [
                f for f in sample.schema.fields if f.name != CORRUPT_COL
            ]
            schema = StructType(inferred)
        else:
            schema = self.schema
        # the corrupt column must live INSIDE the from_json schema:
        # PERMISSIVE mode fills it for malformed lines (a null-struct check
        # does not work — Spark returns an all-null row, not a null struct)
        schema = with_corrupt_column(schema)
        parsed = raw.select(
            F.from_json(
                "value",
                schema,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias("j")
        )
        return parsed.select("j.*")


@dataclass
class CsvLinesSource:
    """In-memory CSV with header line + dialect options."""

    lines: list[str]
    csv_options: CsvOptions = field(default_factory=CsvOptions)
    schema: str | None = None

    def to_df(self, spark: SparkSession) -> DataFrame:
        path = _lines_path(self.lines, ".csv")
        opts = self.csv_options.to_spark()
        reader = spark.read.options(**opts)
        if self.schema:
            reader = reader.schema(with_corrupt_column(self.schema))
        else:
            reader = reader.option("inferSchema", "true")
        # cache boundary: file-backed scans refuse corrupt-column-only
        # queries (QUERY_ONLY_CORRUPT_RECORD_COLUMN); mocks are tiny, so
        # eagerly caching restores the old in-memory ergonomics
        return reader.csv(path).cache()
