"""File sources: local filesystem and object stores (one code path).

Reference parity:
- ``LocalFs`` source — streams files line-by-line as Bytes
  (reference: etl-core/src/datastore/fs.rs:17-71).
- ``S3Storage`` source — same, over S3 keys
  (reference: etl-aws-utils/src/s3_datastore.rs:21-43,131-192).
- ``list_s3_files`` + regex filter
  (reference: etl-aws-utils/src/s3_utils.rs:9-84).

Spark-first design: both collapse into ``spark.read`` over a path list —
local paths and ``s3a://`` URIs use the identical code (Hadoop FS handles
the scheme), so there is no separate S3 source class. Two reference
semantics are preserved as engine-standard columns:

- provenance: every record carries its originating file in ``_source``
  (reference tags every message with its source, datastore/mod.rs:53-54);
- errors-as-records: malformed CSV/JSON lines become rows with a
  ``_corrupt_record`` column instead of aborting the scan (reference sends
  per-record errors in-band, datastore/mod.rs:28). The error *budget* is
  enforced by the JobRunner, not the scan.

Scale notes: text/csv/json scans split by ``spark.sql.files.maxPartitionBytes``
(engine default 128 MB), so a 100 TB prefix fans out to ~800k tasks without
driver-side file listing loops; parquet additionally gets predicate pushdown
and column pruning for free.
"""

from __future__ import annotations

import fnmatch
import glob as _glob
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

SOURCE_COL = "_source"
CORRUPT_COL = "_corrupt_record"


def with_corrupt_column(schema: str | StructType) -> StructType:
    """``schema`` (DDL or struct) with a ``_corrupt_record string`` field
    appended unless a field of that name exists. PERMISSIVE corrupt-record
    capture needs the column in an explicitly supplied schema."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType([*schema.fields, StructField(CORRUPT_COL, StringType())])


@dataclass
class CsvOptions:
    """CSV dialect vocabulary, mirroring the reference's CsvReadOptions /
    CsvWriteOptions (etl-core/src/datastore/mod.rs:267-326) onto Spark
    reader/writer options.

    Full dialect mapping (reference field → Spark option):

    - ``terminator`` → ``lineSep`` (read AND write; Spark 4 accepts
      multi-char, so ``"\\r\\n"`` round-trips CRLF files byte-for-byte).
      ``None`` keeps Spark defaults, which already auto-detect LF/CR/CRLF
      on read — the reference's ``Terminator::CRLF`` default needs no
      option at all to parse.
    - ``double_quote`` → escape char selection: True (reference default)
      means ``""`` escapes a quote inside a quoted field (Spark: escape ==
      quote char); False uses the explicit ``escape`` char (reference
      write default ``\\``).
    - ``quoting`` → False disables quote processing on read (Spark: NUL
      quote char — the documented univocity toggle). On write, prefer
      ``quote_style="never"``.
    - ``quote_style`` (write only, reference CsvWriteOptions.quote_style)
      → ``"necessary"`` (univocity default), ``"always"`` (``quoteAll``),
      ``"never"`` (NUL quote + ``escapeQuotes=false``; caveat: fields
      containing the delimiter still get NUL-delimited by univocity —
      truly quote-free output of delimiter-bearing fields is ambiguous
      CSV and rejected by every parser, the reference's included).
      ``"non_numeric"`` has no univocity equivalent and raises.
    - ``unescaped_quote_handling`` → univocity recovery policy for
      malformed quotes on read (e.g. ``STOP_AT_CLOSING_QUOTE``,
      ``RAISE_ERROR``); None keeps Spark's default.
    """

    delimiter: str = ","
    has_headers: bool = True
    quote: str = '"'
    escape: str = '"'
    comment: str | None = None
    flexible: bool = False  # reference: allow ragged rows; Spark: PERMISSIVE fills
    terminator: str | None = None  # None → LF/CR/CRLF auto (read), LF (write)
    quoting: bool = True
    double_quote: bool = True
    quote_style: str = "necessary"  # write: necessary | always | never
    unescaped_quote_handling: str | None = None  # read: univocity policy name

    _NO_QUOTE = "\u0000"

    def _effective_escape(self) -> str:
        return self.quote if self.double_quote else self.escape

    def to_spark(self) -> dict[str, str]:
        opts = {
            "sep": self.delimiter,
            "header": str(self.has_headers).lower(),
            "quote": self.quote if self.quoting else self._NO_QUOTE,
            "escape": self._effective_escape(),
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": CORRUPT_COL,
        }
        if self.comment:
            opts["comment"] = self.comment
        if self.terminator is not None:
            opts["lineSep"] = self.terminator
        if self.unescaped_quote_handling is not None:
            opts["unescapedQuoteHandling"] = self.unescaped_quote_handling
        return opts

    def to_spark_write(self) -> dict[str, str]:
        """Writer-side dialect (reference CsvWriteOptions,
        etl-core/src/datastore/mod.rs:284-297)."""
        style = self.quote_style
        if style not in ("necessary", "always", "never"):
            raise ValueError(
                f"quote_style {style!r} not supported (necessary|always|never; "
                "univocity has no non_numeric mode)"
            )
        opts = {
            "sep": self.delimiter,
            "header": str(self.has_headers).lower(),
            "quote": self.quote,
            "escape": self._effective_escape(),
        }
        if self.terminator is not None:
            opts["lineSep"] = self.terminator
        if style == "always":
            opts["quoteAll"] = "true"
        elif style == "never" or not self.quoting:
            opts["quote"] = self._NO_QUOTE
            opts["escapeQuotes"] = "false"
        return opts


@dataclass
class FileSource:
    """Declarative file scan: ``FileSource(paths, format=...).to_df(spark)``.

    ``paths`` may be explicit files (reference style: LocalFs{files, home})
    or glob patterns; ``home`` is an optional prefix joined to each entry.
    """

    paths: list[str]
    home: str = ""
    format: str = "text"  # text | csv | json | parquet | orc | xml
    csv_options: CsvOptions = field(default_factory=CsvOptions)
    schema: str | None = None  # DDL string; None → infer (csv/json/xml) or native
    with_source: bool = True
    xml_row_tag: str = "row"  # xml only: element treated as one record

    def _resolved(self) -> list[str]:
        return [os.path.join(self.home, p) if self.home else p for p in self.paths]

    def to_df(self, spark: SparkSession) -> DataFrame:
        paths = self._resolved()
        reader = spark.read
        if self.format == "text":
            df = reader.text(paths)
        elif self.format == "csv":
            opts = self.csv_options.to_spark()
            if self.schema:
                df = reader.options(**opts).schema(with_corrupt_column(self.schema)).csv(paths)
            else:
                df = reader.options(**opts).option("inferSchema", "true").csv(paths)
        elif self.format == "json":
            opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
            if self.schema:
                df = reader.options(**opts).schema(with_corrupt_column(self.schema)).json(paths)
            else:
                df = reader.options(**opts).json(paths)
        elif self.format == "parquet":
            df = reader.parquet(*paths)
        elif self.format == "orc":
            df = reader.orc(*paths)
        elif self.format == "xml":
            # Spark 4 native XML (spark-xml integrated): one record per
            # rowTag element; malformed elements follow the same
            # PERMISSIVE corrupt-record contract as csv/json
            opts = {
                "rowTag": self.xml_row_tag,
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": CORRUPT_COL,
            }
            r = reader.options(**opts).format("xml")
            if self.schema:
                r = r.schema(with_corrupt_column(self.schema))
            df = r.load(paths)
        else:
            raise ValueError(f"unknown format: {self.format}")
        if self.with_source:
            df = df.withColumn(SOURCE_COL, F.input_file_name())
        return df


ERROR_COL = "_error"


def _error_markers(df: DataFrame) -> list[str]:
    return [c for c in (CORRUPT_COL, ERROR_COL) if c in df.columns]


def is_error(df: DataFrame) -> Column:
    """True on the error rows of ``df``: a non-null ``_corrupt_record``
    (decode failure) or ``_error`` (transform failure); constant False
    when ``df`` has neither column."""
    flag = F.lit(False)
    for m in _error_markers(df):
        flag = flag | F.col(m).isNotNull()
    return flag


def split_ok_err(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a frame into (ok_rows, error_rows) — the engine's clean
    definition of the reference's per-record lines_scanned / num_errors
    accounting (SURVEY §7.4). Error rows are decode failures
    (``_corrupt_record`` from PERMISSIVE parsing) and/or transform
    failures (``_error`` from operators.transform.with_error_column) —
    both in-band, both counted against the budget. The ok side drops
    both marker columns."""
    markers = _error_markers(df)
    if not markers:
        return df, df.limit(0)
    flag = is_error(df)
    return df.filter(~flag).drop(*markers), df.filter(flag)


def list_files(prefix: str, regex: str | None = None, glob: str | None = None) -> list[str]:
    """Enumerate files under a prefix with optional regex/glob filter.

    Reference parity: list_s3_files + ListS3FilesRequest.regex
    (etl-aws-utils/src/s3_utils.rs:9-46). Local implementation uses
    ``glob``; for object stores pass the prefix straight to ``FileSource``
    with ``pathGlobFilter`` instead — Spark's distributed listing scales to
    millions of keys where a driver-side loop would not.
    """
    entries = sorted(_glob.glob(os.path.join(prefix, "**", "*"), recursive=True))
    entries = [e for e in entries if os.path.isfile(e)]
    if glob:
        entries = [e for e in entries if fnmatch.fnmatch(os.path.basename(e), glob)]
    if regex:
        rx = re.compile(regex)
        entries = [e for e in entries if rx.search(e)]
    return entries
