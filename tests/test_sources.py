"""Source surface: PERMISSIVE error-as-record parity with the reference's
decoders (SURVEY §2.1/§2.3: S1 LocalFs, S7 String, S8/S9 mocks, T6/T7
decoders, S5 enumerate)."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_tools_rs_spark.sources.files import (
    CORRUPT_COL,
    SOURCE_COL,
    CsvOptions,
    FileSource,
    list_files,
    split_ok_err,
)
from etl_tools_rs_spark.sources.generate import EnumerateSource, enumerate_pandas
from etl_tools_rs_spark.sources.memory import (
    CsvLinesSource,
    JsonLinesSource,
    StringSource,
)
from tests.conftest import F1_LINES


def test_json_file_source_error_as_record(spark, fixture_dir):
    # reference contract: 10 lines, 1 malformed → 9 ok / 1 in-band error
    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string",
    ).to_df(spark)
    # cache: Spark refuses corrupt-column-only queries on a raw scan
    df = df.cache()
    ok, err = split_ok_err(df)
    assert ok.count() == 9
    assert err.count() == 1
    # provenance travels with the data (reference mod.rs:53-54)
    assert SOURCE_COL in df.columns
    src = ok.select(SOURCE_COL).distinct().collect()
    assert len(src) == 1 and src[0][0].endswith("10_lines.ndjson")
    # a user column whose name merely contains "_corrupt_record" must not
    # stop the corrupt column from being appended to the schema
    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string, _corrupt_record_raw string",
    ).to_df(spark).cache()
    ok, err = split_ok_err(df)
    assert CORRUPT_COL in df.columns and "_corrupt_record_raw" in ok.columns
    assert (ok.count(), err.count()) == (9, 1)


def test_csv_file_source_clean(spark, fixture_dir):
    df = FileSource(
        [str(fixture_dir / "14_good_lines.csv")],
        format="csv",
        schema="index string, words string",
    ).to_df(spark)
    df = df.cache()
    ok, err = split_ok_err(df)
    assert ok.count() == 14
    assert err.count() == 0
    row = ok.filter(F.col("index") == "3").collect()[0]
    assert row["words"] == "some, quoted words"


def test_csv_dialect_options(spark):
    # custom delimiter + comment line (reference CsvReadOptions surface)
    src = CsvLinesSource(
        ["# a comment", "a|b", "1|x", "2|y"],
        csv_options=CsvOptions(delimiter="|", comment="#"),
        schema="a int, b string",
    )
    rows = src.to_df(spark).drop(CORRUPT_COL).collect()
    assert sorted((r.a, r.b) for r in rows) == [(1, "x"), (2, "y")]


def test_csv_strict_schema_corrupt_rows(spark):
    # F3 analogue: rows that violate the typed schema become corrupt records
    src = CsvLinesSource(
        ["id,qty", "1,10", "2,notanint", "3,30"],
        schema="id int, qty int",
    )
    ok, err = split_ok_err(src.to_df(spark))
    assert ok.count() == 2
    assert err.count() == 1
    src = CsvLinesSource(
        ["id,qty,_corrupt_record_raw", "1,10,a", "2,notanint,b", "3,30,c"],
        schema="id int, qty int, _corrupt_record_raw string",
    )
    ok, err = split_ok_err(src.to_df(spark))
    assert (ok.count(), err.count()) == (2, 1)


def test_json_lines_source_f1_mix(spark):
    # F1: 3 ok / 2 malformed (simple-pipeline.rs:61-63)
    df = JsonLinesSource(
        F1_LINES, schema="name string, todo array<string>, id string"
    ).to_df(spark)
    ok, err = split_ok_err(df)
    assert ok.count() == 3
    assert err.count() == 2
    ang = ok.filter(F.col("id") == "ang1").collect()[0]
    assert ang["todo"] == ["paint fence", "buy paint"]


def test_string_source_lines(spark):
    # F6: a 4-line string streams as 4 records (task-apply.rs:6-22)
    df = StringSource("\nline two\nline three\nline four").to_df(spark)
    assert df.count() == 4


def test_enumerate_source(spark):
    # S5: distributed generated source (enumerate.rs:6-59)
    df = EnumerateSource(
        max=100, create=lambda idx: {"sq": idx * idx}, num_partitions=4
    ).to_df(spark)
    rows = df.orderBy("id").collect()
    assert len(rows) == 100
    assert rows[7]["sq"] == 49
    assert df.rdd.getNumPartitions() == 4


def test_enumerate_pandas(spark):
    # S6: async/imperative creates run Arrow-batched, not per-row
    def gen(batches):
        for pdf in batches:
            pdf["doubled"] = pdf["id"] * 2
            yield pdf

    df = enumerate_pandas(spark, 10, gen, schema="id long, doubled long")
    assert df.filter(F.col("doubled") == 18).count() == 1


def test_list_files_regex(tmp_path):
    # S3 parity: prefix listing with regex filter (s3_utils.rs:9-46)
    for name in ["a_1.csv", "a_2.csv", "b_1.json"]:
        (tmp_path / name).write_text("x")
    assert len(list_files(str(tmp_path))) == 3
    assert len(list_files(str(tmp_path), regex=r"a_\d+\.csv$")) == 2
    assert len(list_files(str(tmp_path), glob="*.json")) == 1


def test_xml_roundtrip(spark, tmp_path):
    from etl_tools_rs_spark.sinks.files import FileSink
    from etl_tools_rs_spark.sources.files import FileSource

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta <&> gamma")], "id int, name string"
    )
    out = str(tmp_path / "xml_out")
    FileSink(path=out, format="xml", xml_row_tag="rec").write(df)
    back = FileSource(paths=[out], format="xml", xml_row_tag="rec").to_df(spark)
    got = sorted((r.id, r.name) for r in back.select("id", "name").collect())
    # special chars survive the XML escape round-trip
    assert got == [(1, "alpha"), (2, "beta <&> gamma")]
    assert "_source" in back.columns


def test_csv_crlf_terminator_roundtrip(spark, tmp_path):
    """Full-dialect parity (reference CsvRead/WriteOptions terminator,
    etl-core/src/datastore/mod.rs:271-307): CRLF terminator + quoted fields
    survive a write→read round trip byte-for-byte."""
    from etl_tools_rs_spark.sinks.files import FileSink

    df = spark.createDataFrame(
        [("a,1", 'say "hi"'), ("b", "plain")], "x string, y string"
    )
    opts = CsvOptions(terminator="\r\n")
    out = str(tmp_path / "crlf")
    FileSink(out, format="csv", csv_options=opts).write(df)
    import glob as g

    raw = b"".join(open(p, "rb").read() for p in g.glob(out + "/part-*"))
    assert b"\r\n" in raw  # terminator reached the writer
    back = FileSource(
        [out], format="csv", csv_options=opts, schema="x string, y string",
        with_source=False,
    ).to_df(spark).cache()  # corrupt-col count needs the cache boundary
    ok, err = split_ok_err(back)
    assert err.count() == 0
    assert {tuple(r) for r in ok.collect()} == {("a,1", 'say "hi"'), ("b", "plain")}


def test_csv_quote_style_always_and_double_quote(spark, tmp_path):
    """quote_style=always → every field quoted; double_quote=True → quotes
    escaped by doubling (reference QuoteStyle/double_quote)."""
    from etl_tools_rs_spark.sinks.files import FileSink

    df = spark.createDataFrame([('he said "x"', "v")], "a string, b string")
    out = str(tmp_path / "qa")
    FileSink(
        out,
        format="csv",
        csv_options=CsvOptions(quote_style="always", double_quote=True),
        single_file=True,
    ).write(df)
    import glob as g

    text = open(g.glob(out + "/part-*")[0]).read()
    assert '"he said ""x"""' in text and '"v"' in text
    # and the same dialect reads it back
    back = FileSource(
        [out], format="csv",
        csv_options=CsvOptions(double_quote=True),
        schema="a string, b string", with_source=False,
    ).to_df(spark)
    ok, _ = split_ok_err(back)
    assert ok.collect()[0][0] == 'he said "x"'


def test_csv_double_quote_false_backslash_escape(spark, tmp_path):
    """double_quote=False + escape='\\' → reference write-default dialect."""
    from etl_tools_rs_spark.sinks.files import FileSink

    df = spark.createDataFrame([('q"v',)], "a string")
    out = str(tmp_path / "bs")
    opts = CsvOptions(double_quote=False, escape="\\")
    FileSink(out, format="csv", csv_options=opts, single_file=True).write(df)
    import glob as g

    text = open(g.glob(out + "/part-*")[0]).read()
    assert '\\"' in text  # backslash-escaped, not doubled
    back = FileSource(
        [out], format="csv", csv_options=opts, schema="a string",
        with_source=False,
    ).to_df(spark)
    ok, _ = split_ok_err(back)
    assert ok.collect()[0][0] == 'q"v'


def test_csv_quoting_disabled_read(spark, tmp_path):
    """quoting=False: quote chars are literal data on read (reference
    CsvReadOptions.quoting=false)."""
    p = tmp_path / "raw.csv"
    p.write_text('a\n"not,split"\n')
    back = FileSource(
        [str(p)], format="csv",
        csv_options=CsvOptions(quoting=False, has_headers=True),
        schema="a string", with_source=False,
    ).to_df(spark)
    ok, _ = split_ok_err(back)
    # with quoting off the embedded comma splits the row → ragged row is
    # corrupt under the 1-column schema; quote chars stay literal
    rows = [r[0] for r in back.select("a").collect()]
    assert any(v is not None and v.startswith('"not') for v in rows)


def test_csv_quote_style_never_write(spark, tmp_path):
    from etl_tools_rs_spark.sinks.files import FileSink

    df = spark.createDataFrame([('say "hi"',)], "a string")
    out = str(tmp_path / "never")
    FileSink(
        out, format="csv",
        csv_options=CsvOptions(quote_style="never"), single_file=True,
    ).write(df)
    import glob as g

    text = open(g.glob(out + "/part-*")[0]).read()
    assert 'say "hi"' in text and '""' not in text


def test_csv_quote_style_invalid_raises():
    import pytest

    with pytest.raises(ValueError, match="non_numeric"):
        CsvOptions(quote_style="non_numeric").to_spark_write()
