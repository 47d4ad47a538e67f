"""Format variants from the reference's fixture matrix (FIXTURES.md §2):
gz compression, nested dirs, partitioned layout, XML native, Avro gating."""

import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from onetl_spark.file import FileDFReader, FileDFWriter, FileDFWriterOptions
from onetl_spark.file.connections import SparkLocalFS
from onetl_spark.file.format import CSV, Avro, Excel, JSONLine, XML

SCHEMA = StructType([StructField("id", LongType()), StructField("s", StringType())])


@pytest.fixture()
def df(spark):
    return spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA)


@pytest.fixture()
def fs(spark):
    return SparkLocalFS(spark)


def test_csv_gzip_roundtrip(spark, fs, df, tmp_path):
    target = str(tmp_path / "gz")
    FileDFWriter(fs, CSV(header=True, compression="gzip"), target).run(df)
    assert any(f.endswith(".csv.gz") for f in os.listdir(target))
    back = FileDFReader(fs, CSV(header=True), target, df_schema=SCHEMA).run()
    assert sorted(back.collect()) == sorted(df.collect())


def test_nested_dirs_recursive_read(spark, fs, df, tmp_path):
    root = tmp_path / "nested"
    FileDFWriter(fs, JSONLine(), str(root / "a")).run(df.filter("id <= 1"))
    FileDFWriter(fs, JSONLine(), str(root / "b" / "c")).run(df.filter("id > 1"))
    back = FileDFReader(
        fs, JSONLine(), str(root), df_schema=SCHEMA,
        options={"recursiveFileLookup": "true"},
    ).run()
    assert back.count() == 3


def test_partitioned_layout_discovery(spark, fs, df, tmp_path):
    target = str(tmp_path / "parts")
    FileDFWriter(
        fs, JSONLine(), target, FileDFWriterOptions(partition_by=["s"]),
    ).run(df)
    assert os.path.isdir(os.path.join(target, "s=a"))
    back = FileDFReader(fs, JSONLine(), target).run()
    assert sorted(r["s"] for r in back.collect()) == ["a", "b", "c"]
    # partition pruning reaches the scan
    pruned = back.filter("s = 'a'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_xml_native_roundtrip(spark, fs, df, tmp_path):
    target = str(tmp_path / "xml")
    fmt = XML(row_tag="row")
    fmt.check_if_supported(spark)
    FileDFWriter(fs, fmt, target).run(df)
    back = FileDFReader(fs, fmt, target, df_schema=SCHEMA).run()
    assert sorted(back.collect()) == sorted(df.collect())


def test_xml_parse_column(spark):
    schema = StructType([StructField("id", LongType()), StructField("s", StringType())])
    raw = spark.createDataFrame([("<row><id>7</id><s>x</s></row>",)], "xml string")
    parsed = raw.select(XML().parse_column("xml", schema).alias("p")).select("p.id", "p.s")
    assert parsed.collect()[0].asDict() == {"id": 7, "s": "x"}


def test_avro_and_excel_gated(spark):
    with pytest.raises(RuntimeError, match="spark-avro"):
        Avro().check_if_supported(spark)
    with pytest.raises(RuntimeError, match="spark-excel"):
        Excel().check_if_supported(spark)
