"""The driver-side CSV header read (``sources.io.read_csv_header``)
against Spark's own header inference, which stays the reference: for
every header shape below, the names read on the driver must equal
``spark.read.option("header", True).csv(p).columns``, and a scan must
launch no Spark job."""

from __future__ import annotations

import gzip

import pytest
from pyspark.errors import AnalysisException

from openetlagent_spark.model import ColumnDefinition, FileDefinition, FileSchema
from openetlagent_spark.sources import scan_data
from openetlagent_spark.sources.io import read_csv_header

HEADERS = {
    "plain": "a,b,c",
    "quoted_commas": '"x,y",b,"c, d"',
    "quoted_escaped_quote": '"say \\"hi\\"",b',
    "quoted_doubled_quote": '"a""b",c',
    "empty_names": "a,,c,",
    "quoted_empty": 'a,"",c',
    "duplicates": "a,b,a,c,b",
    "case_duplicates": "Name,name,NAME,x",
    "spaces_kept": " a , b ,c",
    "non_ascii": "naïve,日本,émoji😀",
    "single": "only",
    "quote_mid_value": 'a"b,c',
}


def _spark_names(spark, path: str) -> list[str]:
    return spark.read.option("header", True).csv(path).columns


@pytest.mark.parametrize("name", sorted(HEADERS))
def test_header_matches_spark_inference(spark, tmp_path, name):
    p = tmp_path / "t.csv"
    p.write_text(HEADERS[name] + "\n1,2,3,4,5\n", encoding="utf-8")
    assert read_csv_header(spark, str(p)) == _spark_names(spark, str(p))


def test_header_skips_leading_blank_lines(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("\n   \nk,v\n1,2\n")
    assert read_csv_header(spark, str(p)) == _spark_names(spark, str(p)) == ["k", "v"]


def test_header_tab_line_is_not_blank(spark, tmp_path):
    # SQL trim strips spaces only, so a tab-only line is the header
    p = tmp_path / "t.csv"
    p.write_text("\t\nk,v\n1,2\n")
    assert read_csv_header(spark, str(p)) == _spark_names(spark, str(p)) == ["\t"]


def test_header_of_part_file_directory(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".part-00000.csv.crc").write_text("garbage,crc\n")
    (d / "part-00000.csv").write_text("id,name\n1,a\n")
    (d / "part-00001.csv").write_text("id,name\n2,b\n3,c\n")
    assert read_csv_header(spark, str(d)) == _spark_names(spark, str(d)) == ["id", "name"]


def test_header_of_gzip_file(spark, tmp_path):
    p = tmp_path / "t.csv.gz"
    with gzip.open(p, "wt") as fh:
        fh.write('"g,z",plain\n1,2\n')
    assert read_csv_header(spark, str(p)) == _spark_names(spark, str(p)) == ["g,z", "plain"]


def test_header_of_empty_file(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    assert read_csv_header(spark, str(p)) == _spark_names(spark, str(p)) == []


def test_header_of_glob(spark, tmp_path):
    for i in range(2):
        (tmp_path / f"g{i}.csv").write_text("p,q\n1,2\n")
    glob = str(tmp_path / "g*.csv")
    assert read_csv_header(spark, glob) == _spark_names(spark, glob) == ["p", "q"]


def test_missing_path_still_fails_named(spark, tmp_path):
    fd = FileDefinition(
        path=str(tmp_path / "nope.csv"), format="csv",
        file_schema=FileSchema(name="t", columns={"a": ColumnDefinition(type="string")}))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        scan_data(spark, fd)


def test_csv_scan_launches_no_job(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("b,a\n2,one\n4,two\n")
    fd = FileDefinition(
        path=str(p), format="csv",
        file_schema=FileSchema(name="t", columns={
            "a": ColumnDefinition(type="string"), "b": ColumnDefinition(type="integer")}))
    sc = spark.sparkContext
    sc.setJobGroup("csv_header_scan", "scan only")
    try:
        df = scan_data(spark, fd)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("csv_header_scan")) == []
    assert sorted((r.a, r.b) for r in df.collect()) == [("one", 2), ("two", 4)]


def test_header_of_differing_part_files_follows_spark_order(spark, tmp_path):
    # Spark reads the header from the largest file first
    d = tmp_path / "parts"
    d.mkdir()
    (d / "part-00000.csv").write_text("a,b\n1,2\n")
    (d / "part-00001.csv").write_text("x,y\n1,2\n3,4\n5,6\n")
    assert read_csv_header(spark, str(d)) == _spark_names(spark, str(d)) == ["x", "y"]
