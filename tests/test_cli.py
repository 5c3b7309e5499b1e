"""CLI smoke tests (driver-only paths; migrate is covered by
test_catalog_spark's migrate tests at the API level)."""

import json

import pytest

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.__main__ import main

DDL = """
CREATE TABLE SALES.CUSTOMER (
  CUST_ID INTEGER NOT NULL,
  NAME VARCHAR(100),
  DOC XML,
  PRIMARY KEY (CUST_ID)
);
"""


@pytest.fixture()
def ddl_file(tmp_path):
    p = tmp_path / "schema.sql"
    p.write_text(DDL)
    return str(p)


def test_assess_prints_json(ddl_file, capsys):
    assert main(["assess", ddl_file]) == 0
    report = json.loads(capsys.readouterr().out)
    assert report["summary"]["tables_total"] == 1


def test_convert_emits_iceberg(ddl_file, capsys):
    assert main(["convert", ddl_file]) == 0
    out = capsys.readouterr().out
    assert "CREATE OR REPLACE ICEBERG TABLE" in out
    assert "CUST_ID" in out


def test_convert_to_file(ddl_file, tmp_path, capsys):
    out = str(tmp_path / "out.sql")
    assert main(["convert", ddl_file, "-o", out]) == 0
    assert "ICEBERG TABLE" in open(out).read()


def test_convert_snowflake_dialect(tmp_path, capsys):
    p = tmp_path / "sf.sql"
    p.write_text("CREATE OR REPLACE TABLE DB.S.T (ID NUMBER(10,0), V VARIANT);")
    assert main(["convert", "--dialect", "snowflake", str(p)]) == 0
    out = capsys.readouterr().out
    assert "ICEBERG TABLE" in out


def test_assess_empty_fails(tmp_path, capsys):
    p = tmp_path / "empty.sql"
    p.write_text("-- nothing here")
    assert main(["assess", str(p)]) == 1


@pytest.mark.parametrize("ddl, warning", [
    ("CREATE TABLE T ();", "Table T has no parsed columns"),
    ("CREATE TABLE T (A INT, A INT);", "Duplicate column A in table T"),
])
def test_convert_prints_parser_warnings(tmp_path, capsys, ddl, warning):
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.convert import (
        IcebergDdlGenerator,
    )

    result = IcebergDdlGenerator().convert(ddl)
    assert result.warnings == [warning]
    p = tmp_path / "bad.sql"
    p.write_text(ddl)
    assert main(["convert", str(p)]) == 0
    captured = capsys.readouterr()
    assert captured.err.splitlines() == [f"warning: {warning}"]
    # the DDL text is the conversion's, warning or not
    assert captured.out == result.iceberg_ddl + "\n"


def test_convert_clean_ddl_prints_no_warning(ddl_file, capsys):
    assert main(["convert", ddl_file]) == 0
    assert "warning" not in capsys.readouterr().err
