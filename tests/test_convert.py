"""Converter tests: golden DDL outputs, EWI markers, routing
(reference semantics: db2ice/converter.py, db2ice/snowflake_converter.py)."""

import json
import os

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.convert import (
    IcebergDdlGenerator,
    SnowflakeToIcebergGenerator,
    convert_ddl,
    format_identifier,
    snowflake_assessment_report,
)
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.model import (
    ReadinessLevel,
)

from fixtures import DB2_CORPUS, GOLDEN_DB2_INPUT, SNOWFLAKE_CORPUS


GOLDEN_DB2_OUTPUT = """-- Converted from DB2: SALES.ORDERS
CREATE OR REPLACE ICEBERG TABLE SALES.ORDERS (
    ORDER_ID INTEGER NOT NULL,
    CUSTOMER_ID INTEGER NOT NULL,
    ORDER_DATE TIMESTAMP_NTZ(6),
    TOTAL NUMBER(15,2),
    NOTES STRING,
    PRIMARY KEY (ORDER_ID)
)
CATALOG = 'SNOWFLAKE'
EXTERNAL_VOLUME = 'my_iceberg_volume'
BASE_LOCATION = 'sales/orders'
;"""


def test_golden_db2_conversion():
    gen = IcebergDdlGenerator(external_volume="my_iceberg_volume")
    result = gen.convert(GOLDEN_DB2_INPUT)
    assert result.success
    assert result.iceberg_ddl == GOLDEN_DB2_OUTPUT
    assert result.tables_converted == 1
    assert result.ewi_count == 0  # TIMESTAMP(9) is COMPATIBLE → no inline marker


def test_identifier_quoting():
    assert format_identifier("plain_name") == "PLAIN_NAME"
    assert format_identifier("ORDER") == '"ORDER"'       # reserved
    assert format_identifier("DATE") == '"DATE"'         # reserved (quirk)
    assert format_identifier("weird-name") == '"weird-name"'
    assert format_identifier("S1.ORDER") == 'S1."ORDER"'


def test_ewi_markers_for_lossy_and_unsupported():
    gen = IcebergDdlGenerator()
    result = gen.convert(
        "CREATE TABLE S.T (A XML, B DECFLOAT(16), C CHAR(5) FIELDPROC FP, "
        "D BIGINT GENERATED ALWAYS AS IDENTITY);")
    ddl = result.iceberg_ddl
    assert "!!!RESOLVE EWI!!!" in ddl
    assert "SSC-EWI-DB2ICE-0005" in ddl   # XML
    assert "SSC-EWI-DB2ICE-0007" in ddl   # DECFLOAT
    assert "SSC-EWI-DB2ICE-0011" in ddl   # FIELDPROC
    assert "SSC-EWI-DB2ICE-0014" in ddl   # GENERATED
    # CHAR is COMPATIBLE → no 0001 inline marker (converter quirk preserved)
    assert "SSC-EWI-DB2ICE-0001" not in ddl
    assert result.ewi_count == 4


def test_volatile_becomes_temporary():
    result = convert_ddl("CREATE VOLATILE TABLE S.SCRATCH (A INTEGER);")
    assert "CREATE OR REPLACE TEMPORARY TABLE S.SCRATCH" in result.iceberg_ddl
    assert "SSC-EWI-DB2ICE-0030" in result.iceberg_ddl
    assert "ICEBERG" not in result.iceberg_ddl.split("\n")[3]
    assert result.ewi_count == 1


def test_partition_and_cluster_clauses():
    result = convert_ddl(
        "CREATE TABLE S.EV (ID BIGINT NOT NULL, D DATE NOT NULL) "
        "PARTITION BY RANGE (D);\nDISTRIBUTE BY HASH (ID);")
    assert "PARTITION BY (D)" in result.iceberg_ddl
    assert "CLUSTER BY (ID)" in result.iceberg_ddl


def test_constraint_comments():
    result = convert_ddl(
        "CREATE TABLE S.A (X INTEGER NOT NULL, Y INTEGER, "
        "PRIMARY KEY (X), CONSTRAINT FKY FOREIGN KEY (Y) REFERENCES S.B (X), "
        "CONSTRAINT UQY UNIQUE (Y), CONSTRAINT CKY CHECK (Y > 0));")
    ddl = result.iceberg_ddl
    assert "-- FOREIGN KEY FKY: (Y) REFERENCES S.B(X)" in ddl
    assert "-- UNIQUE UQY: (Y)" in ddl
    assert "-- CHECK CKY: Y > 0" in ddl
    assert "PRIMARY KEY (X)" in ddl


def test_full_corpus_converts():
    result = convert_ddl(DB2_CORPUS)
    assert result.success
    assert result.tables_converted == 13
    assert result.assessment.tables_total == 13
    assert result.ewi_count > 0


def test_empty_input_fails_gracefully():
    result = convert_ddl("SELECT 1;")
    assert not result.success
    assert result.error_message == "No valid CREATE TABLE statements found"


# ---- Snowflake → Iceberg ---------------------------------------------------

def test_sf_unsupported_types_degrade_to_varchar():
    gen = SnowflakeToIcebergGenerator()
    result = gen.convert(
        "CREATE TABLE A.E (ID INTEGER, DATA VARIANT, LOC GEOGRAPHY, "
        "CREATED TIMESTAMP_NTZ(9));")
    ddl = result.iceberg_ddl
    assert "DATA VARCHAR" in ddl
    assert "SSC-EWI-SF2ICE-0001" in ddl
    assert "LOC VARCHAR" in ddl
    assert "SSC-EWI-SF2ICE-0004" in ddl
    assert "CREATED TIMESTAMP_NTZ(6)" in ddl
    assert "SSC-EWI-SF2ICE-0007" in ddl
    assert result.ewi_count == 3


def test_sf_precision_6_no_ewi():
    result = SnowflakeToIcebergGenerator().convert(
        "CREATE TABLE A.T (TS TIMESTAMP_NTZ(6));")
    assert "SSC-EWI-SF2ICE-0007" not in result.iceberg_ddl
    assert result.ewi_count == 0


def test_sf_keep_and_skip_routing():
    result = SnowflakeToIcebergGenerator().convert(SNOWFLAKE_CORPUS)
    ddl = result.iceberg_ddl
    assert result.tables_converted == 8
    assert "CREATE OR REPLACE TEMPORARY TABLE SCRATCH.CART_SNAPSHOT" in ddl
    assert "CREATE OR REPLACE TRANSIENT TABLE SCRATCH.RAW_LOADS" in ddl
    assert "DYNAMIC TABLE SKIPPED" in ddl
    assert "EXTERNAL TABLE SKIPPED" in ddl
    assert "HYBRID TABLE SKIPPED" in ddl
    # regular tables got the iceberg clauses
    assert ddl.count("CATALOG = 'SNOWFLAKE'") == 3
    # keep-as-standard contributes 0 EWI markers, each skip counts 1
    skip_issue_codes = {"SSC-EWI-SF2ICE-0022", "SSC-EWI-SF2ICE-0023",
                        "SSC-EWI-SF2ICE-0024"}
    assert skip_issue_codes <= {i.code for i in result.issues}


def test_sf_feature_ewis():
    result = SnowflakeToIcebergGenerator().convert(
        "CREATE TABLE A.F (ID NUMBER(38,0) IDENTITY, "
        "NAME VARCHAR(10) COLLATE 'en-ci', "
        "SSN VARCHAR(11) WITH MASKING POLICY mp);")
    ddl = result.iceberg_ddl
    assert "SSC-EWI-SF2ICE-0015" in ddl  # identity
    assert "SSC-EWI-SF2ICE-0017" in ddl  # collate
    assert "SSC-EWI-SF2ICE-0016" in ddl  # masking policy
    assert result.ewi_count == 3


def test_sf_assessment_synthesis():
    result = SnowflakeToIcebergGenerator().convert(SNOWFLAKE_CORPUS)
    report = snowflake_assessment_report(result, SNOWFLAKE_CORPUS)
    assert report.tables_total == 8
    assert report.tables_blocked == 3       # dynamic, external, hybrid
    assert report.tables_manual == 4        # temp, transient, 2× cluster_by
    assert report.tables_auto == 1
    assert report.partition_score == 100
    levels = {t.table_name: t.readiness_level for t in report.table_assessments}
    assert levels["DAILY_ROLLUP"] == ReadinessLevel.RED
    assert levels["CART_SNAPSHOT"] == ReadinessLevel.YELLOW
    # cluster_by quirk: score 85 but YELLOW
    dim = next(t for t in report.table_assessments
               if t.table_name == "DIM_ACCOUNT")
    assert dim.readiness_score == 85
    assert dim.readiness_level == ReadinessLevel.YELLOW


# ---- Golden pins over the whole fixture corpora -----------------------------
# The files under tests/golden/ hold the exact output for the DB2 and
# Snowflake fixture corpora: temp tables, keep/skip routing, PK lines, EWI
# markers and constraint comments. Any byte of drift fails here.

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def _golden(name: str) -> str:
    with open(os.path.join(GOLDEN, name), encoding="utf-8") as f:
        return f.read()


def test_golden_db2_corpus():
    result = convert_ddl(DB2_CORPUS)
    assert result.iceberg_ddl == _golden("db2_corpus.iceberg.sql")
    assert result.ewi_count == 11
    assert result.assessment.to_json() == _golden("db2_corpus.assessment.json")


def test_golden_snowflake_corpus():
    result = SnowflakeToIcebergGenerator().convert(SNOWFLAKE_CORPUS)
    assert result.iceberg_ddl == _golden("snowflake_corpus.iceberg.sql")
    assert result.ewi_count == 15
    issues = json.dumps([i.to_dict() for i in result.issues], indent=2)
    assert issues == _golden("snowflake_corpus.issues.json")
    report = snowflake_assessment_report(result, SNOWFLAKE_CORPUS)
    assert report.to_json() == _golden("snowflake_corpus.report.json")
