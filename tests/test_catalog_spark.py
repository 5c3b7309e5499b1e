"""Spark data-plane tests: StructType bridge, schema-catalog aggregation
assessment, and the end-to-end migrate job on real parquet fixtures."""

import json
import os

import pytest
from pyspark.sql import types as T

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.catalog import (
    assess_catalog,
    cast_plan,
    schema_catalog_df,
    spark_type_for,
    struct_type_for,
    type_distribution,
)
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.convert import (
    IcebergDdlGenerator,
    format_identifier,
)
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.ddl import DB2DdlParser
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.sources.migrate import (
    migrate_table,
)

from fixtures import DB2_CORPUS


def test_spark_type_bridge():
    assert spark_type_for("INTEGER") == T.IntegerType()
    assert spark_type_for("BIGINT") == T.LongType()
    assert spark_type_for("NUMBER(15,2)") == T.DecimalType(15, 2)
    assert spark_type_for("TIMESTAMP_NTZ(6)") == T.TimestampNTZType()
    assert spark_type_for("TIMESTAMP_LTZ(6)") == T.TimestampType()
    assert spark_type_for("TIME(6)") == T.LongType()
    assert spark_type_for("STRING") == T.StringType()
    assert spark_type_for("BINARY") == T.BinaryType()


def test_struct_type_carries_metadata():
    tables = DB2DdlParser().parse(
        "CREATE TABLE S.T (A INTEGER NOT NULL, B CHAR(5) FIELDPROC FP, "
        "C DECIMAL(12,2) DEFAULT 0);")
    st = struct_type_for(tables[0])
    assert st.fieldNames() == ["A", "B", "C"]
    assert not st["A"].nullable
    assert st["B"].metadata["fieldproc"] == "FP"
    assert st["B"].metadata["ewi_code"] == "SSC-EWI-DB2ICE-0001"
    assert st["C"].dataType == T.DecimalType(12, 2)
    assert st["C"].metadata["default"] == "0"


@pytest.fixture(scope="module")
def corpus_catalog(spark):
    return schema_catalog_df(spark, DB2DdlParser().parse(DB2_CORPUS))


def test_schema_catalog_rows(corpus_catalog):
    rows = {(r.table_name, r.column_name): r for r in corpus_catalog.collect()}
    xml = rows[("PURCHASES", "PAYLOAD_XML")]
    assert xml.status == "unsupported" and xml.target_type == "STRING"
    wide = rows[("ITEMS", "WIDE_NUM")]
    assert wide.target_type == "NUMBER(38,5)" and wide.status == "lossy"


def test_assess_catalog_matches_driver_scores(spark, corpus_catalog):
    """The DataFrame aggregation must reproduce the pure-Python scores."""
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.assess import Assessor

    tables = DB2DdlParser().parse(DB2_CORPUS)
    expected = {(t.schema, t.name): Assessor().assess_table(t)
                for t in tables}
    got = {(r.table_schema, r.table_name): r
           for r in assess_catalog(corpus_catalog).collect()}
    assert set(got) == set(expected)
    for key, ta in expected.items():
        assert got[key].readiness_score == ta.readiness_score, key
        assert got[key].readiness_level == ta.readiness_level.value, key
        assert got[key].can_auto_convert == ta.can_auto_convert, key


# Each case triggers one weight ``hits`` times and nothing else that the
# move could touch; both scorers must move by ``hits`` per point of weight.
_ONE_WEIGHT = {
    "unsupported_type": ("CREATE TABLE S.T (A INTEGER, B XML, C XML);", 2),
    "lossy_conversion": (
        "CREATE TABLE S.T (A NUMERIC(42,5), B DECFLOAT(16));", 2),
    "compatible_type": (
        "CREATE TABLE S.T (A GRAPHIC(64), B VARGRAPHIC(20));", 2),
    "editproc": ("CREATE TABLE S.T (A INTEGER) EDITPROC EP;", 1),
    "validproc": ("CREATE TABLE S.T (A INTEGER) VALIDPROC VP;", 1),
    "fieldproc": ("CREATE TABLE S.T (A INTEGER, B CHAR(5) FIELDPROC FP);", 1),
    "foreign_key": (
        "CREATE TABLE S.T (A INTEGER, B INTEGER, "
        "CONSTRAINT F1 FOREIGN KEY (A) REFERENCES S.P (A), "
        "CONSTRAINT F2 FOREIGN KEY (B) REFERENCES S.Q (B));", 2),
    "check_constraint": (
        "CREATE TABLE S.T (A INTEGER, B INTEGER, "
        "CONSTRAINT C1 CHECK (A > 0), CONSTRAINT C2 CHECK (B > 0));", 2),
    "complex_partition": (
        "CREATE TABLE S.T (A INTEGER) PARTITION BY HASH (A);", 1),
    "generated_column": (
        "CREATE TABLE S.T (A INTEGER GENERATED ALWAYS AS IDENTITY, "
        "B INTEGER GENERATED BY DEFAULT AS IDENTITY);", 2),
}


@pytest.mark.parametrize("key", sorted(_ONE_WEIGHT))
def test_penalty_weights_have_one_source(spark, monkeypatch, key):
    """Both scorers read ``assess.PENALTIES``: moving one weight moves both,
    for every weight ``assess_catalog`` reads."""
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import assess

    ddl, hits = _ONE_WEIGHT[key]
    tables = DB2DdlParser().parse(ddl)
    assert len(tables) == 1

    def scores():
        driver = assess.Assessor().assess_table(tables[0]).readiness_score
        catalog = assess_catalog(schema_catalog_df(spark, tables)).collect()
        return driver, catalog[0].readiness_score

    before = scores()
    monkeypatch.setitem(assess.PENALTIES, key, assess.PENALTIES[key] + 3)
    after = scores()
    assert before[0] == before[1]
    assert after[0] == after[1] == before[0] - 3 * hits


def test_assess_catalog_leaves_no_views(spark):
    """Two catalogs assessed in one session each get their own result, and
    no temp view registered for the SQL text outlives the call."""
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.assess import Assessor

    def views():
        return sorted((t.name, t.tableType) for t in spark.catalog.listTables())

    before = views()
    scripts = (DB2_CORPUS,
               "CREATE TABLE S.A (X XML, Y INTEGER);\n"
               "CREATE TABLE S.B (Z INTEGER) EDITPROC E;")
    built = []
    for ddl in scripts:
        tables = DB2DdlParser().parse(ddl)
        built.append((tables, assess_catalog(schema_catalog_df(spark, tables))))
    for tables, df in built:
        want = {(t.schema, t.name): Assessor().assess_table(t)
                for t in tables}
        got = {(r.table_schema, r.table_name): r for r in df.collect()}
        assert set(got) == set(want)
        for key, ta in want.items():
            assert got[key].n_columns == ta.column_count, key
            assert got[key].readiness_score == ta.readiness_score, key
            assert got[key].can_auto_convert == ta.can_auto_convert, key
    assert views() == before


def test_each_column_is_mapped_once(spark, monkeypatch):
    """Assessment, DDL text, StructType, cast plan and schema catalog all
    read ``ColumnDef.mapping``: one ``map_db2_type`` call per parsed column."""
    import sys

    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark import mapping
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.assess import Assessor

    real = mapping.map_db2_type
    calls = []

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    # count through every package module that holds the function by name,
    # so a consumer importing it directly is counted too
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith(mapping.__package__)
                and getattr(mod, "map_db2_type", None) is real):
            monkeypatch.setattr(mod, "map_db2_type", counted)

    tables = DB2DdlParser().parse(DB2_CORPUS)
    Assessor().assess_tables(tables)
    gen = IcebergDdlGenerator()
    for t in tables:
        gen.table_ddl(t)
        struct_type_for(t)
        cast_plan(t)
    schema_catalog_df(spark, tables)
    n_columns = sum(len(t.columns) for t in tables)
    assert n_columns > 0
    assert len(calls) == n_columns


def test_type_distribution(corpus_catalog):
    dist = {r.base_type: r.n for r in type_distribution(corpus_catalog).collect()}
    assert dist["INTEGER"] >= 5
    assert dist["XML"] == 1


# tests/golden/db2_corpus.catalog.json pins the catalog of DB2_CORPUS: its
# schema, its rows, the per-table assessment and the type histogram.

GOLDEN_CATALOG = os.path.join(os.path.dirname(__file__), "golden",
                              "db2_corpus.catalog.json")


def _catalog_pins(catalog):
    def rows(df):
        return [r.asDict() for r in df.collect()]

    return {
        "schema": catalog.schema.json(),
        "rows": sorted(rows(catalog),
                       key=lambda r: (r["table_name"], r["ordinal"])),
        "assess_catalog": sorted(rows(assess_catalog(catalog)),
                                 key=lambda r: (r["table_schema"],
                                                r["table_name"])),
        "type_distribution": rows(type_distribution(catalog)),
    }


def test_golden_db2_corpus_catalog(corpus_catalog):
    with open(GOLDEN_CATALOG, encoding="utf-8") as f:
        want = json.load(f)
    assert _catalog_pins(corpus_catalog) == want


# The row pins above compare values only, so an int -> bigint drift in an
# aggregation would pass them; these pin both aggregations' schemas.

GOLDEN_CATALOG_SCHEMAS = os.path.join(os.path.dirname(__file__), "golden",
                                      "db2_corpus.catalog_schemas.json")


def test_golden_db2_corpus_aggregation_schemas(corpus_catalog):
    with open(GOLDEN_CATALOG_SCHEMAS, encoding="utf-8") as f:
        want = json.load(f)
    assert {"assess_catalog": assess_catalog(corpus_catalog).schema.json(),
            "type_distribution": type_distribution(corpus_catalog).schema.json(),
            } == want


def test_catalog_pass_plans_without_shuffle(corpus_catalog):
    """The catalog is one Arrow partition decoded in the JVM: both
    aggregations run without an Exchange, and no LocalRelation copies the
    rows into the task plans."""
    optimized = corpus_catalog._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in optimized
    for df in (assess_catalog(corpus_catalog), type_distribution(corpus_catalog)):
        assert df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_empty_catalog(spark, corpus_catalog):
    empty = schema_catalog_df(spark, [])
    assert empty.schema == corpus_catalog.schema
    assert empty.collect() == []
    assert assess_catalog(empty).collect() == []
    assert type_distribution(empty).collect() == []


def test_migrate_customer_end_to_end(spark, sf_dir, tmp_path):
    """Parse DDL for the customer fixture → cast plan → write → re-read."""
    ddl = """
    CREATE TABLE TPCH.CUSTOMER (
        C_CUSTKEY BIGINT NOT NULL,
        C_NAME VARCHAR(100),
        C_NATIONKEY INTEGER NOT NULL,
        C_ACCTBAL DECIMAL(12,2),
        C_MKTSEGMENT CHAR(10),
        PRIMARY KEY (C_CUSTKEY)
    );
    DISTRIBUTE BY HASH (C_NATIONKEY);
    """
    table = DB2DdlParser().parse(ddl)[0]
    dest = str(tmp_path / "customer_iceberg")
    migrate_table(spark, table, f"{sf_dir}/customer.parquet", dest,
                  cluster_partitions=4)
    out = spark.read.parquet(dest)
    assert out.count() == spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert dict(out.dtypes)["C_ACCTBAL"] == "decimal(12,2)"
    assert dict(out.dtypes)["C_MKTSEGMENT"] == "string"

    # the DDL text, the migrated files and struct_type_for agree per column
    text, _ = IcebergDdlGenerator().table_ddl(table)
    ddl_types = {line.split()[0]: line.rstrip(",").split()[1]
                 for line in text.splitlines() if line.startswith("    ")}
    want = struct_type_for(table)
    for col in table.columns:
        assert ddl_types[format_identifier(col.name)] == col.mapping.target_type
        assert out.schema[col.name].dataType == want[col.name].dataType


def test_migrate_partitioned_write(spark, sf_dir, tmp_path):
    ddl = """
    CREATE TABLE TPCH.ORDERS (
        O_ORDERKEY BIGINT NOT NULL,
        O_CUSTKEY BIGINT,
        O_ORDERSTATUS CHAR(1),
        O_TOTALPRICE DOUBLE,
        O_ORDERPRIORITY VARCHAR(20)
    ) PARTITION BY RANGE (O_ORDERSTATUS);
    """
    table = DB2DdlParser().parse(ddl)[0]
    dest = str(tmp_path / "orders_part")
    migrate_table(spark, table, f"{sf_dir}/orders.parquet", dest)
    import os
    parts = [d for d in os.listdir(dest) if d.startswith("O_ORDERSTATUS=")]
    assert parts, "expected hive-style partition dirs"
    out = spark.read.parquet(dest)
    assert out.count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_migrate_missing_column_raises(spark, sf_dir, tmp_path):
    table = DB2DdlParser().parse(
        "CREATE TABLE T.C (NO_SUCH_COL INTEGER);")[0]
    with pytest.raises(ValueError, match="lacks columns"):
        migrate_table(spark, table, f"{sf_dir}/customer.parquet",
                      str(tmp_path / "x"))
