"""Migration-readiness assessment engine.

Scoring semantics match the reference exactly (reference: db2ice/assessor.py:152-517):
per-table penalty accumulation over columns/constraints/procs/partitioning with
``score = max(0, 100 - Σpenalty)``, four component scores averaged across tables,
weighted overall score (0.40/0.20/0.15/0.25), and GREEN≥80 / YELLOW≥50 / RED
traffic-light bucketing.

Two deliberate engineering differences from the reference:
- each column's type mapping is read from ``ColumnDef.mapping``, resolved once
  and shared with the converter and the Spark catalog and migration planner
  (the reference re-maps every column per phase, assessor.py:295-302 vs
  converter.py:260-267);
- the same assessment is also available as DataFrame aggregations over the
  schema-catalog/issues DataFrames (see catalog.py) for catalog-scale inputs.
"""

from __future__ import annotations

from .ddl.db2_parser import DB2DdlParser
from .mapping import EWI
from .model import (
    AssessmentReport,
    ConversionStatus,
    Issue,
    ReadinessLevel,
    Severity,
    TableAssessment,
    TableDef,
)

# Component weights (assessor.py:159-164)
WEIGHTS = {"datatype": 0.40, "constraint": 0.20, "partition": 0.15, "special": 0.25}

# Table-score penalties (assessor.py:167-180)
PENALTIES = {
    "unsupported_type": 25,
    "lossy_conversion": 10,
    "compatible_type": 2,
    "editproc": 50,
    "validproc": 40,
    "fieldproc": 50,
    "xml_column": 30,
    "foreign_key": 5,
    "check_constraint": 5,
    "complex_partition": 20,
    "generated_column": 15,
    "large_lob": 10,
}

# EWI codes that count against the datatype component (assessor.py:445-449)
_DATATYPE_CODES = {EWI[k] for k in (
    "CHAR_TO_VARCHAR", "PRECISION_ADJUST", "TIME_PRECISION", "TIMESTAMP_PRECISION",
    "XML_UNSUPPORTED", "GRAPHIC_CONVERT", "DECFLOAT_CONVERT", "LOB_SIZE_LIMIT",
    "ROWID_CONVERT", "FOR_BIT_DATA")}
_CONSTRAINT_CODES = {EWI["CHECK_CONSTRAINT"], EWI["FOREIGN_KEY"]}
_SPECIAL_CODES = {EWI["FIELDPROC"], EWI["EDITPROC"], EWI["VALIDPROC"],
                  EWI["GENERATED_COL"]}


def score_to_level(score: float) -> ReadinessLevel:
    """Traffic-light bucketing (assessor.py:467-474)."""
    if score >= 80:
        return ReadinessLevel.GREEN
    if score >= 50:
        return ReadinessLevel.YELLOW
    return ReadinessLevel.RED


class Assessor:
    """Assesses parsed DB2 DDL for Iceberg conversion readiness."""

    def __init__(self) -> None:
        self.parser = DB2DdlParser()

    def assess(self, ddl: str) -> AssessmentReport:
        """Full pipeline: parse → per-table assess → roll-up
        (assessor.py:186-274)."""
        return self.assess_tables(self.parser.parse(ddl))

    def assess_tables(self, tables: list[TableDef]) -> AssessmentReport:
        report = AssessmentReport()
        if not tables:
            report.critical_issues.append(Issue(
                code="SSC-EWI-DB2ICE-0000",
                severity=Severity.CRITICAL,
                message="No valid CREATE TABLE statements found in input",
            ))
            return report

        report.tables_total = len(tables)
        component_sums = {"datatype": 0.0, "constraint": 0.0,
                          "partition": 0.0, "special": 0.0}

        for table in tables:
            ta = self.assess_table(table)
            report.table_assessments.append(ta)
            report.total_columns += ta.column_count
            report.total_constraints += ta.constraint_count
            for dtype, n in ta.type_distribution.items():
                report.type_distribution[dtype] = (
                    report.type_distribution.get(dtype, 0) + n)
            for issue in ta.issues:
                bucket = {
                    Severity.CRITICAL: report.critical_issues,
                    Severity.WARNING: report.warnings,
                }.get(issue.severity, report.info_items)
                bucket.append(issue)
            if ta.can_auto_convert:
                report.tables_auto += 1
            elif any(i.severity == Severity.CRITICAL for i in ta.issues):
                report.tables_blocked += 1
            else:
                report.tables_manual += 1
            for key, val in self.component_scores(ta).items():
                component_sums[key] += val

        n = len(tables)
        report.datatype_score = component_sums["datatype"] / n
        report.constraint_score = component_sums["constraint"] / n
        report.partition_score = component_sums["partition"] / n
        report.special_features_score = component_sums["special"] / n
        report.overall_score = (
            report.datatype_score * WEIGHTS["datatype"]
            + report.constraint_score * WEIGHTS["constraint"]
            + report.partition_score * WEIGHTS["partition"]
            + report.special_features_score * WEIGHTS["special"]
        )
        report.overall_level = score_to_level(report.overall_score)
        report.features_used = self.feature_usage(tables)
        return report

    def assess_table(self, table: TableDef) -> TableAssessment:
        """Penalty accumulation for one table (assessor.py:276-430)."""
        ta = TableAssessment(
            table_name=table.name,
            schema=table.schema,
            column_count=len(table.columns),
            constraint_count=len(table.constraints),
        )
        penalties = 0

        for col in table.columns:
            base_type = col.data_type.split("(")[0].strip()
            ta.type_distribution[base_type] = ta.type_distribution.get(base_type, 0) + 1

            mapping = col.mapping
            if mapping.status == ConversionStatus.UNSUPPORTED:
                penalties += PENALTIES["unsupported_type"]
                ta.can_auto_convert = False
                ta.issues.append(Issue(
                    code=mapping.ewi_code or "SSC-EWI-DB2ICE-0099",
                    severity=Severity.CRITICAL,
                    message=mapping.ewi_message or f"Unsupported type: {col.data_type}",
                    table_name=table.full_name, column_name=col.name,
                    suggestion="Manual conversion required - consider alternative "
                               "data model"))
            elif mapping.status == ConversionStatus.LOSSY:
                penalties += PENALTIES["lossy_conversion"]
                ta.issues.append(Issue(
                    code=mapping.ewi_code or "SSC-EWI-DB2ICE-0098",
                    severity=Severity.WARNING,
                    message=mapping.ewi_message or f"Lossy conversion: {col.data_type}",
                    table_name=table.full_name, column_name=col.name,
                    suggestion="Review data to ensure no precision/data loss"))
            elif mapping.status == ConversionStatus.COMPATIBLE and mapping.ewi_code:
                penalties += PENALTIES["compatible_type"]
                ta.issues.append(Issue(
                    code=mapping.ewi_code, severity=Severity.INFO,
                    message=mapping.ewi_message,
                    table_name=table.full_name, column_name=col.name))

            if col.fieldproc:
                penalties += PENALTIES["fieldproc"]
                ta.can_auto_convert = False
                ta.issues.append(Issue(
                    code=EWI["FIELDPROC"], severity=Severity.CRITICAL,
                    message=f"FIELDPROC {col.fieldproc} - column data may be "
                            "encrypted/transformed",
                    table_name=table.full_name, column_name=col.name,
                    suggestion="Review FIELDPROC logic - data transformation "
                               "required before migration"))

            if col.generated:
                penalties += PENALTIES["generated_column"]
                ta.issues.append(Issue(
                    code=EWI["GENERATED_COL"], severity=Severity.WARNING,
                    message=f"GENERATED {col.generated} column - Iceberg does not "
                            "support generated columns",
                    table_name=table.full_name, column_name=col.name,
                    suggestion="Remove GENERATED clause or compute values during ETL"))

        for constraint in table.constraints:
            if constraint.kind == "FOREIGN KEY":
                penalties += PENALTIES["foreign_key"]
                ta.issues.append(Issue(
                    code=EWI["FOREIGN_KEY"], severity=Severity.INFO,
                    message="Foreign key constraint - not enforced in Iceberg tables",
                    table_name=table.full_name,
                    suggestion="Foreign key will be documented but not enforced"))
            elif constraint.kind == "CHECK":
                penalties += PENALTIES["check_constraint"]
                ta.issues.append(Issue(
                    code=EWI["CHECK_CONSTRAINT"], severity=Severity.INFO,
                    message="CHECK constraint - not enforced in Iceberg tables",
                    table_name=table.full_name,
                    suggestion="CHECK constraint will be documented but not enforced"))

        if table.editproc:
            penalties += PENALTIES["editproc"]
            ta.can_auto_convert = False
            ta.issues.append(Issue(
                code=EWI["EDITPROC"], severity=Severity.CRITICAL,
                message=f"EDITPROC {table.editproc} - table uses edit procedure "
                        "for data transformation",
                table_name=table.full_name,
                suggestion="Review EDITPROC logic - data may require transformation "
                           "before migration"))

        if table.validproc:
            penalties += PENALTIES["validproc"]
            ta.can_auto_convert = False
            ta.issues.append(Issue(
                code=EWI["VALIDPROC"], severity=Severity.CRITICAL,
                message=f"VALIDPROC {table.validproc} - table uses validation "
                        "procedure",
                table_name=table.full_name,
                suggestion="Implement validation logic in application layer or "
                           "Snowflake procedures"))

        if table.partition:
            if table.partition.kind == "HASH":
                penalties += PENALTIES["complex_partition"]
                ta.issues.append(Issue(
                    code=EWI["PARTITION_COMPLEX"], severity=Severity.WARNING,
                    message="HASH partitioning not directly supported - will be "
                            "removed",
                    table_name=table.full_name,
                    suggestion="Iceberg uses automatic micro-partitioning"))
            elif table.partition.kind == "RANGE":
                ta.issues.append(Issue(
                    code=EWI["PARTITION_COMPLEX"], severity=Severity.INFO,
                    message="RANGE partitioning will be removed - Iceberg uses "
                            "automatic partitioning",
                    table_name=table.full_name,
                    suggestion="Consider Iceberg partition transforms if needed"))

        ta.readiness_score = max(0, 100 - penalties)
        ta.readiness_level = score_to_level(ta.readiness_score)
        return ta

    @staticmethod
    def component_scores(ta: TableAssessment) -> dict:
        """Per-category 0-100 sub-scores from issue codes (assessor.py:432-465)."""
        scores = {"datatype": 100.0, "constraint": 100.0,
                  "partition": 100.0, "special": 100.0}
        for issue in ta.issues:
            code, sev = issue.code, issue.severity
            if "DATATYPE" in code or code in _DATATYPE_CODES:
                hit = 5 if sev == Severity.INFO else 15 if sev == Severity.WARNING else 30
                scores["datatype"] = max(0, scores["datatype"] - hit)
            elif code in _CONSTRAINT_CODES:
                hit = 5 if sev == Severity.INFO else 10
                scores["constraint"] = max(0, scores["constraint"] - hit)
            elif code == EWI["PARTITION_COMPLEX"]:
                hit = 10 if sev == Severity.INFO else 20
                scores["partition"] = max(0, scores["partition"] - hit)
            elif code in _SPECIAL_CODES:
                hit = 10 if sev == Severity.INFO else 25 if sev == Severity.WARNING else 50
                scores["special"] = max(0, scores["special"] - hit)
        return scores

    @staticmethod
    def feature_usage(tables: list[TableDef]) -> dict:
        """Feature counters across the corpus (assessor.py:476-517)."""
        features = {k: 0 for k in (
            "editproc", "validproc", "fieldproc", "partitioning",
            "generated_columns", "foreign_keys", "check_constraints",
            "xml_columns", "graphic_columns", "lob_columns")}
        for table in tables:
            features["editproc"] += bool(table.editproc)
            features["validproc"] += bool(table.validproc)
            features["partitioning"] += bool(table.partition)
            for col in table.columns:
                t = col.data_type.upper()
                features["fieldproc"] += bool(col.fieldproc)
                features["generated_columns"] += bool(col.generated)
                features["xml_columns"] += t == "XML"
                features["graphic_columns"] += t in (
                    "GRAPHIC", "VARGRAPHIC", "DBCLOB", "LONG VARGRAPHIC")
                features["lob_columns"] += t in ("CLOB", "BLOB", "DBCLOB")
            for c in table.constraints:
                features["foreign_keys"] += c.kind == "FOREIGN KEY"
                features["check_constraints"] += c.kind == "CHECK"
        return features


def assess_ddl(ddl: str) -> dict:
    """Convenience wrapper returning the JSON-shaped dict (assessor.py:520-527)."""
    return Assessor().assess(ddl).to_dict()
