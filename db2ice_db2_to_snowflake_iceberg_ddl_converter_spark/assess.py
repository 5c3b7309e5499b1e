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

Each table is walked once: every issue goes to the table, to its report
bucket and to its component sub-score as it is made, and the feature
counters are taken in the same walk. A table ``table_findings`` flags gets
one WARNING issue per finding (EWI 0021) and no penalty, so the score
agrees with ``catalog.assess_catalog``.
"""

from __future__ import annotations

from .ddl.db2_parser import DB2DdlParser, table_findings
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

_CRITICAL, _WARNING, _INFO = Severity.CRITICAL, Severity.WARNING, Severity.INFO
_UNSUPPORTED = ConversionStatus.UNSUPPORTED
_LOSSY = ConversionStatus.LOSSY
_COMPATIBLE = ConversionStatus.COMPATIBLE

# Points an issue takes off its component's 0-100 sub-score, by severity
# (assessor.py:432-465); a sub-score never falls below 0.
_POINTS = {
    "datatype": {_INFO: 5, _WARNING: 15, _CRITICAL: 30},
    "constraint": {_INFO: 5, _WARNING: 10, _CRITICAL: 10},
    "partition": {_INFO: 10, _WARNING: 20, _CRITICAL: 20},
    "special": {_INFO: 10, _WARNING: 25, _CRITICAL: 50},
}

_FEATURES = ("editproc", "validproc", "fieldproc", "partitioning",
             "generated_columns", "foreign_keys", "check_constraints",
             "xml_columns", "graphic_columns", "lob_columns")
# The feature counters a column type adds to
_TYPE_FEATURES = {
    "XML": ("xml_columns",),
    "GRAPHIC": ("graphic_columns",),
    "VARGRAPHIC": ("graphic_columns",),
    "LONG VARGRAPHIC": ("graphic_columns",),
    "DBCLOB": ("graphic_columns", "lob_columns"),
    "CLOB": ("lob_columns",),
    "BLOB": ("lob_columns",),
}


def _component(code: str):
    """The sub-score an issue code counts against, or None."""
    if "DATATYPE" in code or code in _DATATYPE_CODES:
        return "datatype"
    if code in _CONSTRAINT_CODES:
        return "constraint"
    if code == EWI["PARTITION_COMPLEX"]:
        return "partition"
    if code in _SPECIAL_CODES:
        return "special"
    return None


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

        n = report.tables_total = len(tables)
        sums = dict.fromkeys(WEIGHTS, 0.0)
        buckets = {_CRITICAL: report.critical_issues, _WARNING: report.warnings,
                   _INFO: report.info_items}
        features = dict.fromkeys(_FEATURES, 0)
        for table in tables:
            ta, lost = self._assess(table, buckets, features)
            report.table_assessments.append(ta)
            report.total_columns += ta.column_count
            report.total_constraints += ta.constraint_count
            for dtype, k in ta.type_distribution.items():
                report.type_distribution[dtype] = (
                    report.type_distribution.get(dtype, 0) + k)
            # every issue that blocks auto-conversion is critical
            if ta.can_auto_convert:
                report.tables_auto += 1
            else:
                report.tables_blocked += 1
            for key in sums:
                sums[key] += max(0, 100.0 - lost[key])

        report.datatype_score = sums["datatype"] / n
        report.constraint_score = sums["constraint"] / n
        report.partition_score = sums["partition"] / n
        report.special_features_score = sums["special"] / n
        report.overall_score = (
            report.datatype_score * WEIGHTS["datatype"]
            + report.constraint_score * WEIGHTS["constraint"]
            + report.partition_score * WEIGHTS["partition"]
            + report.special_features_score * WEIGHTS["special"]
        )
        report.overall_level = score_to_level(report.overall_score)
        report.features_used = features
        return report

    def assess_table(self, table: TableDef) -> TableAssessment:
        """Penalty accumulation for one table (assessor.py:276-430)."""
        return self._assess(table, {_CRITICAL: [], _WARNING: [], _INFO: []},
                            dict.fromkeys(_FEATURES, 0))[0]

    @staticmethod
    def _assess(table: TableDef, buckets: dict,
                features: dict) -> tuple[TableAssessment, dict]:
        """One walk over the table: its assessment and the points each
        component sub-score lost. Each issue also goes to its report
        bucket, and the table's features are added to ``features``."""
        full_name = table.full_name
        ta = TableAssessment(table.name, table.schema, len(table.columns),
                             len(table.constraints))
        issues, dist = ta.issues, ta.type_distribution
        lost = dict.fromkeys(WEIGHTS, 0)
        penalties = 0

        def add(code, severity, message, column=None, suggestion=None):
            issue = Issue(code, severity, message, full_name, column, suggestion)
            issues.append(issue)
            buckets[severity].append(issue)
            component = _component(code)
            if component:
                lost[component] += _POINTS[component][severity]
            if severity is _CRITICAL:
                ta.can_auto_convert = False

        # a table that cannot be created as parsed: reported, no penalty
        for finding in table_findings(table):
            add(EWI["MALFORMED_TABLE"], _WARNING, finding)

        for col in table.columns:
            base_type = col.data_type.split("(")[0].strip()
            dist[base_type] = dist.get(base_type, 0) + 1

            mapping = col.mapping
            status = mapping.status
            if status is _UNSUPPORTED:
                penalties += PENALTIES["unsupported_type"]
                add(mapping.ewi_code or "SSC-EWI-DB2ICE-0099", _CRITICAL,
                    mapping.ewi_message or f"Unsupported type: {col.data_type}",
                    col.name, "Manual conversion required - consider "
                              "alternative data model")
            elif status is _LOSSY:
                penalties += PENALTIES["lossy_conversion"]
                add(mapping.ewi_code or "SSC-EWI-DB2ICE-0098", _WARNING,
                    mapping.ewi_message or f"Lossy conversion: {col.data_type}",
                    col.name, "Review data to ensure no precision/data loss")
            elif status is _COMPATIBLE and mapping.ewi_code:
                penalties += PENALTIES["compatible_type"]
                add(mapping.ewi_code, _INFO, mapping.ewi_message, col.name)

            if col.fieldproc:
                penalties += PENALTIES["fieldproc"]
                add(EWI["FIELDPROC"], _CRITICAL,
                    f"FIELDPROC {col.fieldproc} - column data may be "
                    "encrypted/transformed", col.name,
                    "Review FIELDPROC logic - data transformation required "
                    "before migration")

            if col.generated:
                penalties += PENALTIES["generated_column"]
                add(EWI["GENERATED_COL"], _WARNING,
                    f"GENERATED {col.generated} column - Iceberg does not "
                    "support generated columns", col.name,
                    "Remove GENERATED clause or compute values during ETL")

            # assessor.py:476-517
            features["fieldproc"] += bool(col.fieldproc)
            features["generated_columns"] += bool(col.generated)
            for key in _TYPE_FEATURES.get(col.data_type.upper(), ()):
                features[key] += 1

        for constraint in table.constraints:
            if constraint.kind == "FOREIGN KEY":
                penalties += PENALTIES["foreign_key"]
                add(EWI["FOREIGN_KEY"], _INFO,
                    "Foreign key constraint - not enforced in Iceberg tables",
                    suggestion="Foreign key will be documented but not "
                               "enforced")
            elif constraint.kind == "CHECK":
                penalties += PENALTIES["check_constraint"]
                add(EWI["CHECK_CONSTRAINT"], _INFO,
                    "CHECK constraint - not enforced in Iceberg tables",
                    suggestion="CHECK constraint will be documented but not "
                               "enforced")

        if table.editproc:
            penalties += PENALTIES["editproc"]
            add(EWI["EDITPROC"], _CRITICAL,
                f"EDITPROC {table.editproc} - table uses edit procedure for "
                "data transformation",
                suggestion="Review EDITPROC logic - data may require "
                           "transformation before migration")

        if table.validproc:
            penalties += PENALTIES["validproc"]
            add(EWI["VALIDPROC"], _CRITICAL,
                f"VALIDPROC {table.validproc} - table uses validation "
                "procedure",
                suggestion="Implement validation logic in application layer "
                           "or Snowflake procedures")

        if table.partition:
            if table.partition.kind == "HASH":
                penalties += PENALTIES["complex_partition"]
                add(EWI["PARTITION_COMPLEX"], _WARNING,
                    "HASH partitioning not directly supported - will be "
                    "removed",
                    suggestion="Iceberg uses automatic micro-partitioning")
            elif table.partition.kind == "RANGE":
                add(EWI["PARTITION_COMPLEX"], _INFO,
                    "RANGE partitioning will be removed - Iceberg uses "
                    "automatic partitioning",
                    suggestion="Consider Iceberg partition transforms if "
                               "needed")

        features["editproc"] += bool(table.editproc)
        features["validproc"] += bool(table.validproc)
        features["partitioning"] += bool(table.partition)
        for c in table.constraints:
            features["foreign_keys"] += c.kind == "FOREIGN KEY"
            features["check_constraints"] += c.kind == "CHECK"

        ta.readiness_score = max(0, 100 - penalties)
        ta.readiness_level = score_to_level(ta.readiness_score)
        return ta, lost


def assess_ddl(ddl: str) -> dict:
    """Convenience wrapper returning the JSON-shaped dict (assessor.py:520-527)."""
    return Assessor().assess(ddl).to_dict()
