"""DDL generation: DB2 → Iceberg and Snowflake-Standard → Iceberg.

Output semantics follow the reference generators (reference:
db2ice/converter.py:25-408 and db2ice/snowflake_converter.py:340-776):
- regular DB2 tables → ``CREATE OR REPLACE ICEBERG TABLE`` with mapped column
  types, inline EWI markers (UNSUPPORTED/LOSSY + FIELDPROC/GENERATED only,
  converter.py:272-298), PK inline, PARTITION BY / CLUSTER BY carried over,
  CATALOG/EXTERNAL_VOLUME/BASE_LOCATION clauses, constraint doc-comments;
- VOLATILE / GLOBAL TEMPORARY → ``CREATE OR REPLACE TEMPORARY TABLE`` + EWI 0030;
- Snowflake TEMPORARY/TRANSIENT → kept as Standard (0 EWI markers by design,
  snowflake_converter.py:547-613); DYNAMIC/EXTERNAL/HYBRID → skipped with a
  critical issue counting as 1 EWI (snowflake_converter.py:615-649).

DB2 column types are read from each column's ``ColumnDef.mapping``, the same
object the assessment and the Spark catalog read. Both generators build the
comma-joined column list with its trailing PRIMARY KEY line, and the
CATALOG/EXTERNAL_VOLUME/BASE_LOCATION clauses, through one helper each. Comment
lines and EWI markers are always emitted; the only settings are the deployment
ones, ``external_volume`` and ``base_location_pattern``.

The matching *data-plane* writer (read source → cast per mapping → write
Parquet/Iceberg, honoring partition/cluster intent) lives in sources/migrate.py.
"""

from __future__ import annotations

import re
from typing import Optional

from .assess import Assessor, score_to_level
from .ddl.db2_parser import DB2DdlParser
from .ddl.snowflake_parser import SnowflakeDdlParser
from .mapping import (
    EWI,
    SF_TEMPORAL_TYPES,
    SF_UNSUPPORTED_FEATURES,
    SF_UNSUPPORTED_TYPES,
)
from .model import (
    AssessmentReport,
    ColumnDef,
    ConstraintDef,
    ConversionResult,
    ConversionStatus,
    Issue,
    ReadinessLevel,
    Severity,
    SnowflakeColumnDef,
    SnowflakeConversionResult,
    SnowflakeTableDef,
    TableAssessment,
    TableDef,
)

EWI_MARKER = "!!!RESOLVE EWI!!! /*** {code} - {message} ***/!!!"

_RESERVED = {"ORDER", "GROUP", "SELECT", "FROM", "WHERE", "TABLE", "INDEX",
             "CREATE", "DROP", "ALTER", "INSERT", "UPDATE", "DELETE", "VALUES",
             "AND", "OR", "NOT", "NULL", "TRUE", "FALSE", "DATE", "TIME",
             "TIMESTAMP"}

_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def format_identifier(identifier: str) -> str:
    """Quote reserved/special identifiers, upper-case the rest
    (converter.py:313-343)."""
    if "." in identifier:
        first, rest = identifier.split(".", 1)
        return f"{_format_one(first)}.{_format_one(rest)}"
    return _format_one(identifier)


def _format_one(identifier: str) -> str:
    if identifier.upper() in _RESERVED or not _PLAIN_IDENT.match(identifier):
        return f'"{identifier}"'
    return identifier.upper()


def _ewi(code: str, message: str) -> str:
    return EWI_MARKER.format(code=code, message=message)


def _column_line(parts: list[str], markers: list[str]) -> str:
    """Space-joined column definition, then one indented line per marker."""
    return "\n".join([" ".join(parts)] + [f"        {m}" for m in markers])


def _column_list(lines: list[str], pk: Optional[list]) -> list[str]:
    """Column lines plus a trailing PRIMARY KEY line, comma-joined."""
    if pk is not None:
        lines = lines + [
            f"    PRIMARY KEY ({', '.join(format_identifier(c) for c in pk)})"]
    return [line + "," for line in lines[:-1]] + lines[-1:]


def _iceberg_clauses(table, external_volume: str,
                     base_location_pattern: str) -> list[str]:
    """CATALOG / EXTERNAL_VOLUME / BASE_LOCATION; the location is the pattern
    with {schema} and {table} substituted, lowercased (converter.py:345-353)."""
    location = (base_location_pattern
                .replace("{schema}", (table.schema or "default").lower())
                .replace("{table}", table.name.lower()))
    return ["CATALOG = 'SNOWFLAKE'",
            f"EXTERNAL_VOLUME = '{external_volume}'",
            f"BASE_LOCATION = '{location}'"]


class IcebergDdlGenerator:
    """DB2 model → Snowflake-managed Iceberg DDL text (converter.py:25-394)."""

    def __init__(self, external_volume: str = "<EXTERNAL_VOLUME>",
                 base_location_pattern: str = "{schema}/{table}") -> None:
        self.external_volume = external_volume
        self.base_location_pattern = base_location_pattern
        self.parser = DB2DdlParser()
        self.assessor = Assessor()

    def convert(self, ddl: str) -> ConversionResult:
        """Assess + parse + per-table emit (converter.py:62-101).

        Unlike the reference, the DDL is parsed once and the parse is shared
        with the assessment (the reference parses twice, converter.py:78-81).
        """
        tables = self.parser.parse(ddl)
        result = ConversionResult(
            iceberg_ddl="", assessment=self.assessor.assess_tables(tables))
        if not tables:
            result.success = False
            result.error_message = "No valid CREATE TABLE statements found"
            return result

        statements = []
        total_ewi = 0
        for table in tables:
            stmt, n = self.table_ddl(table)
            statements.append(stmt)
            total_ewi += n
        result.iceberg_ddl = "\n\n".join(statements)
        result.ewi_count = total_ewi
        result.tables_converted = len(tables)
        return result

    def table_ddl(self, table: TableDef) -> tuple[str, int]:
        """One table → (DDL text, EWI marker count) (converter.py:103-183)."""
        if table.volatile or table.global_temporary:
            return self._temp_table_ddl(table)

        body, ewi_count = self._column_block(table)
        lines = [f"-- Converted from DB2: {table.full_name}"]
        if table.editproc:
            lines.append(f"-- WARNING: Original table had EDITPROC: {table.editproc}")
        if table.validproc:
            lines.append(f"-- WARNING: Original table had VALIDPROC: {table.validproc}")
        lines += [f"CREATE OR REPLACE ICEBERG TABLE "
                  f"{format_identifier(table.full_name)} (", *body, ")"]

        if table.partition and table.partition.columns:
            cols = ", ".join(format_identifier(c) for c in table.partition.columns)
            lines.append(f"PARTITION BY ({cols})")
        if table.distribute_by_hash:
            lines.append(f"CLUSTER BY ({format_identifier(table.distribute_by_hash)})")
        lines += _iceberg_clauses(table, self.external_volume,
                                  self.base_location_pattern)

        comments = self._constraint_comments(table.constraints)
        if comments:
            lines += ["", *comments]
        lines.append(";")
        return "\n".join(lines), ewi_count

    def _temp_table_ddl(self, table: TableDef) -> tuple[str, int]:
        """VOLATILE / GTT → Snowflake TEMPORARY, non-Iceberg
        (converter.py:185-242)."""
        origin = "VOLATILE" if table.volatile else "GLOBAL TEMPORARY"
        body, ewi_count = self._column_block(table)
        lines = [
            f"-- Converted from DB2 {origin} table: {table.full_name}",
            "-- Kept as Snowflake TEMPORARY (Iceberg doesn't support "
            "temporary tables)",
            "-- Table will remain session-scoped as originally intended",
            f"CREATE OR REPLACE TEMPORARY TABLE "
            f"{format_identifier(table.full_name)} (",
            *body,
            ");",
            "",
            "-- " + _ewi("SSC-EWI-DB2ICE-0030",
                         f"{origin} table kept as Snowflake TEMPORARY - Iceberg "
                         "doesn't support temporary tables"),
        ]
        return "\n".join(lines), ewi_count + 1

    def _column_block(self, table: TableDef) -> tuple[list[str], int]:
        """Column lines + trailing PK line, and their EWI marker count."""
        cols = [self.column_ddl(col) for col in table.columns]
        pk = next((c.columns for c in table.constraints
                   if c.kind == "PRIMARY KEY"), None)
        return (_column_list([line for line, _ in cols], pk),
                sum(n for _, n in cols))

    def column_ddl(self, col: ColumnDef) -> tuple[str, int]:
        """One column line with EWI markers (converter.py:244-307).

        Markers appear only for UNSUPPORTED/LOSSY mappings plus FIELDPROC and
        GENERATED; COMPATIBLE-with-EWI issues surface in the assessment but not
        inline — a reference quirk preserved (converter.py:272-278).
        """
        mapping = col.mapping
        parts = [f"    {format_identifier(col.name)}", mapping.target_type]
        markers: list[str] = []
        if mapping.ewi_code and mapping.status in (
                ConversionStatus.UNSUPPORTED, ConversionStatus.LOSSY):
            markers.append(_ewi(mapping.ewi_code, mapping.ewi_message))
        if not col.nullable:
            parts.append("NOT NULL")
        if col.fieldproc:
            markers.append(_ewi(EWI["FIELDPROC"],
                                f"FIELDPROC {col.fieldproc} - data may be "
                                "encrypted/transformed"))
        if col.generated:
            markers.append(_ewi(EWI["GENERATED_COL"],
                                f"GENERATED {col.generated} not supported in Iceberg"))
        return _column_line(parts, markers), len(markers)

    @staticmethod
    def _constraint_comments(constraints: list[ConstraintDef]) -> list[str]:
        """FK/UNIQUE/CHECK doc-comments (converter.py:366-394)."""
        out: list[str] = []
        for c in constraints:
            if c.kind == "PRIMARY KEY":
                continue
            tag = f" {c.name}" if c.name else ""
            if c.kind == "FOREIGN KEY":
                out.append(f"-- FOREIGN KEY{tag}: ({', '.join(c.columns)}) "
                           f"REFERENCES {c.reference_table}"
                           f"({', '.join(c.reference_columns)})")
                out.append("-- NOTE: Foreign keys are not enforced in Iceberg tables")
            elif c.kind == "UNIQUE":
                out.append(f"-- UNIQUE{tag}: ({', '.join(c.columns)})")
                out.append("-- NOTE: UNIQUE constraints are not enforced in "
                           "Iceberg tables")
            elif c.kind == "CHECK":
                out.append(f"-- CHECK{tag}: {c.check_condition}")
                out.append("-- NOTE: CHECK constraints are not enforced in "
                           "Iceberg tables")
        return out


class SnowflakeToIcebergGenerator:
    """Snowflake-Standard model → Iceberg DDL with keep/skip routing
    (snowflake_converter.py:340-649)."""

    def __init__(self, external_volume: str = "<EXTERNAL_VOLUME>",
                 base_location_pattern: str = "{schema}/{table}") -> None:
        self.external_volume = external_volume
        self.base_location_pattern = base_location_pattern
        self.parser = SnowflakeDdlParser()

    def convert(self, ddl: str) -> SnowflakeConversionResult:
        tables = self.parser.parse(ddl)
        result = SnowflakeConversionResult(iceberg_ddl="")
        if not tables:
            result.success = False
            result.error_message = "No valid CREATE TABLE statements found"
            return result
        statements = []
        for table in tables:
            stmt, n, issues = self.table_ddl(table)
            statements.append(stmt)
            result.ewi_count += n
            result.issues.extend(issues)
        result.iceberg_ddl = "\n\n".join(statements)
        result.tables_converted = len(tables)
        return result

    def table_ddl(self, table: SnowflakeTableDef) -> tuple[str, int, list[Issue]]:
        """Route by table type, then emit (snowflake_converter.py:427-545)."""
        if table.temporary:
            return self._keep_standard(table, "TEMPORARY")
        if table.transient:
            return self._keep_standard(table, "TRANSIENT")
        if table.dynamic:
            return self._skip(table, "DYNAMIC",
                              "Dynamic tables auto-refresh from a query and cannot "
                              "be converted to Iceberg. Consider creating the "
                              "underlying source tables as Iceberg instead.")
        if table.external:
            return self._skip(table, "EXTERNAL",
                              "External tables reference data in external stages. "
                              "Consider using Iceberg tables with the same external "
                              "volume instead.")
        if table.hybrid:
            return self._skip(table, "HYBRID",
                              "Hybrid tables are optimized for HTAP workloads. "
                              "Iceberg tables have different performance "
                              "characteristics for mixed workloads.")

        cols = [self.column_ddl(col, table.full_name) for col in table.columns]
        issues = [issue for _, _, col_issues in cols for issue in col_issues]
        lines = [f"-- Converted from Snowflake Standard: {table.full_name}",
                 f"CREATE OR REPLACE ICEBERG TABLE {table.full_name.upper()} (",
                 *_column_list([line for line, _, _ in cols],
                               table.primary_key or None),
                 ")",
                 *_iceberg_clauses(table, self.external_volume,
                                   self.base_location_pattern)]

        notes: list[str] = []
        if table.cluster_by:
            notes.append(f"-- Original CLUSTER BY: ({', '.join(table.cluster_by)})")
            notes.append("-- NOTE: Iceberg uses automatic optimization instead "
                         "of explicit clustering")
            code, msg = SF_UNSUPPORTED_FEATURES["cluster_by"]
            issues.append(Issue(
                code=code, severity=Severity.INFO, message=msg,
                suggestion="Consider Iceberg table optimization strategies",
                table_name=table.full_name))
        if table.data_retention_days:
            notes.append(f"-- Original DATA_RETENTION_TIME_IN_DAYS: "
                         f"{table.data_retention_days}")
        if table.change_tracking:
            notes.append("-- Original CHANGE_TRACKING: TRUE")
        for fk in table.foreign_keys:
            notes.append(f"-- FOREIGN KEY ({', '.join(fk['columns'])}) "
                         f"REFERENCES {fk['ref_table']}"
                         f"({', '.join(fk['ref_columns'])})")
            notes.append("-- NOTE: Foreign keys are not enforced in Iceberg tables")
        for uk in table.unique_keys:
            notes.append(f"-- UNIQUE ({', '.join(uk)})")
            notes.append("-- NOTE: UNIQUE constraints are not enforced in "
                         "Iceberg tables")
        if table.comment:
            notes.append(f"-- Table comment: {table.comment}")
        if notes:
            lines += ["", *notes]
        lines.append(";")
        return "\n".join(lines), sum(n for _, n, _ in cols), issues

    def _keep_standard(self, table: SnowflakeTableDef,
                       kind: str) -> tuple[str, int, list[Issue]]:
        """TEMPORARY/TRANSIENT stay Snowflake-Standard; 0 inline EWIs
        (snowflake_converter.py:547-613)."""
        reasons = {
            "TEMPORARY": (
                "Iceberg does not support temporary tables",
                "The table will remain session-scoped as originally intended",
                "SSC-EWI-SF2ICE-0020",
                "Table will remain session-scoped. Consider if temporary table is "
                "needed in target architecture."),
            "TRANSIENT": (
                "Iceberg tables always have durability (no transient option)",
                "The table will remain without Fail-safe as originally intended",
                "SSC-EWI-SF2ICE-0021",
                "Table will remain transient (no Fail-safe). Consider if transient "
                "behavior is needed or if Iceberg durability is acceptable."),
        }
        why, detail, code, suggestion = reasons[kind]
        lines = [f"-- {kind} table kept as Snowflake Standard "
                 "(not converted to Iceberg)",
                 f"-- Reason: {why}",
                 f"-- {detail}",
                 f"CREATE OR REPLACE {kind} TABLE {table.full_name.upper()} (",
                 *_column_list([self._standard_column(c) for c in table.columns],
                               table.primary_key or None),
                 ");"]
        issue = Issue(code=code, severity=Severity.INFO,
                      message=f"{kind} table kept as Snowflake Standard - {why}",
                      suggestion=suggestion, table_name=table.full_name)
        return "\n".join(lines), 0, [issue]

    def _skip(self, table: SnowflakeTableDef, kind: str,
              reason: str) -> tuple[str, int, list[Issue]]:
        """DYNAMIC/EXTERNAL/HYBRID emit a comment block only
        (snowflake_converter.py:615-649)."""
        codes = {"DYNAMIC": "SSC-EWI-SF2ICE-0022",
                 "EXTERNAL": "SSC-EWI-SF2ICE-0023",
                 "HYBRID": "SSC-EWI-SF2ICE-0024"}
        lines = [f"-- !!!! {kind} TABLE SKIPPED - Cannot convert to Iceberg !!!!",
                 f"-- Table: {table.full_name}",
                 f"-- Reason: {reason}",
                 "-- Action required: Review and handle this table manually"]
        issue = Issue(code=codes[kind],
                      severity=Severity.CRITICAL,
                      message=f"{kind} table cannot be converted to Iceberg: "
                              f"{table.full_name}",
                      suggestion=reason, table_name=table.full_name)
        return "\n".join(lines), 1, [issue]

    @staticmethod
    def _standard_column(col: SnowflakeColumnDef) -> str:
        parts = [f"    {format_identifier(col.name)}", col.data_type]
        if not col.nullable:
            parts.append("NOT NULL")
        if col.identity:
            parts.append("AUTOINCREMENT")
        if col.default:
            parts.append(f"DEFAULT {col.default}")
        return " ".join(parts)

    def column_ddl(self, col: SnowflakeColumnDef,
                   table_name: str) -> tuple[str, int, list[Issue]]:
        """One SF column → Iceberg line (snowflake_converter.py:667-748)."""
        issues: list[Issue] = []
        markers: list[str] = []
        parts = [f"    {format_identifier(col.name)}"]

        data_type = col.data_type
        base_m = re.match(r"(\w+)", data_type) if data_type else None
        base = base_m.group(1).upper() if base_m else "VARCHAR"

        if base in SF_UNSUPPORTED_TYPES:
            data_type, code, msg = SF_UNSUPPORTED_TYPES[base]
            markers.append(_ewi(code, msg))
            issues.append(Issue(code=code, severity=Severity.CRITICAL,
                                message=msg, table_name=table_name,
                                column_name=col.name))
        elif base in SF_TEMPORAL_TYPES:
            pm = re.search(r"\((\d+)\)", data_type)
            current = int(pm.group(1)) if pm else None
            data_type, code, msg = SF_TEMPORAL_TYPES[base]
            if current is not None and current != 6:
                markers.append(_ewi(code, msg))
                issues.append(Issue(code=code, severity=Severity.INFO,
                                    message=msg, table_name=table_name,
                                    column_name=col.name))

        parts.append(data_type)
        if not col.nullable:
            parts.append("NOT NULL")

        for flag, feature, sev, suggestion in (
                (col.identity, "identity", Severity.WARNING,
                 "Use application-generated IDs or sequences"),
                (col.masking_policy, "masking_policy", Severity.WARNING,
                 f"Re-apply masking policy {col.masking_policy} after conversion"),
                (col.collate, "collate", Severity.INFO, None)):
            if flag:
                code, msg = SF_UNSUPPORTED_FEATURES[feature]
                marker_msg = msg if feature == "identity" else f"{msg}: {flag}"
                markers.append(_ewi(code, marker_msg))
                issues.append(Issue(code=code, severity=sev, message=msg,
                                    suggestion=suggestion, table_name=table_name,
                                    column_name=col.name))

        return _column_line(parts, markers), len(markers), issues


def snowflake_assessment_report(result: SnowflakeConversionResult,
                                ddl: str) -> AssessmentReport:
    """Derive an assessment from SF→Iceberg conversion issues (app.py:414-525).

    Preserved quirks: base 95 with -15/critical -5/warning; fixed sub-scores;
    per-table level decided by table *type* (cluster_by → score 85 yet YELLOW);
    issue→table attachment by case-insensitive substring match (app.py:520-521).
    """
    tables = SnowflakeDdlParser().parse(ddl)
    report = AssessmentReport()
    report.tables_total = len(tables)
    report.total_columns = sum(len(t.columns) for t in tables)

    for issue in result.issues:
        bucket = {Severity.CRITICAL: report.critical_issues,
                  Severity.WARNING: report.warnings}.get(issue.severity,
                                                         report.info_items)
        bucket.append(issue)

    report.overall_score = max(0, min(100, 95 - 15 * len(report.critical_issues)
                                      - 5 * len(report.warnings)))
    report.overall_level = score_to_level(report.overall_score)
    report.datatype_score = (85 if any("type" in i.message.lower()
                                       for i in result.issues) else 98)
    report.constraint_score = 95
    report.partition_score = 100
    report.special_features_score = 80 if report.warnings else 95

    report.tables_blocked = sum(1 for t in tables
                                if t.dynamic or t.external or t.hybrid)
    report.tables_manual = sum(1 for t in tables
                               if t.temporary or t.transient or t.cluster_by)
    report.tables_auto = (report.tables_total - report.tables_blocked
                          - report.tables_manual)

    all_issues = report.critical_issues + report.warnings + report.info_items
    for t in tables:
        ta = TableAssessment(table_name=t.name, schema=t.schema or "default")
        ta.column_count = len(t.columns)
        ta.constraint_count = ((1 if t.primary_key else 0)
                               + len(t.foreign_keys) + len(t.unique_keys))
        if t.dynamic or t.external or t.hybrid:
            ta.readiness_level, ta.readiness_score = ReadinessLevel.RED, 0
        elif t.temporary or t.transient:
            ta.readiness_level, ta.readiness_score = ReadinessLevel.YELLOW, 70
        elif t.cluster_by:
            ta.readiness_level, ta.readiness_score = ReadinessLevel.YELLOW, 85
        else:
            ta.readiness_level, ta.readiness_score = ReadinessLevel.GREEN, 95
        ta.issues = [i for i in all_issues
                     if i.table_name and t.name.upper() in i.table_name.upper()]
        report.table_assessments.append(ta)
    return report


def convert_ddl(ddl: str, external_volume: str = "<EXTERNAL_VOLUME>",
                base_location: str = "{schema}/{table}") -> ConversionResult:
    """Convenience wrapper (converter.py:397-408)."""
    return IcebergDdlGenerator(external_volume=external_volume,
                               base_location_pattern=base_location).convert(ddl)
