"""Schema-plane data model: parsed DDL artifacts and conversion results.

This is the Spark-native re-expression of the reference's dataclass model
(reference: db2ice/parser.py:57-117, db2ice/snowflake_converter.py:19-84,
db2ice/assessor.py:29-149). These objects live on the driver (they are
KB-scale schema artifacts); the data plane consumes them as StructTypes /
cast plans / DataFrame rows (see catalog.py). ``ConversionStatus`` and
``TypeMapping`` are defined next to the rules in mapping.py and re-exported
here. A ``ColumnDef`` maps its type once, when it is built, and keeps the
result as the plain attribute ``mapping``; ``Issue`` uses slots, since an
assessment makes one per finding.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Optional
import json

from .mapping import ConversionStatus, TypeMapping, map_db2_type


class ReadinessLevel(Enum):
    """Traffic-light migration readiness (assessor.py:15-19)."""

    GREEN = "green"
    YELLOW = "yellow"
    RED = "red"


class Severity(Enum):
    """Issue severity (assessor.py:22-26)."""

    CRITICAL = "critical"
    WARNING = "warning"
    INFO = "info"


@dataclass
class ColumnDef:
    """One parsed DB2 column (parser.py:57-72).

    ``mapping`` is this column's Iceberg ``TypeMapping``, resolved once when
    the column is built and shared by the assessment, the DDL text, the
    StructType and the cast plan. It is a plain attribute, not a field, so
    ``asdict``, ``==`` and ``repr`` see the parsed column only; build a new
    column (or ``dataclasses.replace``) to change the type fields.
    """

    name: str
    data_type: str
    length: Optional[int] = None
    precision: Optional[int] = None
    scale: Optional[int] = None
    nullable: bool = True
    default: Optional[str] = None
    generated: Optional[str] = None  # "ALWAYS" | "BY DEFAULT"
    ccsid: Optional[str] = None
    for_bit_data: bool = False
    fieldproc: Optional[str] = None
    raw_definition: str = ""

    def __post_init__(self) -> None:
        self.mapping: TypeMapping = map_db2_type(
            self.data_type, self.length, self.precision, self.scale,
            self.for_bit_data)


@dataclass
class ConstraintDef:
    """One parsed table constraint (parser.py:74-82)."""

    kind: str  # PRIMARY KEY | UNIQUE | FOREIGN KEY | CHECK
    name: Optional[str] = None
    columns: list = field(default_factory=list)
    reference_table: Optional[str] = None
    reference_columns: list = field(default_factory=list)
    check_condition: Optional[str] = None


@dataclass
class PartitionSpec:
    """PARTITION BY RANGE|HASH spec (parser.py:85-91)."""

    kind: str  # RANGE | HASH
    columns: list = field(default_factory=list)
    raw_definition: str = ""


@dataclass
class TableDef:
    """One parsed DB2 table (parser.py:94-117)."""

    schema: Optional[str] = None
    name: str = ""
    columns: list = field(default_factory=list)
    constraints: list = field(default_factory=list)
    partition: Optional[PartitionSpec] = None
    distribute_by_hash: Optional[str] = None
    tablespace: Optional[str] = None
    editproc: Optional[str] = None
    validproc: Optional[str] = None
    audit: Optional[str] = None
    data_capture: Optional[str] = None
    ccsid: Optional[str] = None
    volatile: bool = False
    global_temporary: bool = False
    raw_ddl: str = ""

    @property
    def full_name(self) -> str:
        return f"{self.schema}.{self.name}" if self.schema else self.name


@dataclass
class SnowflakeColumnDef:
    """One parsed Snowflake column (snowflake_converter.py:19-30)."""

    name: str
    data_type: str
    nullable: bool = True
    default: Optional[str] = None
    identity: Optional[str] = None
    comment: Optional[str] = None
    collate: Optional[str] = None
    masking_policy: Optional[str] = None
    tags: list = field(default_factory=list)


@dataclass
class SnowflakeTableDef:
    """One parsed Snowflake table (snowflake_converter.py:33-62)."""

    name: str
    schema: Optional[str] = None
    database: Optional[str] = None
    columns: list = field(default_factory=list)
    cluster_by: Optional[list] = None
    primary_key: Optional[list] = None
    foreign_keys: list = field(default_factory=list)
    unique_keys: list = field(default_factory=list)
    comment: Optional[str] = None
    transient: bool = False
    temporary: bool = False
    dynamic: bool = False
    external: bool = False
    hybrid: bool = False
    tags: list = field(default_factory=list)
    data_retention_days: Optional[int] = None
    change_tracking: bool = False

    @property
    def full_name(self) -> str:
        parts = [p for p in (self.database, self.schema) if p]
        parts.append(self.name)
        return ".".join(parts)


@dataclass(slots=True)
class Issue:
    """One assessment finding (assessor.py:29-37)."""

    code: str
    severity: Severity
    message: str
    table_name: Optional[str] = None
    column_name: Optional[str] = None
    suggestion: Optional[str] = None

    def to_dict(self) -> dict:
        return {
            "code": self.code,
            "severity": self.severity.value,
            "message": self.message,
            "table": self.table_name,
            "column": self.column_name,
            "suggestion": self.suggestion,
        }


@dataclass
class TableAssessment:
    """Per-table readiness result (assessor.py:40-57)."""

    table_name: str
    schema: Optional[str] = None
    column_count: int = 0
    constraint_count: int = 0
    readiness_score: float = 100.0
    readiness_level: ReadinessLevel = ReadinessLevel.GREEN
    can_auto_convert: bool = True
    issues: list = field(default_factory=list)
    type_distribution: dict = field(default_factory=dict)

    @property
    def full_name(self) -> str:
        return f"{self.schema}.{self.table_name}" if self.schema else self.table_name

    def to_dict(self) -> dict:
        return {
            "name": self.full_name,
            "columns": self.column_count,
            "constraints": self.constraint_count,
            "score": round(self.readiness_score, 1),
            "level": self.readiness_level.value,
            "can_auto_convert": self.can_auto_convert,
            "issues": [i.to_dict() for i in self.issues],
        }


@dataclass
class AssessmentReport:
    """Whole-corpus readiness report (assessor.py:60-149)."""

    tables_total: int = 0
    tables_auto: int = 0
    tables_manual: int = 0
    tables_blocked: int = 0
    overall_score: float = 0.0
    overall_level: ReadinessLevel = ReadinessLevel.GREEN
    datatype_score: float = 0.0
    constraint_score: float = 0.0
    partition_score: float = 0.0
    special_features_score: float = 0.0
    total_columns: int = 0
    total_constraints: int = 0
    critical_issues: list = field(default_factory=list)
    warnings: list = field(default_factory=list)
    info_items: list = field(default_factory=list)
    table_assessments: list = field(default_factory=list)
    type_distribution: dict = field(default_factory=dict)
    features_used: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "summary": {
                "tables_total": self.tables_total,
                "tables_auto_convert": self.tables_auto,
                "tables_manual_review": self.tables_manual,
                "tables_blocked": self.tables_blocked,
            },
            "readiness": {
                "overall_score": round(self.overall_score, 1),
                "overall_level": self.overall_level.value,
                "datatype_score": round(self.datatype_score, 1),
                "constraint_score": round(self.constraint_score, 1),
                "partition_score": round(self.partition_score, 1),
                "special_features_score": round(self.special_features_score, 1),
            },
            "inventory": {
                "total_columns": self.total_columns,
                "total_constraints": self.total_constraints,
            },
            "issues": {
                "critical": [i.to_dict() for i in self.critical_issues],
                "warnings": [i.to_dict() for i in self.warnings],
                "info": [i.to_dict() for i in self.info_items],
            },
            "type_distribution": self.type_distribution,
            "features_used": self.features_used,
            "tables": [t.to_dict() for t in self.table_assessments],
        }

    def to_json(self, indent: int = 2) -> str:
        return json.dumps(self.to_dict(), indent=indent)


@dataclass
class ConversionResult:
    """DB2→Iceberg conversion output (converter.py:14-22)."""

    iceberg_ddl: str
    assessment: AssessmentReport
    ewi_count: int = 0
    tables_converted: int = 0
    success: bool = True
    error_message: Optional[str] = None
    warnings: list = field(default_factory=list)   # DB2DdlParser.warnings


@dataclass
class SnowflakeConversionResult:
    """SF-standard→Iceberg conversion output (snowflake_converter.py:76-84)."""

    iceberg_ddl: str
    tables_converted: int = 0
    ewi_count: int = 0
    success: bool = True
    error_message: Optional[str] = None
    issues: list = field(default_factory=list)
