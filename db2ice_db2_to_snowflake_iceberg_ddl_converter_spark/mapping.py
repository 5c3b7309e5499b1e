"""Type-mapping rules: DB2 → Iceberg/Spark and Snowflake → Iceberg/Spark.

Semantics are bit-for-bit faithful to the reference's rule set
(reference: db2ice/mapper.py:10-26 for ``ConversionStatus`` and
``TypeMapping``, db2ice/mapper.py:43-449 for DB2, db2ice/snowflake_converter.py:357-388
for Snowflake), including its documented quirks (SURVEY.md §4): SMALLINT widens
to INTEGER, CHAR/VARCHAR emit bare STRING, DECIMAL defaults to (5,0), TIME
defaults precision 0 while TIMESTAMP defaults 6, FLOAT(p>24) → DOUBLE.

Design differs from the reference on purpose: instead of one method per type,
the rules live in a dispatch table of small pure functions. Each parsed column
is mapped once, through ``ColumnDef.mapping`` (model.py), and that one
``TypeMapping`` drives (a) the readiness assessment, (b) DDL text generation,
(c) StructType construction and (d) the per-column ``cast`` expressions of the
Spark migration job (the reference re-runs its mapper per column per phase).
This module imports nothing from the package, so ``model.py`` can import it.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Callable, Optional


class ConversionStatus(Enum):
    """How faithful a source→Iceberg type mapping is (mapper.py:10-15)."""

    DIRECT = "direct"
    COMPATIBLE = "compatible"
    LOSSY = "lossy"
    UNSUPPORTED = "unsupported"


@dataclass(frozen=True)
class TypeMapping:
    """Outcome of mapping one source column type (mapper.py:18-26)."""

    source_type: str
    target_type: str
    status: ConversionStatus
    ewi_code: Optional[str] = None
    ewi_message: Optional[str] = None
    notes: Optional[str] = None


# --- EWI catalog (mapper.py:55-76) -----------------------------------------

_PREFIX = "SSC-EWI-DB2ICE-"

EWI = {
    "CHAR_TO_VARCHAR": _PREFIX + "0001",
    "PRECISION_ADJUST": _PREFIX + "0002",
    "TIME_PRECISION": _PREFIX + "0003",
    "TIMESTAMP_PRECISION": _PREFIX + "0004",
    "XML_UNSUPPORTED": _PREFIX + "0005",
    "GRAPHIC_CONVERT": _PREFIX + "0006",
    "DECFLOAT_CONVERT": _PREFIX + "0007",
    "LOB_SIZE_LIMIT": _PREFIX + "0008",
    "ROWID_CONVERT": _PREFIX + "0009",
    "FOR_BIT_DATA": _PREFIX + "0010",
    "FIELDPROC": _PREFIX + "0011",
    "EDITPROC": _PREFIX + "0012",
    "VALIDPROC": _PREFIX + "0013",
    "GENERATED_COL": _PREFIX + "0014",
    "CHECK_CONSTRAINT": _PREFIX + "0015",
    "FOREIGN_KEY": _PREFIX + "0016",
    "PARTITION_COMPLEX": _PREFIX + "0017",
    "CCSID_ENCODING": _PREFIX + "0018",
    "LONG_VARCHAR": _PREFIX + "0019",
    "BINARY_CONVERT": _PREFIX + "0020",
    "UNKNOWN_TYPE": _PREFIX + "0099",
}

# Size ceilings (mapper.py:79-81)
MAX_VARCHAR_SIZE = 16 * 1024 * 1024
MAX_BINARY_SIZE = 8 * 1024 * 1024
MAX_LOB_SIZE = 128 * 1024 * 1024

# Plain renames with DIRECT status (mapper.py:43-52)
_DIRECT = {
    "SMALLINT": "INTEGER",  # Iceberg has no SMALLINT — reference widens
    "INTEGER": "INTEGER",
    "INT": "INTEGER",
    "BIGINT": "BIGINT",
    "REAL": "FLOAT",
    "DOUBLE": "DOUBLE",
    "DATE": "DATE",
    "BOOLEAN": "BOOLEAN",
}


def _src(base: str, length: Optional[int]) -> str:
    return f"{base}({length})" if length else base


def _direct(src: str, target: str, notes: str = None) -> TypeMapping:
    return TypeMapping(src, target, ConversionStatus.DIRECT, notes=notes)


def _compat(src: str, target: str, code: str = None, msg: str = None,
            notes: str = None) -> TypeMapping:
    return TypeMapping(src, target, ConversionStatus.COMPATIBLE,
                       ewi_code=code, ewi_message=msg, notes=notes)


def _lossy(src: str, target: str, code: str, msg: str) -> TypeMapping:
    return TypeMapping(src, target, ConversionStatus.LOSSY,
                       ewi_code=code, ewi_message=msg)


# --- per-family rules (each mirrors one _map_* in mapper.py:187-449) --------

def _rule_char(length, precision, scale):
    # mapper.py:187-196 — fixed-length CHAR has no Iceberg equivalent
    return _compat(
        _src("CHAR", length), "STRING",
        EWI["CHAR_TO_VARCHAR"],
        "CHAR converted to STRING - Iceberg does not support fixed-length CHAR",
        notes="Padding behavior may differ")


def _rule_varchar(length, precision, scale):
    # mapper.py:198-213
    if length and length > MAX_VARCHAR_SIZE:
        return _lossy(f"VARCHAR({length})", "STRING", EWI["LOB_SIZE_LIMIT"],
                      f"VARCHAR({length}) exceeds Iceberg limit, using STRING")
    return _direct(_src("VARCHAR", length), "STRING")


def _rule_long_varchar(length, precision, scale):
    # mapper.py:215-223
    return _compat("LONG VARCHAR", "STRING", EWI["LONG_VARCHAR"],
                   "LONG VARCHAR converted to STRING")


def _rule_clob(length, precision, scale):
    # mapper.py:225-241
    if length and length > MAX_LOB_SIZE:
        return _lossy(f"CLOB({length})", "STRING", EWI["LOB_SIZE_LIMIT"],
                      f"CLOB size {length} exceeds Snowflake 128MB limit - "
                      "data truncation may occur")
    return _compat(_src("CLOB", length), "STRING", notes="CLOB converted to STRING")


def _rule_decimal(length, precision, scale):
    # mapper.py:243-263 — defaults (5,0); precision clamped to 38
    p = precision if precision else 5
    s = scale if scale else 0
    if p > 38:
        return _lossy(f"DECIMAL({precision},{scale})", f"NUMBER(38,{min(s, 37)})",
                      EWI["PRECISION_ADJUST"],
                      f"Precision {precision} exceeds maximum 38, adjusted to 38")
    return _direct(f"DECIMAL({p},{s})", f"NUMBER({p},{s})")


def _rule_float(length, precision, scale):
    # mapper.py:265-277 — FLOAT(p>24) is a double in DB2
    if precision and precision > 24:
        return _direct(f"FLOAT({precision})", "DOUBLE")
    return _direct(_src("FLOAT", precision), "FLOAT")


def _rule_decfloat(length, precision, scale):
    # mapper.py:279-287
    return _lossy(_src("DECFLOAT", precision), "DOUBLE", EWI["DECFLOAT_CONVERT"],
                  "DECFLOAT converted to DOUBLE - decimal floating point "
                  "precision may be lost")


def _rule_time(length, precision, scale):
    # mapper.py:289-304 — default precision 0; Iceberg requires exactly 6
    sp = precision if precision else 0
    if sp != 6:
        return _compat(f"TIME({sp})" if precision else "TIME", "TIME(6)",
                       EWI["TIME_PRECISION"],
                       "TIME precision adjusted to 6 (microseconds) for "
                       "Iceberg compatibility")
    return _direct("TIME(6)", "TIME(6)")


def _rule_timestamp(length, precision, scale):
    # mapper.py:306-321 — default precision 6
    sp = precision if precision else 6
    if sp != 6:
        return _compat(f"TIMESTAMP({sp})", "TIMESTAMP_NTZ(6)",
                       EWI["TIMESTAMP_PRECISION"],
                       "TIMESTAMP precision adjusted to 6 (microseconds) for "
                       "Iceberg compatibility")
    return _direct(f"TIMESTAMP({sp})", "TIMESTAMP_NTZ(6)")


def _rule_binary(length, precision, scale):
    # mapper.py:323-337
    if length and length > MAX_BINARY_SIZE:
        return _lossy(f"BINARY({length})", "BINARY", EWI["LOB_SIZE_LIMIT"],
                      f"BINARY({length}) exceeds Iceberg limit")
    return _direct(_src("BINARY", length), "BINARY")


def _rule_varbinary(length, precision, scale):
    # mapper.py:339-353
    if length and length > MAX_BINARY_SIZE:
        return _lossy(f"VARBINARY({length})", "BINARY", EWI["LOB_SIZE_LIMIT"],
                      f"VARBINARY({length}) exceeds Iceberg limit")
    return _direct(_src("VARBINARY", length), "BINARY")


def _rule_blob(length, precision, scale):
    # mapper.py:355-371
    if length and length > MAX_LOB_SIZE:
        return _lossy(f"BLOB({length})", "BINARY", EWI["LOB_SIZE_LIMIT"],
                      f"BLOB size {length} exceeds Snowflake limit - "
                      "data truncation may occur")
    return _compat(_src("BLOB", length), "BINARY", EWI["BINARY_CONVERT"],
                   "BLOB converted to BINARY")


def _rule_graphic(length, precision, scale):
    # mapper.py:373-381
    return _compat(_src("GRAPHIC", length), "STRING", EWI["GRAPHIC_CONVERT"],
                   "GRAPHIC (DBCS) converted to STRING - verify character encoding")


def _rule_vargraphic(length, precision, scale):
    # mapper.py:383-391
    return _compat(_src("VARGRAPHIC", length), "STRING", EWI["GRAPHIC_CONVERT"],
                   "VARGRAPHIC (DBCS) converted to STRING - verify character encoding")


def _rule_long_vargraphic(length, precision, scale):
    # mapper.py:393-401
    return _compat("LONG VARGRAPHIC", "STRING", EWI["GRAPHIC_CONVERT"],
                   "LONG VARGRAPHIC converted to STRING - verify character encoding")


def _rule_dbclob(length, precision, scale):
    # mapper.py:403-419
    if length and length > MAX_LOB_SIZE:
        return _lossy(f"DBCLOB({length})", "STRING", EWI["LOB_SIZE_LIMIT"],
                      f"DBCLOB size {length} exceeds Snowflake limit - "
                      "data truncation may occur")
    return _compat(_src("DBCLOB", length), "STRING", EWI["GRAPHIC_CONVERT"],
                   "DBCLOB converted to STRING - verify character encoding")


def _rule_xml(length, precision, scale):
    # mapper.py:421-429 — the one UNSUPPORTED type
    return TypeMapping("XML", "STRING", ConversionStatus.UNSUPPORTED,
                       ewi_code=EWI["XML_UNSUPPORTED"],
                       ewi_message="XML type not supported in Iceberg tables - "
                                   "manual conversion required")


def _rule_rowid(length, precision, scale):
    # mapper.py:431-439
    return _lossy("ROWID", "STRING", EWI["ROWID_CONVERT"],
                  "ROWID converted to STRING - values will not be preserved "
                  "during migration")


_RULES: dict[str, Callable] = {
    "CHAR": _rule_char,
    "CHARACTER": _rule_char,
    "VARCHAR": _rule_varchar,
    "CHAR VARYING": _rule_varchar,
    "CHARACTER VARYING": _rule_varchar,
    "LONG VARCHAR": _rule_long_varchar,
    "CLOB": _rule_clob,
    "DECIMAL": _rule_decimal,
    "DEC": _rule_decimal,
    "NUMERIC": _rule_decimal,
    "FLOAT": _rule_float,
    "DECFLOAT": _rule_decfloat,
    "TIME": _rule_time,
    "TIMESTAMP": _rule_timestamp,
    "BINARY": _rule_binary,
    "VARBINARY": _rule_varbinary,
    "BINARY VARYING": _rule_varbinary,
    "BLOB": _rule_blob,
    "GRAPHIC": _rule_graphic,
    "VARGRAPHIC": _rule_vargraphic,
    "LONG VARGRAPHIC": _rule_long_vargraphic,
    "DBCLOB": _rule_dbclob,
    "XML": _rule_xml,
    "ROWID": _rule_rowid,
}


def map_db2_type(db2_type: str, length: Optional[int] = None,
                 precision: Optional[int] = None, scale: Optional[int] = None,
                 for_bit_data: bool = False) -> TypeMapping:
    """Map one DB2 column type to its Iceberg target (mapper.py:87-185).

    Pure function. Parsed columns reach it through ``ColumnDef.mapping``,
    which calls it once per column and keeps the result.
    """
    t = db2_type.upper().strip()

    if for_bit_data:
        # mapper.py:441-449 — any char type FOR BIT DATA becomes BINARY
        src = f"{t}({length}) FOR BIT DATA" if length else f"{t} FOR BIT DATA"
        return _compat(src, "BINARY", EWI["FOR_BIT_DATA"],
                       "FOR BIT DATA converted to BINARY type")

    if t in _DIRECT:
        return _direct(t, _DIRECT[t])

    rule = _RULES.get(t)
    if rule is not None:
        return rule(length, precision, scale)

    # mapper.py:178-185 — unknown-type fallback
    return _lossy(t, "STRING", EWI["UNKNOWN_TYPE"],
                  f"Unknown DB2 type {t} converted to STRING")


# --- Snowflake-standard → Iceberg rules (snowflake_converter.py:355-388) ----

_SF_PREFIX = "SSC-EWI-SF2ICE-"

# Semi-structured / spatial types Iceberg cannot hold — degraded to VARCHAR
# with a critical EWI (snowflake_converter.py:357-366).
SF_UNSUPPORTED_TYPES = {
    "VARIANT": ("VARCHAR", _SF_PREFIX + "0001",
                "VARIANT not supported in Iceberg - converted to VARCHAR. "
                "Parse JSON at query time or use structured types"),
    "OBJECT": ("VARCHAR", _SF_PREFIX + "0002",
               "Semi-structured OBJECT not supported in Iceberg - converted to "
               "VARCHAR. Use structured OBJECT with defined schema instead"),
    "ARRAY": ("VARCHAR", _SF_PREFIX + "0003",
              "Semi-structured ARRAY not supported in Iceberg - converted to "
              "VARCHAR. Use structured ARRAY with defined element type instead"),
    "GEOGRAPHY": ("VARCHAR", _SF_PREFIX + "0004",
                  "GEOGRAPHY not supported in Iceberg - converted to VARCHAR. "
                  "Store as WKT/GeoJSON string"),
    "GEOMETRY": ("VARCHAR", _SF_PREFIX + "0005",
                 "GEOMETRY not supported in Iceberg - converted to VARCHAR. "
                 "Store as WKT/GeoJSON string"),
}

# Temporal types normalized to precision 6 (snowflake_converter.py:369-376).
SF_TEMPORAL_TYPES = {
    "TIME": ("TIME(6)", _SF_PREFIX + "0006",
             "TIME precision adjusted to 6 (microseconds) for Iceberg compatibility"),
    "TIMESTAMP": ("TIMESTAMP_NTZ(6)", _SF_PREFIX + "0007",
                  "TIMESTAMP precision adjusted to 6 (microseconds) for "
                  "Iceberg compatibility"),
    "TIMESTAMP_NTZ": ("TIMESTAMP_NTZ(6)", _SF_PREFIX + "0007",
                      "TIMESTAMP_NTZ precision adjusted to 6 for Iceberg compatibility"),
    "TIMESTAMP_LTZ": ("TIMESTAMP_LTZ(6)", _SF_PREFIX + "0008",
                      "TIMESTAMP_LTZ precision adjusted to 6 for Iceberg compatibility"),
    "TIMESTAMP_TZ": ("TIMESTAMP_LTZ(6)", _SF_PREFIX + "0009",
                     "TIMESTAMP_TZ converted to TIMESTAMP_LTZ(6) for "
                     "Iceberg compatibility"),
    "DATETIME": ("TIMESTAMP_NTZ(6)", _SF_PREFIX + "0007",
                 "DATETIME converted to TIMESTAMP_NTZ(6) for Iceberg compatibility"),
}

# Table/column features with no Iceberg counterpart
# (snowflake_converter.py:379-388).
SF_UNSUPPORTED_FEATURES = {
    "transient": (_SF_PREFIX + "0010",
                  "TRANSIENT tables not supported in Iceberg - will be persistent"),
    "temporary": (_SF_PREFIX + "0011", "TEMPORARY tables not supported in Iceberg"),
    "cluster_by": (_SF_PREFIX + "0012",
                   "CLUSTER BY not directly supported - Iceberg uses different "
                   "optimization"),
    "data_retention": (_SF_PREFIX + "0013",
                       "DATA_RETENTION_TIME_IN_DAYS not applicable to Iceberg tables"),
    "change_tracking": (_SF_PREFIX + "0014",
                        "CHANGE_TRACKING not applicable to Iceberg tables"),
    "identity": (_SF_PREFIX + "0015",
                 "IDENTITY/AUTOINCREMENT not supported in Iceberg tables"),
    "masking_policy": (_SF_PREFIX + "0016",
                       "Masking policies need to be re-applied after conversion"),
    "collate": (_SF_PREFIX + "0017", "COLLATE clause not supported in Iceberg tables"),
}
