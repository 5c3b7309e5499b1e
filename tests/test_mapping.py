"""Table-driven tests for the DB2 → Iceberg type rules (mapper semantics,
reference db2ice/mapper.py:87-449 incl. the SURVEY §4 quirks)."""

import hashlib
import itertools
import json
import os

import pytest

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.mapping import (
    EWI,
    MAX_BINARY_SIZE,
    MAX_LOB_SIZE,
    MAX_VARCHAR_SIZE,
    map_db2_type,
)
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.model import ConversionStatus

D = ConversionStatus.DIRECT
C = ConversionStatus.COMPATIBLE
L = ConversionStatus.LOSSY
U = ConversionStatus.UNSUPPORTED


CASES = [
    # (type, kwargs, expected target, expected status, expected ewi code)
    ("SMALLINT", {}, "INTEGER", D, None),          # widened on purpose
    ("INTEGER", {}, "INTEGER", D, None),
    ("INT", {}, "INTEGER", D, None),
    ("BIGINT", {}, "BIGINT", D, None),
    ("REAL", {}, "FLOAT", D, None),
    ("DOUBLE", {}, "DOUBLE", D, None),
    ("DATE", {}, "DATE", D, None),
    ("BOOLEAN", {}, "BOOLEAN", D, None),
    ("CHAR", {"length": 10}, "STRING", C, EWI["CHAR_TO_VARCHAR"]),
    ("CHARACTER", {"length": 3}, "STRING", C, EWI["CHAR_TO_VARCHAR"]),
    ("VARCHAR", {"length": 100}, "STRING", D, None),
    ("VARCHAR", {"length": MAX_VARCHAR_SIZE + 1}, "STRING", L, EWI["LOB_SIZE_LIMIT"]),
    ("LONG VARCHAR", {}, "STRING", C, EWI["LONG_VARCHAR"]),
    ("CLOB", {"length": 1024}, "STRING", C, None),
    ("CLOB", {"length": MAX_LOB_SIZE + 1}, "STRING", L, EWI["LOB_SIZE_LIMIT"]),
    ("DECIMAL", {"precision": 15, "scale": 2}, "NUMBER(15,2)", D, None),
    ("DEC", {"precision": 7}, "NUMBER(7,0)", D, None),
    ("NUMERIC", {}, "NUMBER(5,0)", D, None),       # default (5,0)
    ("DECIMAL", {"precision": 42, "scale": 5}, "NUMBER(38,5)", L,
     EWI["PRECISION_ADJUST"]),
    ("DECIMAL", {"precision": 40, "scale": 39}, "NUMBER(38,37)", L,
     EWI["PRECISION_ADJUST"]),                     # scale clamped to 37
    ("FLOAT", {"precision": 30}, "DOUBLE", D, None),
    ("FLOAT", {"precision": 20}, "FLOAT", D, None),
    ("FLOAT", {}, "FLOAT", D, None),
    ("DECFLOAT", {"precision": 16}, "DOUBLE", L, EWI["DECFLOAT_CONVERT"]),
    ("TIME", {}, "TIME(6)", C, EWI["TIME_PRECISION"]),     # default precision 0
    ("TIME", {"precision": 6}, "TIME(6)", D, None),
    ("TIMESTAMP", {}, "TIMESTAMP_NTZ(6)", D, None),        # default precision 6
    ("TIMESTAMP", {"precision": 12}, "TIMESTAMP_NTZ(6)", C,
     EWI["TIMESTAMP_PRECISION"]),
    ("BINARY", {"length": 64}, "BINARY", D, None),
    ("BINARY", {"length": MAX_BINARY_SIZE + 1}, "BINARY", L, EWI["LOB_SIZE_LIMIT"]),
    ("VARBINARY", {"length": 128}, "BINARY", D, None),
    ("BLOB", {"length": 4096}, "BINARY", C, EWI["BINARY_CONVERT"]),
    ("BLOB", {"length": MAX_LOB_SIZE + 1}, "BINARY", L, EWI["LOB_SIZE_LIMIT"]),
    ("GRAPHIC", {"length": 20}, "STRING", C, EWI["GRAPHIC_CONVERT"]),
    ("VARGRAPHIC", {"length": 50}, "STRING", C, EWI["GRAPHIC_CONVERT"]),
    ("LONG VARGRAPHIC", {}, "STRING", C, EWI["GRAPHIC_CONVERT"]),
    ("DBCLOB", {"length": 100}, "STRING", C, EWI["GRAPHIC_CONVERT"]),
    ("DBCLOB", {"length": MAX_LOB_SIZE + 1}, "STRING", L, EWI["LOB_SIZE_LIMIT"]),
    ("XML", {}, "STRING", U, EWI["XML_UNSUPPORTED"]),
    ("ROWID", {}, "STRING", L, EWI["ROWID_CONVERT"]),
    ("WEIRDTYPE", {}, "STRING", L, EWI["UNKNOWN_TYPE"]),
]


@pytest.mark.parametrize("db2_type,kwargs,target,status,code", CASES)
def test_mapping_rule(db2_type, kwargs, target, status, code):
    m = map_db2_type(db2_type, **kwargs)
    assert m.target_type == target
    assert m.status == status
    assert m.ewi_code == code


def test_for_bit_data_overrides_everything():
    m = map_db2_type("CHAR", length=16, for_bit_data=True)
    assert m.target_type == "BINARY"
    assert m.status == C
    assert m.ewi_code == EWI["FOR_BIT_DATA"]
    assert m.source_type == "CHAR(16) FOR BIT DATA"


def test_mapping_is_pure_and_cacheable():
    a = map_db2_type("DECIMAL", precision=10, scale=2)
    b = map_db2_type("DECIMAL", precision=10, scale=2)
    assert a == b


def test_case_insensitive_and_trimmed():
    assert map_db2_type(" integer ").target_type == "INTEGER"


# tests/golden/mapping_grid.json pins every TypeMapping field that
# map_db2_type returns over a grid: each type token the DB2 parser's
# ``_TYPE_RE`` recognises (plus one unknown type), each (length, precision,
# scale) drawn from the edge values below, with and without FOR BIT DATA.
# Per token it stores the sha256 of the whole grid's records, in grid
# order, and the sorted distinct outputs, so a diff shows what moved.
# To rewrite it, write _dump_grid(_grid_pins()) to the file.

GOLDEN_GRID = os.path.join(os.path.dirname(__file__), "golden",
                           "mapping_grid.json")

GRID_TOKENS = (
    "SMALLINT", "INTEGER", "INT", "BIGINT", "DECFLOAT", "DECIMAL", "DEC",
    "NUMERIC", "REAL", "FLOAT", "DOUBLE", "CHARACTER VARYING", "CHAR VARYING",
    "VARCHAR", "LONG VARCHAR", "CHARACTER", "CHAR", "CLOB", "GRAPHIC",
    "VARGRAPHIC", "LONG VARGRAPHIC", "DBCLOB", "BINARY VARYING", "VARBINARY",
    "BINARY", "BLOB", "DATE", "TIMESTAMP", "TIME", "XML", "ROWID", "BOOLEAN",
    "WEIRDTYPE")
GRID_VALUES = (None, 0, 1, 5, 6, 24, 25, 38, 39, MAX_VARCHAR_SIZE + 1,
               MAX_LOB_SIZE + 1)


def _grid_pins() -> dict:
    pins = {}
    for token in GRID_TOKENS:
        for for_bit_data in (False, True):
            rows = []
            for length, precision, scale in itertools.product(
                    GRID_VALUES, repeat=3):
                m = map_db2_type(token, length, precision, scale, for_bit_data)
                rows.append([m.source_type, m.target_type, m.status.value,
                             m.ewi_code, m.ewi_message, m.notes])
            text = json.dumps(rows)
            key = f"{token} FOR BIT DATA" if for_bit_data else token
            pins[key] = {
                "sha256": hashlib.sha256(text.encode("utf-8")).hexdigest(),
                "outputs": [json.loads(r) for r in
                            sorted({json.dumps(r) for r in rows})],
            }
    return pins


def _dump_grid(pins: dict) -> str:
    """The pins as JSON with one output record per line."""
    lines = ["{"]
    for i, (key, pin) in enumerate(pins.items()):
        outputs = ",\n".join(f"   {json.dumps(r)}" for r in pin["outputs"])
        lines.append(f' {json.dumps(key)}: {{"sha256": "{pin["sha256"]}", '
                     f'"outputs": [\n{outputs}\n ]}}'
                     + ("," if i < len(pins) - 1 else ""))
    return "\n".join(lines + ["}"]) + "\n"


def test_mapping_grid_matches_golden():
    with open(GOLDEN_GRID, encoding="utf-8") as f:
        want = json.load(f)
    assert _grid_pins() == want
