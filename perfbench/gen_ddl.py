"""Seeded DDL corpus for the ``ddl_requests`` workload.

Why this input: the schema plane (``ddl`` parse, ``mapping``, ``assess``,
``convert``, ``report_pdf`` and the Spark ``catalog`` pass) is driven by
DDL text alone, and its cost depends on how many tables a script holds.
Real inputs are mostly small hand-written scripts plus the occasional
db2look export of a whole database, so script sizes here are heavy-tailed:
most scripts hold 1-60 tables, and one in ten is an export with hundreds
to thousands of tables (``export_tables``), one ``ALTER TABLE ... ADD
CONSTRAINT ... PRIMARY KEY`` per table and range-partition ``ALTER``s. A per-table cost change moves
the median request; a per-script superlinear cost moves the tail. About
15% of the scripts are Snowflake-Standard DDL for the second converter.

Every DB2 type family, every mapping rule branch (including the lossy size
limits) and every column/table modifier the parser knows appears in every
run. The size mix (tables per script, columns per table) is fixed and only
the content is drawn from the seed, so two seeds give the same amount of
work and the same median request.

``EXPECTED_DB2`` / ``EXPECTED_SF`` give the Iceberg target type of each
generated column type. They are copied from the documented DB2 -> Iceberg
and Snowflake -> Iceberg mappings (SURVEY.md section 1.4, FIXTURES.md), not
computed with the engine's ``mapping`` module, so the output check is
independent of the code it checks.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# (DB2 column type text, documented Iceberg target type)
EXPECTED_DB2: tuple[tuple[str, str], ...] = (
    ("SMALLINT", "INTEGER"),
    ("INTEGER", "INTEGER"),
    ("INT", "INTEGER"),
    ("BIGINT", "BIGINT"),
    ("REAL", "FLOAT"),
    ("DOUBLE", "DOUBLE"),
    ("DATE", "DATE"),
    ("BOOLEAN", "BOOLEAN"),
    ("DECIMAL(15,2)", "NUMBER(15,2)"),
    ("DEC(9,3)", "NUMBER(9,3)"),
    ("NUMERIC(31,8)", "NUMBER(31,8)"),
    ("DECIMAL", "NUMBER(5,0)"),
    ("DECIMAL(40,2)", "NUMBER(38,2)"),
    ("FLOAT", "FLOAT"),
    ("FLOAT(21)", "FLOAT"),
    ("FLOAT(53)", "DOUBLE"),
    ("DECFLOAT(16)", "DOUBLE"),
    ("DECFLOAT(34)", "DOUBLE"),
    ("CHAR(10)", "STRING"),
    ("CHARACTER(3)", "STRING"),
    ("VARCHAR(100)", "STRING"),
    ("CHARACTER VARYING(40)", "STRING"),
    ("CHAR VARYING(20)", "STRING"),
    ("VARCHAR(20000000)", "STRING"),
    ("LONG VARCHAR", "STRING"),
    ("CLOB(1048576)", "STRING"),
    ("CLOB(200000000)", "STRING"),
    ("GRAPHIC(10)", "STRING"),
    ("VARGRAPHIC(100)", "STRING"),
    ("LONG VARGRAPHIC", "STRING"),
    ("DBCLOB(1000)", "STRING"),
    ("DBCLOB(200000000)", "STRING"),
    ("BINARY(16)", "BINARY"),
    ("BINARY(9000000)", "BINARY"),
    ("VARBINARY(256)", "BINARY"),
    ("VARBINARY(9000000)", "BINARY"),
    ("BINARY VARYING(64)", "BINARY"),
    ("BLOB(102400)", "BINARY"),
    ("BLOB(200000000)", "BINARY"),
    ("CHAR(16) FOR BIT DATA", "BINARY"),
    ("VARCHAR(64) FOR BIT DATA", "BINARY"),
    ("TIME", "TIME(6)"),
    ("TIME(6)", "TIME(6)"),
    ("TIMESTAMP", "TIMESTAMP_NTZ(6)"),
    ("TIMESTAMP(6)", "TIMESTAMP_NTZ(6)"),
    ("TIMESTAMP(12)", "TIMESTAMP_NTZ(6)"),
    ("XML", "STRING"),
    ("ROWID", "STRING"),
)

# (Snowflake column type text, documented Iceberg target type)
EXPECTED_SF: tuple[tuple[str, str], ...] = (
    ("NUMBER(38,0)", "NUMBER(38,0)"),
    ("NUMBER(12,2)", "NUMBER(12,2)"),
    ("INTEGER", "INTEGER"),
    ("FLOAT", "FLOAT"),
    ("VARCHAR(200)", "VARCHAR(200)"),
    ("STRING", "STRING"),
    ("BOOLEAN", "BOOLEAN"),
    ("DATE", "DATE"),
    ("BINARY(16)", "BINARY(16)"),
    ("TIME", "TIME(6)"),
    ("TIME(9)", "TIME(6)"),
    ("TIMESTAMP", "TIMESTAMP_NTZ(6)"),
    ("TIMESTAMP_NTZ(9)", "TIMESTAMP_NTZ(6)"),
    ("TIMESTAMP_LTZ(3)", "TIMESTAMP_LTZ(6)"),
    ("TIMESTAMP_TZ", "TIMESTAMP_LTZ(6)"),
    ("DATETIME", "TIMESTAMP_NTZ(6)"),
    ("VARIANT", "VARCHAR"),
    ("OBJECT", "VARCHAR"),
    ("ARRAY", "VARCHAR"),
    ("GEOGRAPHY", "VARCHAR"),
    ("GEOMETRY", "VARCHAR"),
)

# Column modifiers. FIELDPROC and GENERATED change the readiness score.
_DB2_MODIFIERS = ("", "", "", " NOT NULL", " DEFAULT 0", " WITH DEFAULT",
                  " NOT NULL GENERATED ALWAYS AS IDENTITY",
                  " GENERATED BY DEFAULT AS IDENTITY",
                  " FIELDPROC ENCRYPT_FLD", " CCSID 1208")
_SF_MODIFIERS = ("", "", " NOT NULL", " DEFAULT 0", " IDENTITY(1,1)",
                 " AUTOINCREMENT", " COLLATE 'en-ci'",
                 " WITH MASKING POLICY MASK_PII", " COMMENT 'note'")

# Size mix per 20 scripts: 3 Snowflake scripts, 2 db2look exports and 15
# hand-written DB2 scripts with a heavy-tailed table count.
_SMALL_SIZES = (1, 1, 2, 2, 3, 3, 4, 5, 6, 8, 10, 14, 20, 32, 60)
_SF_SIZES = (2, 5, 12)


@dataclass
class Script:
    """One DDL request: its text and what a correct parse must find."""
    dialect: str                    # "db2" or "snowflake"
    text: str
    kind: str                       # "small", "export" or "snowflake"
    # per table: (schema, name, is_temporary, [expected target per column])
    tables: list[tuple[str, str, bool, list[str]]] = field(default_factory=list)

    @property
    def n_tables(self) -> int:
        return len(self.tables)

    @property
    def n_columns(self) -> int:
        return sum(len(t[3]) for t in self.tables)


def _db2_table(rng: random.Random, schema: str, name: str, n_cols: int,
               type_cursor: list[int], export: bool, refs: list[str],
               ) -> tuple[str, bool, list[str], list[str]]:
    """One CREATE statement; returns (text, is_temp, targets, extra stmts)."""
    cols, targets = [], []
    for i in range(n_cols):
        src, target = EXPECTED_DB2[type_cursor[0] % len(EXPECTED_DB2)]
        type_cursor[0] += 1 + rng.randrange(3)
        mod = rng.choice(_DB2_MODIFIERS)
        if "FOR BIT DATA" in src and "CCSID" in mod:
            mod = ""
        cols.append(f"    C{i:03d}_{name[-4:]} {src}{mod}")
        targets.append(target)
    extra: list[str] = []
    constraints: list[str] = []
    roll = rng.random()
    if not export:
        if roll < 0.35:
            constraints.append(f"    PRIMARY KEY (C000_{name[-4:]})")
        if refs and rng.random() < 0.3:
            ref = rng.choice(refs)
            constraints.append(
                f"    CONSTRAINT FK_{name} FOREIGN KEY (C000_{name[-4:]}) "
                f"REFERENCES {ref} (C000_{ref[-4:]})")
        if rng.random() < 0.2:
            constraints.append(f"    UNIQUE (C000_{name[-4:]})")
        if rng.random() < 0.2:
            constraints.append(f"    CONSTRAINT CK_{name} CHECK (C000_{name[-4:]} "
                               "IS NOT NULL)")
    options: list[str] = [f"IN TS_{schema}"]
    if rng.random() < 0.08:
        options.append("EDITPROC EDIT_PROC1")
    if rng.random() < 0.08:
        options.append("VALIDPROC VALID_PROC1")
    if rng.random() < 0.2:
        options.append("AUDIT CHANGES")
    if rng.random() < 0.2:
        options.append("DATA CAPTURE CHANGES")
    if rng.random() < 0.2:
        options.append("CCSID UNICODE")
    if not export and rng.random() < 0.1:
        options.append(f"PARTITION BY HASH (C000_{name[-4:]})")
    elif not export and rng.random() < 0.15:
        options.append(f"PARTITION BY RANGE (C000_{name[-4:]})")
    temp = False
    head = f"CREATE TABLE {schema}.{name}"
    if not export and rng.random() < 0.05:
        head, temp = f"CREATE VOLATILE TABLE {schema}.{name}", True
    elif not export and rng.random() < 0.05:
        head, temp = f"DECLARE GLOBAL TEMPORARY TABLE SESSION.{name}", True
    body = ",\n".join(cols + constraints)
    text = f"{head} (\n{body}\n) {' '.join(options)};"
    if not export and not temp and rng.random() < 0.1:
        extra.append(f"DISTRIBUTE BY HASH (C000_{name[-4:]});")
    if export:
        extra.append(f"ALTER TABLE {schema}.{name} ADD CONSTRAINT PK_{name} "
                     f"PRIMARY KEY (C000_{name[-4:]});")
        if rng.random() < 0.1:
            extra.append(f"ALTER TABLE {schema}.{name} PARTITION BY RANGE "
                         f"(C000_{name[-4:]});")
    return text, temp, targets, extra


def _db2_script(rng: random.Random, idx: int, n_tables: int,
                export: bool) -> Script:
    schema = f"S{idx:04d}"
    script = Script("db2", "", "export" if export else "small")
    parts: list[str] = []
    trailer: list[str] = []
    if export:
        parts.append(f"-- db2look export of database DB{idx:04d}\n"
                     "CONNECT TO DB;")
    refs: list[str] = []
    cursor = [rng.randrange(len(EXPECTED_DB2))]
    for t in range(n_tables):
        name = f"T{idx:04d}_{t:04d}"
        n_cols = 3 + t % 10
        text, temp, targets, extra = _db2_table(
            rng, schema, name, n_cols, cursor, export, refs)
        parts.append(text)
        (trailer if export else parts).extend(extra)
        tschema = "SESSION" if text.startswith("DECLARE") else schema
        script.tables.append((tschema, name, temp, targets))
        refs.append(f"{schema}.{name}")
    script.text = "\n\n".join(parts + trailer) + "\n"
    return script


def _sf_script(rng: random.Random, idx: int, n_tables: int) -> Script:
    script = Script("snowflake", "", "snowflake")
    parts: list[str] = []
    cursor = rng.randrange(len(EXPECTED_SF))
    for t in range(n_tables):
        name = f"SF{idx:04d}_{t:03d}"
        cols, targets = [], []
        for i in range(3 + t % 8):
            src, target = EXPECTED_SF[cursor % len(EXPECTED_SF)]
            cursor += 1 + rng.randrange(2)
            cols.append(f"    C{i:02d} {src}{rng.choice(_SF_MODIFIERS)}")
            targets.append(target)
        cols.append("    PRIMARY KEY (C00)")
        options = []
        if rng.random() < 0.3:
            options.append("CLUSTER BY (C00)")
        if rng.random() < 0.3:
            options.append("DATA_RETENTION_TIME_IN_DAYS = 7")
        if rng.random() < 0.3:
            options.append("CHANGE_TRACKING = TRUE")
        if rng.random() < 0.3:
            options.append("COMMENT = 'generated'")
        body = ",\n".join(cols)
        parts.append(f"CREATE OR REPLACE TABLE ANALYTICS.PUBLIC.{name} (\n"
                     f"{body}\n) {' '.join(options)};")
        script.tables.append(("PUBLIC", name, False, targets))
    script.text = "\n\n".join(parts) + "\n"
    return script


def make_corpus(seed: int, n_scripts: int, export_tables: int) -> list[Script]:
    """``n_scripts`` scripts (a multiple of 20 keeps the size mix exact)."""
    rng = random.Random(seed)
    kinds: list[tuple[str, int]] = []
    while len(kinds) < n_scripts:
        block = ([("small", n) for n in _SMALL_SIZES]
                 + [("snowflake", n) for n in _SF_SIZES]
                 + [("export", export_tables), ("export", export_tables)])
        rng.shuffle(block)
        kinds.extend(block)
    out = []
    for idx, (kind, n) in enumerate(kinds[:n_scripts]):
        if kind == "snowflake":
            out.append(_sf_script(rng, idx, n))
        else:
            out.append(_db2_script(rng, idx, n, export=kind == "export"))
    return out
